"""Seeded corpus generator of the benchmark.

Blows each table of the committed base corpus (perfbench/base, the sf0.01
tables) up by its own number of replicas with graft.Bench.buildSf1's
offset-and-perturb recipe and writes the standard <dir>/<table>.parquet
layout, so the registry's oracle SQL runs unchanged on the result. Each
blown table is split into at least `files` files of contiguous rows (the
caller passes nproc), so a scan stage gets a task for every core of
local[nproc].

The seed chooses the perturbations, never the sizes: replica i shifts its
keys by stride * mult(i) and tags its documents with " v<mult(i)>", where
mult(0) = 0 and the other multipliers are distinct values drawn from
[1, 1000). Embedding replicas rotate by a distinct seeded shift in [1, 64).
Replica 0 is the base corpus itself, so every foreign key that buildSf1
leaves un-shifted (o_custkey, l_suppkey) still matches, and each replica's
join fan-out is the base's. Tables the recipe leaves as they are (the TPC-H
dimensions) are copied.
"""
import os
import random
import shutil

import duckdb

KEY_STRIDES = {
    "lineitem": {"l_orderkey": 1000000000, "l_partkey": 1000000},
    "orders": {"o_orderkey": 1000000000},
    "part": {"p_partkey": 1000000},
    "customer": {"c_custkey": 10000000},
}
ID_STRIDE = 1000000  # documents.doc_id, embeddings.vec_id


def perturbation(seed, factor):
    if not 1 <= factor < 64:
        raise ValueError(f"factor must be in [1, 64), got {factor}")
    rnd = random.Random(seed)
    mults = [0] + rnd.sample(range(1, 1000), factor - 1)
    shifts = [0] + rnd.sample(range(1, 64), factor - 1)
    return mults, shifts


def _replica_sql(con, src, table, m, shift, part, parts, n_rows):
    cols = [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM read_parquet('{src}')").fetchall()]
    out = []
    for c in cols:
        if table == "documents" and c == "doc_id" or table == "embeddings" and c == "vec_id":
            e = f"{c} + {m * ID_STRIDE}::BIGINT"
        elif table == "documents" and c == "text" and m:
            e = f"{c} || ' v{m}'"
        elif table == "embeddings" and c == "embedding" and shift:
            e = f"list_concat({c}[{shift + 1}:len({c})], {c}[1:{shift}])"
        elif c in KEY_STRIDES.get(table, {}):
            e = f"{c} + {m * KEY_STRIDES[table][c]}::BIGINT"
        else:
            e = c
        out.append(f"{e} AS {c}")
    return (f"SELECT {', '.join(out)} FROM read_parquet('{src}', file_row_number = true) "
            f"WHERE file_row_number * {parts} // {n_rows} = {part} ORDER BY file_row_number")


def build(base, out, seed, tables, files=1):
    """Write each table of `tables` (name -> replicas) under `out`, each
    blown one as at least `files` files."""
    mults, shifts = perturbation(seed, max(tables.values()))
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    try:
        for t, factor in sorted(tables.items()):
            src = os.path.join(base, f"{t}.parquet")
            dst = os.path.join(out, f"{t}.parquet")
            if t not in KEY_STRIDES and t not in ("documents", "embeddings"):
                shutil.copyfile(src, dst)
                continue
            os.makedirs(dst)
            parts = -(-files // factor)  # files per replica
            n_rows = con.execute(f"SELECT count(*) FROM read_parquet('{src}')").fetchone()[0]
            for i in range(factor):
                for p in range(parts):
                    sql = _replica_sql(con, src, t, mults[i], shifts[i], p, parts, n_rows)
                    con.execute(f"COPY ({sql}) TO '{dst}/part-{i:03d}-{p:03d}.parquet' "
                                "(FORMAT parquet)")
    finally:
        con.close()


def parquet_glob(path):
    return os.path.join(path, "*.parquet") if os.path.isdir(path) else path


def tables_in(corpus):
    return sorted(t[:-len(".parquet")] for t in os.listdir(corpus) if t.endswith(".parquet"))


def _scan(corpus, t):
    return f"read_parquet('{parquet_glob(os.path.join(corpus, t + '.parquet'))}')"


def rows(corpus):
    con = duckdb.connect()
    try:
        return {t: con.execute(f"SELECT count(*) FROM {_scan(corpus, t)}").fetchone()[0]
                for t in tables_in(corpus)}
    finally:
        con.close()


def digest(corpus):
    """Order-independent digest of every table: the bit-xor of each row's
    hash, folded over tables in name order."""
    con = duckdb.connect()
    try:
        acc = 17
        for t in tables_in(corpus):
            cols = [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM {_scan(corpus, t)}").fetchall()]
            h = con.execute(f"SELECT bit_xor(hash({', '.join(cols)})) FROM {_scan(corpus, t)}").fetchone()[0]
            acc = (acc * 31 + h) % (1 << 64)
        return acc
    finally:
        con.close()
