#!/usr/bin/env python3
"""The benchmark's self-tests: corpus digests per seed here, then (built
like run.py) graft.perfbench.SelfTest for the self-time arithmetic on
nested spans and a throwing op counted as a failure while the run still
reports. Usage, from the root of a checkout: python3 perfbench/selftest.py
"""
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import corpus  # noqa: E402
import run  # noqa: E402


def corpus_digests(work):
    """Same seed, same corpus digest; another seed, another digest; sizes
    never depend on the seed."""
    tables = {"customer": 3, "documents": 3, "embeddings": 3, "nation": 1}
    out = {}
    for seed, tag in ((1, "a"), (1, "b"), (2, "c")):
        d = os.path.join(work, f"corpus-{tag}")
        corpus.build(run.BASE, d, seed, tables)
        out[tag] = (corpus.digest(d), corpus.rows(d))
    failed = 0
    for what, ok in (("corpus: same seed, same digest", out["a"][0] == out["b"][0]),
                     ("corpus: other seed, other digest", out["a"][0] != out["c"][0]),
                     ("corpus: sizes do not depend on the seed", out["a"][1] == out["c"][1])):
        print(f"{'ok  ' if ok else 'FAIL'} {what}")
        failed += not ok
    return failed


def main():
    cp = build.build()
    work = os.path.join(run.WORK, f"selftest-{os.getpid()}")
    cmd = run.java_cmd(cp, work, "graft.perfbench.SelfTest", [work])
    try:
        failed = corpus_digests(work)
        code = subprocess.run(cmd, cwd=work, stderr=subprocess.DEVNULL).returncode
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(1 if failed or code else 0)


if __name__ == "__main__":
    main()
