package graft

import graft.core.{DDF, DDFManager}
import graft.operators._
import graft.stats.{Sketches, Stats}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared infrastructure for the SparkEntry query registry, split out
  * of the 8.8k-line SparkEntry.scala by family (r15 verdict ask #7):
  * the manager/table plumbing, the Q row type, and every cross-family
  * helper (determinism-safe sums, TPC-H SQL texts, DuckDB oracle
  * transliteration builders, synthetic corpus/URL/HTML generators).
  * Behavior is unchanged; [[SparkEntry]] still composes the pinned
  * `queries`/`oracleSql` maps.
  */
private[graft] object EntryShared {

  private[graft] val tableNames = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "documents", "embeddings")

  private[graft] val mgrCache = scala.collection.concurrent.TrieMap.empty[String, DDFManager]
  // Temp views are SESSION-global while managers are per-(session, dir):
  // a manager built for another dir repoints the shared view names, so
  // every sql2ddf query would silently read the other dir's parquet.
  // Track the session's active dir and re-register (cheap — lazy plans,
  // no data read) whenever it changes.
  private[graft] val activeDir = scala.collection.concurrent.TrieMap.empty[Int, String]

  private[graft] def registerTables(spark: SparkSession, m: DDFManager, dir: String): Unit = {
    tableNames.foreach(t => m.loadParquet(s"$dir/$t.parquet", t))
    m.register(loadEvents(spark, dir), "events")
  }

  /** events.parquet with `ts` normalized to session-TZ TimestampType.
    * The driver's generator has shipped the column as TIMESTAMP(NANOS)
    * (Spark 4 reads it as long under `nanosAsLong`) and as TIMESTAMP_NTZ
    * micros across rounds — adapt on the OBSERVED type so a generator
    * schema change never breaks analysis again (round 7's bench died on
    * `ts div 1000` over NTZ). Session TZ is UTC everywhere, so the
    * NTZ→TZ cast preserves wall-clock values bit-exactly vs DuckDB's
    * naive TIMESTAMP reading of the same file.
    */
  private[graft] def loadEvents(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val raw = spark.read.parquet(s"$dir/events.parquet")
    raw.schema("ts").dataType match {
      case LongType       => raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType  => raw
      case other => throw new IllegalStateException(
        s"events.ts: unexpected parquet type $other")
    }
  }

  private[graft] def mgr(spark: SparkSession, dir: String): DDFManager = {
    val m = mgrCache.getOrElseUpdate(s"${spark.hashCode}|$dir", {
      // events.parquet carries TIMESTAMP(NANOS) which Spark 4 rejects by
      // default; read nanos as long and rebuild a (µs) TimestampType col.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      DDFManager(spark)
    })
    // covers first use AND dir switches in one place
    if (!activeDir.get(spark.hashCode).contains(dir)) {
      registerTables(spark, m, dir)
      activeDir(spark.hashCode) = dir
    }
    m
  }

  /** Materialize a SMALL result (gate rows are ≤ a few hundred rows)
    * into a local-relation frame and delete the query's temp workspace —
    * the lazily-returned frame must not dangle over deleted parquet, and
    * repeated Verify runs must not accrete stream/publish scratch dirs.
    */
  private[graft] def collectAndClean(s: SparkSession, df: DataFrame, tmp: String): DataFrame = {
    val rows = df.collect().toIndexedSeq
    tools.Cleanup.deleteRecursively(tmp)
    s.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      df.schema)
  }

  /** Scratch workspace for queries that round-trip through disk (the
    * publish/stream gates). The success path ends in [[collectAndClean]],
    * which deletes the dir after materializing; this wrapper deletes it
    * when the body THROWS instead, so repeated failing Verify runs do
    * not accrete /tmp workspaces.
    */
  private[graft] def withScratch(prefix: String)(body: String => DataFrame): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory(prefix).toString
    try body(tmp)
    catch { case e: Throwable => tools.Cleanup.deleteRecursively(tmp); throw e }
  }

  /** Exact 2-decimal sum, identical in Spark and DuckDB. */
  private[graft] def dsum(c: Column): Column = sum(c.cast("decimal(18,2)")).cast("double")
  private[graft] def dsumSql(c: String): String = s"cast(sum(cast($c as decimal(18,2))) as double)"
  /** Exact 4-decimal sum of a product of two 2-decimal columns. */
  private[graft] def dsum2(a: Column, b: Column): Column =
    sum((a.cast("decimal(18,2)") * b.cast("decimal(18,2)")).cast("decimal(38,4)")).cast("double")
  private[graft] def dsum2Sql(a: String, b: String): String =
    s"cast(sum(cast(cast($a as decimal(18,2)) * cast($b as decimal(18,2)) as decimal(38,4))) as double)"

  /** Higher moments derived from EXACT integer power sums — engine
    * skewness/kurtosis aggregates disagree on correction factors, so
    * both sides run this ONE string: quantity → exact centi-units
    * (k ≤ 5000, k⁴ ≤ 6.25e14 — no bigint overflow), decimal(38,0) sums,
    * then identical double arithmetic. Population moments; skew/kurt are
    * scale-invariant so centi-units need no rescale.
    */
  private[graft] val momentsSql: String =
    """WITH kk AS (SELECT CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS k
      |           FROM lineitem),
      |s AS (SELECT count(*) AS n,
      |  CAST(sum(CAST(k AS DECIMAL(38,0))) AS DOUBLE) / count(*) AS m1,
      |  CAST(sum(CAST(k*k AS DECIMAL(38,0))) AS DOUBLE) / count(*) AS m2,
      |  CAST(sum(CAST(k*k*k AS DECIMAL(38,0))) AS DOUBLE) / count(*) AS m3,
      |  CAST(sum(CAST(k*k*k*k AS DECIMAL(38,0))) AS DOUBLE) / count(*) AS m4
      |  FROM kk)
      |SELECT n, round(m1 / 100, 6) AS mean,
      |  round((m2 - m1*m1) / 10000, 6) AS variance,
      |  round((m3 - 3*m1*m2 + 2*m1*m1*m1)
      |        / sqrt((m2 - m1*m1)*(m2 - m1*m1)*(m2 - m1*m1)), 6) AS skewness,
      |  round((m4 - 4*m1*m3 + 6*m1*m1*m2 - 3*m1*m1*m1*m1)
      |        / ((m2 - m1*m1)*(m2 - m1*m1)) - 3, 6) AS excess_kurtosis
      |FROM s""".stripMargin

  /** TPC-H Q3 shape — ONE string run by both Spark and DuckDB. */
  private[graft] val tpchQ3Sql: String =
    s"""select l_orderkey, ${dsum2Sql("l_extendedprice", "1 - l_discount")} as revenue,
       |  o_orderdate, o_orderpriority
       |from customer
       |join orders on c_custkey = o_custkey
       |join lineitem on l_orderkey = o_orderkey
       |where c_mktsegment = 'BUILDING'
       |  and o_orderdate < timestamp '1997-06-01 00:00:00'
       |  and l_shipdate > timestamp '1997-06-01 00:00:00'
       |group by l_orderkey, o_orderdate, o_orderpriority
       |order by revenue desc, o_orderdate, l_orderkey
       |limit 10""".stripMargin

  /** TPC-H Q5 shape (local-supplier 6-way join): the one query pattern
    * that exercises a two-condition join (l_suppkey = s_suppkey AND
    * c_nationkey = s_nationkey) plus the full dim chain to region.
    * Revenue through the exact decimal sum; n_name makes the order total.
    */
  private[graft] val tpchQ5Sql: String =
    s"""select n_name, ${dsum2Sql("l_extendedprice", "1 - l_discount")} as revenue
       |from customer
       |join orders on c_custkey = o_custkey
       |join lineitem on l_orderkey = o_orderkey
       |join supplier on l_suppkey = s_suppkey and c_nationkey = s_nationkey
       |join nation on s_nationkey = n_nationkey
       |join region on n_regionkey = r_regionkey
       |where r_name = 'ASIA'
       |  and o_orderdate >= timestamp '1996-01-01 00:00:00'
       |  and o_orderdate < timestamp '1997-01-01 00:00:00'
       |group by n_name
       |order by revenue desc, n_name""".stripMargin

  /** TPC-H Q6 shape (pure filter + aggregate — the pushdown showcase:
    * every predicate reaches the parquet scan, zero joins, one scalar).
    */
  private[graft] val tpchQ6Sql: String =
    s"""select ${dsum2Sql("l_extendedprice", "l_discount")} as revenue
       |from lineitem
       |where l_shipdate >= timestamp '1996-01-01 00:00:00'
       |  and l_shipdate < timestamp '1997-01-01 00:00:00'
       |  and l_discount between 0.05 and 0.07
       |  and l_quantity < 24""".stripMargin

  /** TPC-H Q10 shape (returned-item report): fact→dim join chain with a
    * selective fact filter, high-cardinality group-by, deterministic
    * top-20.
    */
  private[graft] val tpchQ10Sql: String =
    s"""select c_custkey, c_name, ${dsum2Sql("l_extendedprice", "1 - l_discount")} as revenue,
       |  c_acctbal, n_name
       |from customer
       |join orders on c_custkey = o_custkey
       |join lineitem on l_orderkey = o_orderkey
       |join nation on c_nationkey = n_nationkey
       |where l_returnflag = 'R'
       |  and o_orderdate >= timestamp '1996-01-01 00:00:00'
       |  and o_orderdate < timestamp '1996-04-01 00:00:00'
       |group by c_custkey, c_name, c_acctbal, n_name
       |order by revenue desc, c_custkey
       |limit 20""".stripMargin

  /** TPC-H Q4 shape (order-priority check): correlated EXISTS subquery —
    * the reference grammar has NO subqueries at all (SURVEY §4.1), so
    * this documents the dialect's Spark-SQL superset explicitly.
    */
  private[graft] val tpchQ4Sql: String =
    s"""select o_orderpriority, count(*) as order_count
       |from orders
       |where o_orderdate >= timestamp '1996-01-01 00:00:00'
       |  and o_orderdate < timestamp '1996-04-01 00:00:00'
       |  and exists (select 1 from lineitem
       |              where l_orderkey = o_orderkey and l_shipdate > o_orderdate)
       |group by o_orderpriority
       |order by o_orderpriority""".stripMargin

  /** TPC-H Q14 shape (promo revenue): conditional aggregation over a
    * fact→part join — a ratio of two exact decimal sums, one double
    * division at the end, so the scalar is bit-identical across engines.
    * (The fixture's p_type domain is single words; 'PROMO' is the TPC-H
    * 'PROMO%' prefix class.)
    */
  private[graft] val tpchQ14Sql: String =
    s"""select round(100.00 * ${dsum2Sql("case when p_type = 'PROMO' then l_extendedprice else 0 end", "1 - l_discount")}
       |  / ${dsum2Sql("l_extendedprice", "1 - l_discount")}, 6) as promo_revenue
       |from lineitem
       |join part on l_partkey = p_partkey
       |where l_shipdate >= timestamp '1996-01-01 00:00:00'
       |  and l_shipdate < timestamp '1996-03-01 00:00:00'""".stripMargin

  /** TPC-H Q17 shape (small-quantity-order revenue): correlated SCALAR
    * subquery — per-part average quantity gate. The subquery's avg is
    * over integral-valued doubles (exact in any order), the outer sum is
    * decimal — deterministic on both engines. Second subquery pattern
    * beyond Q4's EXISTS (reference grammar has neither).
    */
  private[graft] val tpchQ17Sql: String =
    s"""select round(${dsumSql("l_extendedprice")} / 7.0, 6) as avg_yearly
       |from lineitem
       |join part on p_partkey = l_partkey
       |where p_brand = 'Brand#4'
       |  and l_quantity < (select 0.2 * avg(l2.l_quantity)
       |                    from lineitem l2 where l2.l_partkey = p_partkey)""".stripMargin

  /** TPC-H Q18 shape (large-volume customers): IN over a grouped HAVING
    * subquery feeding a 3-way join and re-aggregation; top-20 by total
    * price with a key tiebreak. sum(l_quantity) is integral-double —
    * order-independent.
    */
  private[graft] val tpchQ18Sql: String =
    s"""select c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
       |  sum(l_quantity) as sum_qty
       |from customer
       |join orders on c_custkey = o_custkey
       |join lineitem on o_orderkey = l_orderkey
       |where o_orderkey in (select l_orderkey from lineitem
       |                     group by l_orderkey having sum(l_quantity) > 150)
       |group by c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
       |order by o_totalprice desc, o_orderkey
       |limit 20""".stripMargin

  /** TPC-H Q19 shape (discounted revenue): disjunctive OR-of-ANDs join
    * predicates mixing both sides' columns — the pattern that exercises
    * Catalyst's CNF conversion for partial pushdown below the join.
    */
  private[graft] val tpchQ19Sql: String =
    s"""select ${dsum2Sql("l_extendedprice", "1 - l_discount")} as revenue
       |from lineitem
       |join part on p_partkey = l_partkey
       |where (p_brand = 'Brand#1' and p_size between 1 and 15 and l_quantity between 1 and 11)
       |   or (p_brand = 'Brand#12' and p_size between 10 and 30 and l_quantity between 10 and 20)
       |   or (p_brand = 'Brand#3' and p_size between 20 and 50 and l_quantity between 20 and 30)""".stripMargin

  /** TPC-H Q22 shape (global sales opportunity): uncorrelated scalar AVG
    * subquery gating + NOT EXISTS anti-join + re-aggregation. The
    * threshold is one exact decimal sum ÷ count (a single double
    * division, identical cross-engine); measured margin of the nearest
    * c_acctbal to the threshold: 6.72 at sf0.01 vs ~1e-12 fp noise. The
    * NOT EXISTS is restricted to urgent orders so the anti-join is
    * non-vacuous on the dense synthetic orders table.
    */
  private[graft] val tpchQ22Sql: String =
    s"""select c_nationkey, count(*) as numcust,
       |  ${dsumSql("c_acctbal")} as totacctbal
       |from customer c
       |where c_acctbal > (select ${dsumSql("c_acctbal")} / count(*)
       |                   from customer where c_acctbal > 0.0)
       |  and not exists (select 1 from orders o
       |                  where o.o_custkey = c.c_custkey
       |                    and o.o_orderpriority = '1-URGENT')
       |group by c_nationkey
       |order by c_nationkey""".stripMargin

  /** TPC-H Q15 shape (top supplier): CTE reused twice (the revenue view
    * feeds both the join and the scalar MAX subquery) — revenues are
    * exact decimal sums, so the equality against max() is exact;
    * measured: single max holder at sf0.01, no tie.
    */
  private[graft] val tpchQ15Sql: String =
    s"""with revenue as (
       |  select l_suppkey, ${dsum2Sql("l_extendedprice", "1 - l_discount")} as total_rev
       |  from lineitem
       |  where l_shipdate >= timestamp '1996-01-01 00:00:00'
       |    and l_shipdate < timestamp '1996-04-01 00:00:00'
       |  group by l_suppkey)
       |select s_suppkey, s_name, total_rev
       |from supplier join revenue on s_suppkey = l_suppkey
       |where total_rev = (select max(total_rev) from revenue)
       |order by s_suppkey""".stripMargin

  /** TPC-H Q7 shape (volume shipping): 6-way join with TWO roles of the
    * same dimension (nation as supplier-side n1 and customer-side n2),
    * symmetric OR pair predicate, year extraction, exact decimal revenue.
    */
  private[graft] val tpchQ7Sql: String =
    s"""select supp_nation, cust_nation, l_year,
       |  ${dsum2Sql("l_extendedprice", "1 - l_discount")} as revenue
       |from (
       |  select n1.n_name as supp_nation, n2.n_name as cust_nation,
       |    year(l_shipdate) as l_year, l_extendedprice, l_discount
       |  from lineitem
       |    join orders on o_orderkey = l_orderkey
       |    join customer on c_custkey = o_custkey
       |    join supplier on s_suppkey = l_suppkey
       |    join nation n1 on s_nationkey = n1.n_nationkey
       |    join nation n2 on c_nationkey = n2.n_nationkey
       |  where ((n1.n_name = 'NATION_1' and n2.n_name = 'NATION_2')
       |      or (n1.n_name = 'NATION_2' and n2.n_name = 'NATION_1'))
       |    and l_shipdate between timestamp '1995-01-01 00:00:00'
       |                       and timestamp '1996-12-31 23:59:59'
       |) shipping
       |group by supp_nation, cust_nation, l_year
       |order by supp_nation, cust_nation, l_year""".stripMargin

  /** TPC-H Q8 shape (national market share): 8-way join through region,
    * conditional share = one exact decimal sum over another, single
    * double division (deterministic cross-engine).
    */
  private[graft] val tpchQ8Sql: String =
    s"""with all_nations as (
       |  select year(o_orderdate) as o_year,
       |    cast(cast(l_extendedprice as decimal(18,2))
       |         * cast(1 - l_discount as decimal(18,2)) as decimal(38,4)) as volume,
       |    n2.n_name as nation
       |  from lineitem
       |    join part on p_partkey = l_partkey
       |    join orders on o_orderkey = l_orderkey
       |    join customer on c_custkey = o_custkey
       |    join nation n1 on c_nationkey = n1.n_nationkey
       |    join region on n1.n_regionkey = r_regionkey
       |    join supplier on s_suppkey = l_suppkey
       |    join nation n2 on s_nationkey = n2.n_nationkey
       |  where r_name = 'AMERICA' and p_type = 'PROMO'
       |    and o_orderdate between timestamp '1995-01-01 00:00:00'
       |                        and timestamp '1996-12-31 23:59:59')
       |select o_year,
       |  cast(sum(case when nation = 'NATION_1' then volume
       |                else cast(0 as decimal(38,4)) end) as double)
       |    / cast(sum(volume) as double) as mkt_share
       |from all_nations group by o_year order by o_year""".stripMargin

  /** TPC-H Q12 shape (shipping priority classes): join + CASE-bucketed
    * integer counts. Adapted: the testdata carries no l_shipmode /
    * l_receiptdate, so the group key is l_returnflag and the date gate
    * is l_shipdate — the shape (conditional aggregation over a
    * fact-dimension join) is unchanged.
    */
  private[graft] val tpchQ12Sql: String =
    """select l_returnflag,
      |  cast(sum(case when o_orderpriority = '1-URGENT' or o_orderpriority = '2-HIGH'
      |           then 1 else 0 end) as bigint) as high_line_count,
      |  cast(sum(case when o_orderpriority <> '1-URGENT' and o_orderpriority <> '2-HIGH'
      |           then 1 else 0 end) as bigint) as low_line_count
      |from orders join lineitem on o_orderkey = l_orderkey
      |where l_shipdate >= timestamp '1996-01-01 00:00:00'
      |  and l_shipdate < timestamp '1997-01-01 00:00:00'
      |group by l_returnflag order by l_returnflag""".stripMargin

  /** TPC-H Q13 shape (customer order-count distribution): left outer
    * join with an extra ON-clause filter (the reference Q13's comment
    * NOT LIKE, here an orderpriority gate), double aggregation.
    */
  private[graft] val tpchQ13Sql: String =
    """select c_count, count(*) as custdist
      |from (
      |  select c_custkey, count(o_orderkey) as c_count
      |  from customer left outer join orders
      |    on c_custkey = o_custkey and o_orderpriority <> '1-URGENT'
      |  group by c_custkey
      |) c_orders
      |group by c_count
      |order by custdist desc, c_count desc""".stripMargin

  /** TPC-H Q21 shape (suppliers who kept waiting): correlated EXISTS
    * (another supplier contributed to the order) + correlated NOT EXISTS
    * (no OTHER supplier was late on it). Adapted: "late" is
    * l_shipdate > o_orderdate + 60 days (no l_receiptdate/l_commitdate
    * in the testdata); the decorrelation shape — two more anti/semi
    * joins against the same fact — is the point.
    */
  private[graft] val tpchQ21Sql: String =
    """select s_name, count(*) as numwait
      |from supplier, lineitem l1, orders, nation
      |where s_suppkey = l1.l_suppkey
      |  and o_orderkey = l1.l_orderkey
      |  and o_orderstatus = 'F'
      |  and l1.l_shipdate > o_orderdate + interval 60 day
      |  and exists (select 1 from lineitem l2
      |              where l2.l_orderkey = l1.l_orderkey
      |                and l2.l_suppkey <> l1.l_suppkey)
      |  and not exists (select 1 from lineitem l3, orders o3
      |                  where l3.l_orderkey = l1.l_orderkey
      |                    and o3.o_orderkey = l3.l_orderkey
      |                    and l3.l_suppkey <> l1.l_suppkey
      |                    and l3.l_shipdate > o3.o_orderdate + interval 60 day)
      |  and s_nationkey = n_nationkey
      |  and n_name = 'NATION_3'
      |group by s_name
      |order by numwait desc, s_name""".stripMargin

  /** The fixture has no partsupp table, so the five TPC-H shapes that
    * need one (Q2/Q9/Q11/Q16/Q20) derive it from lineitem's distinct
    * (partkey, suppkey) pairs with ARITHMETIC availqty/supplycost —
    * pure integer functions of the keys, so Spark and DuckDB build the
    * identical table and every downstream comparison is exact.
    * ps_supplycost is (integer % 99999)/100.0: a 2-decimal value whose
    * double form round-trips through decimal(18,2) losslessly.
    */
  private[graft] val partsuppCte: String =
    """partsupp as (
      |  select l_partkey as ps_partkey, l_suppkey as ps_suppkey,
      |    cast((l_partkey * 31 + l_suppkey * 17) % 1000 + 1 as int) as ps_availqty,
      |    cast((l_partkey * 7 + l_suppkey * 13) % 99999 as double) / 100.0 as ps_supplycost
      |  from lineitem group by l_partkey, l_suppkey
      |)""".stripMargin

  /** TPC-H Q2 shape (minimum cost supplier): correlated scalar MIN
    * subquery that itself carries a 3-way dimension join — the deepest
    * decorrelation in the suite. The cost equality is exact (both sides
    * compute the same arithmetic double).
    */
  private[graft] val tpchQ2Sql: String =
    s"""with $partsuppCte
       |select s_acctbal, s_name, n_name, p_partkey, p_name, ps_supplycost
       |from part
       |join partsupp on p_partkey = ps_partkey
       |join supplier on s_suppkey = ps_suppkey
       |join nation on s_nationkey = n_nationkey
       |join region on n_regionkey = r_regionkey
       |where p_size = 15 and p_type = 'STANDARD' and r_name = 'EUROPE'
       |  and ps_supplycost = (select min(ps2.ps_supplycost)
       |      from partsupp ps2
       |      join supplier s2 on s2.s_suppkey = ps2.ps_suppkey
       |      join nation n2 on s2.s_nationkey = n2.n_nationkey
       |      join region r2 on n2.n_regionkey = r2.r_regionkey
       |      where ps2.ps_partkey = p_partkey and r2.r_name = 'EUROPE')
       |order by s_acctbal desc, n_name, s_name, p_partkey
       |limit 100""".stripMargin

  /** TPC-H Q9 shape (product type profit): 6-way join with a profit
    * expression SUBTRACTING two decimal products — kept in decimal(38,4)
    * end to end so the sum is order-independent on both engines.
    */
  private[graft] val tpchQ9Sql: String =
    s"""with $partsuppCte
       |select nation, o_year, cast(sum(amount) as double) as sum_profit
       |from (
       |  select n_name as nation, year(o_orderdate) as o_year,
       |    cast(cast(l_extendedprice as decimal(18,2)) * cast(1 - l_discount as decimal(18,2)) as decimal(38,4))
       |    - cast(cast(ps_supplycost as decimal(18,2)) * cast(l_quantity as decimal(18,2)) as decimal(38,4)) as amount
       |  from lineitem
       |  join part on p_partkey = l_partkey
       |  join partsupp on ps_partkey = l_partkey and ps_suppkey = l_suppkey
       |  join orders on o_orderkey = l_orderkey
       |  join supplier on s_suppkey = l_suppkey
       |  join nation on s_nationkey = n_nationkey
       |  where p_name like '%red%'
       |) profit
       |group by nation, o_year
       |order by nation, o_year desc""".stripMargin

  /** TPC-H Q11 shape (important stock): HAVING over a scalar subquery
    * that re-aggregates the SAME CTE — group value vs a fraction of the
    * grand total. Both sides are exact decimal sums cast to double once;
    * measured data-to-threshold margin ≥ 25.0 at every sf (vs ~1e-9 fp
    * noise on the 1e-4 scaling).
    */
  private[graft] val tpchQ11Sql: String =
    s"""with $partsuppCte,
       |natsupp as (
       |  select ps_partkey, ps_supplycost, ps_availqty
       |  from partsupp join supplier on ps_suppkey = s_suppkey
       |  join nation on s_nationkey = n_nationkey
       |  join region on n_regionkey = r_regionkey
       |  where r_name = 'EUROPE')
       |select ps_partkey,
       |  cast(sum(cast(cast(ps_supplycost as decimal(18,2)) * ps_availqty as decimal(38,2))) as double) as value
       |from natsupp
       |group by ps_partkey
       |having cast(sum(cast(cast(ps_supplycost as decimal(18,2)) * ps_availqty as decimal(38,2))) as double)
       |  > (select cast(sum(cast(cast(ps_supplycost as decimal(18,2)) * ps_availqty as decimal(38,2))) as double) * 0.0001
       |     from natsupp)
       |order by value desc, ps_partkey""".stripMargin

  /** TPC-H Q16 shape (parts/supplier relationship): NOT IN anti-join
    * (null-free key, so no null-aware penalty) + COUNT(DISTINCT) over a
    * multi-attribute group. s_acctbal < 0 stands in for the reference's
    * comment-LIKE supplier blacklist (fixture has no s_comment).
    */
  private[graft] val tpchQ16Sql: String =
    s"""with $partsuppCte
       |select p_brand, p_type, p_size, count(distinct ps_suppkey) as supplier_cnt
       |from partsupp join part on p_partkey = ps_partkey
       |where p_brand <> 'Brand#5' and p_type <> 'PROMO'
       |  and p_size in (1, 5, 10, 15, 20, 25, 30, 35)
       |  and ps_suppkey not in (select s_suppkey from supplier where s_acctbal < 0.0)
       |group by p_brand, p_type, p_size
       |order by supplier_cnt desc, p_brand, p_type, p_size""".stripMargin

  /** TPC-H Q20 shape (potential part promotion): IN-chain nesting three
    * levels deep with a correlated scalar SUM on the innermost —
    * availqty (int) vs half the shipped quantity (integral-double
    * halves; exact on both engines).
    */
  private[graft] val tpchQ20Sql: String =
    s"""with $partsuppCte
       |select s_name, s_acctbal
       |from supplier join nation on s_nationkey = n_nationkey
       |join region on n_regionkey = r_regionkey
       |where r_name = 'EUROPE'
       |  and s_suppkey in (
       |    select ps_suppkey from partsupp
       |    where ps_partkey in (select p_partkey from part where p_name like 'red%')
       |      and ps_availqty > (select 0.5 * sum(l_quantity) from lineitem
       |           where l_partkey = ps_partkey and l_suppkey = ps_suppkey
       |             and l_shipdate >= timestamp '1996-01-01 00:00:00'
       |             and l_shipdate < timestamp '1997-01-01 00:00:00'))
       |order by s_name""".stripMargin

  /** The shared perceptual-hash gate corpus (m05 / s07 / p06): six 64-bit
    * dHash patterns with DESIGNED Hamming structure — P1 = P0^1 (distance
    * 1), P2 = P0 with 3 flipped bits (rejected at maxHamming 2),
    * P4 = P3^3 (distance 2), P5 far from everything — and the real 9×8
    * grayscale PNG whose pixel rows walk ±8 from 128 along a pattern's
    * bits, so decode → NN-resample → luma → dHash must reproduce the
    * pattern EXACTLY. Oracles replay from the literals alone.
    */
  private[graft] val dhashPats = Array(0x3C5A96E187D24B0FL, 0x3C5A96E187D24B0EL,
    0x3C5A96E1F7D24B0FL, 0x12489ABCDEF01357L, 0x12489ABCDEF01354L,
    0x5A5A5A5A5A5A5A5AL)

  private[graft] def patternPng(p: Long): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(9, 8,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 8) {
      var v = 128
      img.setRGB(0, y, (v << 16) | (v << 8) | v)
      for (x <- 0 until 8) {
        v += (if (((p >>> (y * 8 + x)) & 1L) == 1L) 8 else -8)
        img.setRGB(x + 1, y, (v << 16) | (v << 8) | v)
      }
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  private[graft] def patternImages(ids: Seq[Long]): Seq[(Long, Array[Byte])] =
    ids.map(id => (id, patternPng(dhashPats((id % 6).toInt))))

  private[graft] final case class Q(
      name: String,
      fn: (SparkSession, String) => DataFrame,
      oracle: Option[String])


  // =====================================================================
  // §2.3 Joins + §2.8 set ops
  // =====================================================================

  /** Orders with o_totalprice above this are the "high value" fixture used
    * to create unmatched rows for the outer-join oracles.
    */
  private[graft] val HI = 400000.0

  private[graft] def highOrders(m: DDFManager): DDF =
    m.register(m.getDDFByName("orders").df
      .filter(col("o_totalprice") > HI)
      .select("o_orderkey", "o_custkey", "o_totalprice"))


  // =====================================================================
  // §2.6 Binning  +  §2.7 Missing data
  // =====================================================================

  /** Static custom breaks over l_quantity (1..50): labels are compile-time
    * constants shared by the Spark path and the oracle CASE expression.
    */
  private[graft] val qBreaks = Seq(1.0, 10.0, 25.0, 40.0, 50.0)

  /** Mirrors Binning.binLabelExpr's reference-exact interval semantics. */
  private[graft] def binOracleCase(c: String, breaks: Seq[Double],
                            includeLowest: Boolean, right: Boolean): String = {
    val n = breaks.length - 1
    val ls = Binning.labels(breaks, includeLowest, right)
    val whens = (0 until n).map { i =>
      val lo = breaks(i); val hi = breaks(i + 1)
      val cond =
        if (right) {
          val lower = if (i == 0 && includeLowest) s"$c >= $lo" else s"$c > $lo"
          s"$lower AND $c <= $hi"
        } else {
          val lower = if (includeLowest) s"$c >= $lo" else s"$c > $lo"
          s"$lower AND $c < $hi"
        }
      s"WHEN $cond THEN '${ls(i)}'"
    }
    s"CASE ${whens.mkString(" ")} END"
  }


  // =====================================================================
  // Training-data pipeline extensions: dedup / similarity / text /
  // multimodal / streaming / ML (SURVEY §7.2 step 9)
  // =====================================================================

  /** DuckDB expression for whitespace tokens of lower(text) ('' removed) —
    * mirrors TextAnalysis.tokensExpr.
    */
  /** DuckDB replay of `TextAnalysis.bpeTrain`: `n` stacked argmax+rewrite
    * stages over the alphabetic word-frequency table. Inside list_reduce
    * the symbol list folds through a '|'-joined string (safe: the
    * ^[a-z]+$ filter leaves no '|' or LIKE metacharacters in symbols);
    * ties break (n DESC, l, r) exactly like the Spark argmax.
    */
  /** BPE gate corpus: documents.text enriched with the token classes the
    * alphabetic fast path silently drops — the doc's n_chars (digits), a
    * per-lang non-ASCII word (2-byte Latin accents and 3-byte CJK, so
    * multi-byte UTF-8 sequences enter the byte alphabet; capitalized, so
    * the byte path's case preservation is exercised), and a mixed
    * letters-hyphen-digits token (punctuation). Deterministic, column-
    * derived, and expressed identically in both engines.
    */
  private[graft] def bpeCorpus(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), concat_ws(" ",
      col("text"), col("n_chars").cast("string"),
      when(col("lang") === "en", lit("Café"))
        .when(col("lang") === "de", lit("Über"))
        .when(col("lang") === "zh", lit("数据"))
        .when(col("lang") === "fr", lit("naïve"))
        .otherwise(lit("año")),
      concat_ws("-", col("lang"), col("n_chars").cast("string"))).as("text"))

  /** DuckDB mirror of [[bpeCorpus]], as a `corpus` CTE body. */
  private[graft] val duckBpeCorpus: String =
    """corpus AS (SELECT doc_id,
      |  text || ' ' || n_chars || ' ' ||
      |  CASE lang WHEN 'en' THEN 'Café' WHEN 'de' THEN 'Über'
      |            WHEN 'zh' THEN '数据' WHEN 'fr' THEN 'naïve'
      |            ELSE 'año' END || ' ' || lang || '-' || n_chars AS text
      |  FROM documents)""".stripMargin

  /** DuckDB replay of the BPE trainer's `n` greedy stages. `byteLevel`
    * mirrors TextAnalysis.bpeTrain's switch: alphabetic mode filters
    * `^[a-z]+$` words and splits characters; byte-level mode takes every
    * token and splits `hex(w)` into 2-char pairs (DuckDB's hex() is the
    * word's UTF-8 bytes uppercase — identical to Spark's
    * hex(encode(w,'UTF-8'))). `src` is the corpus CTE/table to train on.
    */
  private[graft] def duckBpeStages(n: Int, src: String = "documents",
                            byteLevel: Boolean = false): String = {
    val (wFilter, s0Syms) =
      if (byteLevel) ("", "regexp_extract_all(hex(w), '..')")
      else ("WHERE regexp_matches(w, '^[a-z]+$')\n  ", "string_split(w, '')")
    val toks = if (byteLevel) duckToksRaw("text") else duckToks("text")
    val base =
      s"""w0 AS (
         |  SELECT w, count(*)::BIGINT AS freq FROM (
         |    SELECT unnest($toks) AS w FROM $src)
         |  ${wFilter}GROUP BY w),
         |s0 AS (SELECT $s0Syms AS syms, freq FROM w0)""".stripMargin
    val stageSql = (0 until n).map { k =>
      s"""p$k AS (SELECT l, r, sum(freq)::BIGINT AS n FROM (
         |  SELECT syms[i] AS l, syms[i+1] AS r, freq FROM (
         |    SELECT syms, freq, unnest(generate_series(1, len(syms)-1)) AS i FROM s$k))
         |  GROUP BY l, r),
         |b$k AS (SELECT l, r, n FROM p$k ORDER BY n DESC, l, r LIMIT 1),
         |s${k + 1} AS (SELECT string_split(list_reduce(syms, (acc, x) ->
         |    CASE WHEN x = b.r AND (acc = b.l OR acc LIKE '%|' || b.l)
         |      THEN CASE WHEN acc = b.l THEN b.l || b.r
         |           ELSE substr(acc, 1, length(acc) - length(b.l)) || b.l || b.r END
         |      ELSE acc || '|' || x END), '|') AS syms, freq
         |  FROM s$k CROSS JOIN b$k b)""".stripMargin
    }
    (base +: stageSql).mkString(",\n")
  }

  private[graft] def duckToks(t: String) =
    s"list_filter(string_split_regex(lower($t), '\\s+'), x -> x != '')"
  /** Case-preserving mirror of TextAnalysis.rawTokensExpr (the byte-level
    * BPE tokenizer path).
    */
  private[graft] def duckToksRaw(t: String) =
    s"list_filter(string_split_regex($t, '\\s+'), x -> x != '')"

  /** c06/c11 shared BM25 oracle stack: the 3-query VALUES table through
    * per-(query, doc) token-ordered score folds, ranked and cut at `k`
    * in `bmrank` (query_id, id, bm25, terms_hit, rk ≤ k). Leaves `qt`
    * (query_id, distinct token) visible for downstream retrievers.
    */
  private[graft] def duckBm25Ctes(k: Int): String =
    s"""q(query_id, qtext) AS (VALUES (1, 'spark join'),
       |    (2, 'window stream'), (3, 'hash filter scan')),
       |qt AS (SELECT query_id, unnest(list_distinct(${duckToks("qtext")})) AS token
       |  FROM q),
       |tok AS (SELECT doc_id, unnest(${duckToks("text")}) AS token FROM documents),
       |dl AS (SELECT doc_id, ${duckTokenCount("text")} AS dl FROM documents),
       |stats AS (SELECT count(*) AS n, (SELECT sum(dl) FROM dl)::DOUBLE / count(*) AS avgdl
       |  FROM documents),
       |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok
       |  WHERE token IN (SELECT token FROM qt) GROUP BY 1, 2),
       |dfq AS (SELECT token, count(*) AS doc_freq FROM tf GROUP BY 1),
       |ts AS (SELECT qt.query_id, tf.doc_id, tf.token,
       |    ln(1.0 + (n::DOUBLE - doc_freq + 0.5) / (doc_freq + 0.5))
       |      * (tf * (1.2 + 1.0))
       |      / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)) AS sc
       |  FROM tf JOIN dfq USING (token) JOIN dl USING (doc_id)
       |  JOIN qt ON qt.token = tf.token, stats),
       |sc AS (SELECT query_id, doc_id AS id, count(*) AS terms_hit,
       |    list_reduce(list_prepend(0.0, list(sc ORDER BY token)),
       |      (acc, x) -> acc + x) AS bm25
       |  FROM ts GROUP BY 1, 2),
       |bmrank AS (SELECT * FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY bm25 DESC, id) AS rk FROM sc)
       |  WHERE rk <= $k)""".stripMargin

  /** t16/t19 shared oracle: byte-level BPE train stages + 6 nested
    * rewrite folds per word over the enriched corpus, doc_id < 30,
    * order-preserving string_agg.
    */
  private[graft] lazy val duckBpeEncodeSql: String = {
    val n = 6
    val enc = (0 until n).foldLeft("regexp_extract_all(hex(w), '..')") { (acc, k) =>
      s"""string_split(list_reduce($acc, (a$k, x$k) ->
         |    CASE WHEN x$k = b$k.r AND (a$k = b$k.l OR a$k LIKE '%|' || b$k.l)
         |      THEN CASE WHEN a$k = b$k.l THEN b$k.l || b$k.r
         |           ELSE substr(a$k, 1, length(a$k) - length(b$k.l)) || b$k.l || b$k.r END
         |      ELSE a$k || '|' || x$k END), '|')""".stripMargin
    }
    val crossb = (0 until n).map(k => s"CROSS JOIN b$k").mkString(" ")
    s"""WITH $duckBpeCorpus,
       |${duckBpeStages(n, "corpus", byteLevel = true)},
       |ew AS (SELECT doc_id, pos, toks[pos] AS w FROM (
       |  SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS pos
       |  FROM (SELECT doc_id, ${duckToksRaw("text")} AS toks FROM corpus
       |        WHERE doc_id < 30))),
       |pieces AS (SELECT doc_id, pos, array_to_string($enc, ' ') AS piece
       |  FROM ew $crossb)
       |SELECT doc_id AS id, string_agg(piece, ' ' ORDER BY pos) AS bpe_text
       |FROM pieces GROUP BY doc_id ORDER BY id""".stripMargin
  }
  /** a16's 16×64 ±1 JL matrix as a DuckDB list-of-lists literal —
    * generated from the SAME signMatrix arithmetic the Spark side uses,
    * so the oracle needs no hash functions, only the inlined values. */
  private[graft] lazy val a16MatrixSql: String =
    pipeline.Similarity.signMatrix(64, 16, 7L)
      .map(_.map(v => if (v > 0) "1" else "-1").mkString("[", ",", "]"))
      .mkString("[", ",", "]")

  /** DuckDB expression mirroring Dedup.normText. */
  private[graft] def duckNorm(t: String) =
    s"trim(regexp_replace(lower($t), '\\s+', ' ', 'g'))"
  /** DuckDB 3-gram shingles mirroring Dedup.shingleExpr(n=3). */
  private[graft] def duckShingles(t: String) = {
    val toks = s"list_filter(string_split(${duckNorm(t)}, ' '), x -> x != '')"
    s"""(CASE WHEN len($toks) < 3 THEN [array_to_string($toks, ' ')]
       | ELSE list_distinct(list_transform(range(1, len($toks) - 1),
       |        i -> array_to_string(($toks)[i:i+2], ' '))) END)""".stripMargin
  }
  /** DuckDB word n-gram multiset over a token-list fragment — mirrors
    * TextAnalysis.ngramsOf (duplicates kept, < n tokens → empty).
    * range(1, m) is end-exclusive; list slices are 1-based inclusive.
    */
  private[graft] def duckNgrams(tk: String, n: Int) =
    s"""(CASE WHEN len($tk) >= $n
       |  THEN list_transform(range(1, len($tk) - ${n - 2}),
       |         i -> array_to_string(($tk)[i:i+${n - 1}], ' '))
       |  ELSE [] END)""".stripMargin
  /** DuckDB mirror of TextAnalysis.langId: stopword score columns
    * (`s_de..s_fr`, to SELECT alongside other columns) and the argmax
    * CASE over them — shared by the t01 and t08 oracles so a langId
    * change cannot silently diverge one of them.
    */
  private[graft] def duckLangScores = {
    val langs = Seq("de", "en", "es", "fr")
    langs.map { l =>
      val set = pipeline.TextAnalysis.stopwords(l).map(w => s"'$w'").mkString("[", ",", "]")
      s"len(list_filter(${duckToks("text")}, t -> list_contains($set, t)))" +
        s" / greatest(len(${duckToks("text")}), 1)::DOUBLE AS s_$l"
    }.mkString(",\n  ")
  }
  private[graft] val duckLangCase =
    """CASE WHEN greatest(s_de, s_en, s_es, s_fr) < 0.02 THEN 'und'
      |     WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
      |     WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
      |     WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
      |     ELSE 'fr' END""".stripMargin
  /** DuckDB expressions mirroring TextAnalysis.tokenCountOf/qualityScoreOf
    * (shared by the t01 oracle and the end-to-end pipeline oracle).
    */
  private[graft] def duckTokenCount(t: String) =
    s"len(${duckToks(t)})::BIGINT"
  private[graft] def duckQuality(t: String) =
    s"""(0.4 * least(len(${duckToks(t)}) / 100.0, 1.0)
       |    + 0.3 * (CASE WHEN len(${duckToks(t)}) = 0 THEN 0.0
       |             ELSE len(list_distinct(${duckToks(t)}))
       |                  / len(${duckToks(t)})::DOUBLE END)
       |    + 0.3 * (1.0 - length(regexp_replace($t, '[^.,;:!?]', '', 'g'))
       |             / greatest(length($t), 1)::DOUBLE))""".stripMargin

  /** DuckDB CTE chain mirroring the portable MinHash-LSH pipeline over
    * source relation `src` (must expose doc_id + text): shingles,
    * fold31 per shingle, 32 affine minhashes, 8 string band signatures,
    * banded candidates, exact-Jaccard verify (UNROUNDED ratio `jr`).
    * Shared by the d07 oracle and the end-to-end pipeline oracle.
    */
  private[graft] def duckMinhashCtes(src: String) =
    s"""msh AS (SELECT doc_id, ${duckShingles("text")} AS sh FROM $src),
       |mex AS (SELECT doc_id, unnest(sh) AS s FROM msh),
       |mhh AS (SELECT doc_id,
       |  list_reduce(list_prepend(0::BIGINT,
       |      list_transform(regexp_split_to_array(s, ''), c -> coalesce(ascii(c), 0)::BIGINT)),
       |    (acc, x) -> (acc * 31 + x) % 1000000007) AS h
       |  FROM mex),
       |mmins AS (SELECT doc_id, i,
       |    min((h * (2*i + 1) + (i*1000003 + 12345) % 1000000007) % 1000000007) AS m
       |  FROM mhh, (SELECT unnest(range(32)) AS i) GROUP BY doc_id, i),
       |msig AS (SELECT doc_id, i // 4 AS band, string_agg(m::VARCHAR, ',' ORDER BY i) AS sig
       |  FROM mmins GROUP BY doc_id, i // 4),
       |mcand AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
       |  FROM msig a JOIN msig b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
       |mpairs AS (SELECT id1, id2,
       |    len(list_intersect(s1.sh, s2.sh))::DOUBLE / len(list_distinct(s1.sh || s2.sh)) AS jr
       |  FROM mcand JOIN msh s1 ON s1.doc_id = id1 JOIN msh s2 ON s2.doc_id = id2)""".stripMargin

  /** DSIR importance-weight CTE stack (Dsir.importanceWeights replay),
    * shared by ds01/ds02/p05: documents with doc_id % 7 == 0 play the
    * target domain, 4096 hashed-ngram buckets, weights folded in bucket
    * order (the t10 float-determinism pattern). Ends at `full_w`
    * (doc_id, n_feats, weight-unrounded) over the raw split.
    */
  private[graft] def duckDsirW: String =
    s"""tokt AS (SELECT doc_id, ${duckToks("text")} AS t
       |  FROM documents WHERE doc_id % 7 = 0),
       |tokr AS (SELECT doc_id, ${duckToks("text")} AS t
       |  FROM documents WHERE doc_id % 7 <> 0),
       |tgtf AS (SELECT unnest(t) AS f FROM tokt
       |  UNION ALL
       |  SELECT unnest(list_transform(range(1, len(t)),
       |    i -> t[i] || ' ' || t[i+1])) AS f FROM tokt),
       |rawf AS (SELECT doc_id, unnest(t) AS f FROM tokr
       |  UNION ALL
       |  SELECT doc_id, unnest(list_transform(range(1, len(t)),
       |    i -> t[i] || ' ' || t[i+1])) AS f FROM tokr),
       |tgtb AS (SELECT list_reduce(list_prepend(0::BIGINT,
       |      list_transform(regexp_split_to_array(f, ''),
       |        c -> coalesce(ascii(c), 0)::BIGINT)),
       |      (acc, x) -> (acc * 31 + x) % 1000000007) % 4096 AS bucket,
       |    count(*)::BIGINT AS ct
       |  FROM tgtf GROUP BY 1),
       |rawb AS (SELECT doc_id, list_reduce(list_prepend(0::BIGINT,
       |      list_transform(regexp_split_to_array(f, ''),
       |        c -> coalesce(ascii(c), 0)::BIGINT)),
       |      (acc, x) -> (acc * 31 + x) % 1000000007) % 4096 AS bucket,
       |    count(*)::BIGINT AS tf
       |  FROM rawf GROUP BY 1, 2),
       |rcnt AS (SELECT bucket, sum(tf)::BIGINT AS cr FROM rawb GROUP BY 1),
       |tt AS (SELECT sum(ct)::BIGINT AS t FROM tgtb),
       |tr AS (SELECT sum(cr)::BIGINT AS t FROM rcnt),
       |ratio AS (SELECT rcnt.bucket,
       |    ln((coalesce(ct, 0) + 1.0) / (tt.t + 1.0 * 4096))
       |  - ln((cr + 1.0) / (tr.t + 1.0 * 4096)) AS lr
       |  FROM rcnt LEFT JOIN tgtb USING (bucket), tt, tr),
       |w AS (SELECT doc_id, sum(tf)::BIGINT AS n_feats,
       |    list_reduce(list_prepend(0.0, list(tf * lr ORDER BY bucket)),
       |      (acc, x) -> acc + x) AS weight
       |  FROM rawb JOIN ratio USING (bucket) GROUP BY doc_id),
       |full_w AS (SELECT d.doc_id, coalesce(n_feats, 0) AS n_feats,
       |    coalesce(weight, 0.0) AS weight
       |  FROM documents d LEFT JOIN w USING (doc_id)
       |  WHERE d.doc_id % 7 <> 0)""".stripMargin

  /** j04/j05/j06 corpus: pseudo-natural 20-char strings over a 16-letter
    * alphabet with no constant region — the corpus shape the k ≥ 3
    * partition filter is FOR. Groups of 4 sibling customer keys share
    * an md5-derived base string (a crypto hash: earlier algebraic
    * recipes leaked period/shift/negation structure that made
    * cross-group pairs grow quadratically); sibling
    * r carries r planted substitutions at spread positions, so every
    * group yields its 6 true pairs at distances 0–3 and nothing else
    * collides.
    */
  private[graft] def editCorpus(customer: DataFrame): DataFrame =
    customer
      .select(col("c_custkey").cast("long").as("k"))
      .withColumn("g", expr("k div 4"))
      .withColumn("r", expr("k % 4"))
      .withColumn("s0", expr("translate(substring(md5(concat('b', " +
        "cast(g AS string))), 1, 20), '0123456789abcdef', 'abcdefghijklmnop')"))
      .withColumn("s1", expr("CASE WHEN r > 0 THEN concat(" +
        "substring(s0, 1, pmod(g*7, 20)), chr(97 + pmod(g, 16)), " +
        "substring(s0, pmod(g*7, 20) + 2, 100)) ELSE s0 END"))
      .withColumn("s2", expr("CASE WHEN r > 1 THEN concat(" +
        "substring(s1, 1, pmod(g*7 + 5, 20)), chr(97 + pmod(g + 5, 16)), " +
        "substring(s1, pmod(g*7 + 5, 20) + 2, 100)) ELSE s1 END"))
      .withColumn("s3", expr("CASE WHEN r > 2 THEN concat(" +
        "substring(s2, 1, pmod(g*7 + 10, 20)), chr(97 + pmod(g + 10, 16)), " +
        "substring(s2, pmod(g*7 + 10, 20) + 2, 100)) ELSE s2 END"))
      .select(col("k"), col("s3").as("name"))

  /** DuckDB mirror of [[editCorpus]] (CTEs c, b0–b3; result in b3.name).
    * NOTE: this fragment is embedded into oracles that stripMargin the
    * COMBINED string again, so no content line may start with `||` — a
    * second stripMargin would eat one pipe of the concat operator.
    */
  private[graft] val duckEditCorpus: String =
    """c AS (SELECT c_custkey::BIGINT AS k, c_custkey // 4 AS g,
      |    c_custkey % 4 AS r FROM customer),
      |b0 AS (SELECT k, g, r, translate(substr(md5('b' || g), 1, 20),
      |    '0123456789abcdef', 'abcdefghijklmnop') AS s0 FROM c),
      |b1 AS (SELECT k, g, r, CASE WHEN r > 0 THEN
      |    substr(s0, 1, (g*7) % 20) || chr((97 + g % 16)::INT) ||
      |    substr(s0, (g*7) % 20 + 2, 100) ELSE s0 END AS s1 FROM b0),
      |b2 AS (SELECT k, g, r, CASE WHEN r > 1 THEN
      |    substr(s1, 1, (g*7 + 5) % 20) || chr((97 + (g + 5) % 16)::INT) ||
      |    substr(s1, (g*7 + 5) % 20 + 2, 100) ELSE s1 END AS s2 FROM b1),
      |b3 AS (SELECT k, CASE WHEN r > 2 THEN
      |    substr(s2, 1, (g*7 + 10) % 20) || chr((97 + (g + 10) % 16)::INT) ||
      |    substr(s2, (g*7 + 10) % 20 + 2, 100) ELSE s2 END AS name FROM b2)"""
      .stripMargin

  /** Probe batch for the lookup joins (j05/j06): every 5th key's GROUP
    * BASE with one fresh substitution at a position disjoint from the
    * planted ones — each probe is near its source group's members and
    * nothing else.
    */
  private[graft] def editProbes(customer: DataFrame): DataFrame =
    customer
      .select(col("c_custkey").cast("long").as("k"))
      .filter(col("k") % 5 === 0)
      .withColumn("g", expr("k div 4"))
      .withColumn("s0", expr("translate(substring(md5(concat('b', " +
        "cast(g AS string))), 1, 20), '0123456789abcdef', 'abcdefghijklmnop')"))
      .withColumn("p", expr("concat(substring(s0, 1, pmod(g*3 + 7, 20)), " +
        "chr(97 + pmod(g + 3, 16)), substring(s0, pmod(g*3 + 7, 20) + 2, 100))"))
      .select(col("k").as("pk"), col("p").as("pname"))

  /** DuckDB mirror of [[editProbes]] (CTEs pq, p0; result in
    * probes.pname). Same no-leading-`||` rule as [[duckEditCorpus]].
    */
  private[graft] val duckEditProbes: String =
    """pq AS (SELECT c_custkey::BIGINT AS pk, c_custkey // 4 AS g
      |  FROM customer WHERE c_custkey % 5 = 0),
      |p0 AS (SELECT pk, g, translate(substr(md5('b' || g), 1, 20),
      |    '0123456789abcdef', 'abcdefghijklmnop') AS s0 FROM pq),
      |probes AS (SELECT pk, substr(s0, 1, (g*3 + 7) % 20) ||
      |    chr((97 + (g + 3) % 16)::INT) ||
      |    substr(s0, (g*3 + 7) % 20 + 2, 100) AS pname FROM p0)""".stripMargin

  private[graft] val duckCos =
    "list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))"

  /** Deterministic, oracle-able near-dup edge set shared by d06/d09: the
    * d05-style embedding cosine pairs (hash-exact vs DuckDB since r01) so
    * connected components gets a recursive-CTE oracle. The minhash-edges
    * variant stays covered by PipelineSpec.
    */
  private[graft] def embeddingPairs(m: DDFManager): DataFrame = {
    val vecs = m.getDDFByName("embeddings").df.filter(col("vec_id") < 200)
      .select(col("vec_id"), col("embedding").as("v"))
    val l = vecs.alias("l"); val r = vecs.alias("r")
    l.join(r, col("l.vec_id") < col("r.vec_id"))
      .select(col("l.vec_id").as("id1"), col("r.vec_id").as("id2"),
        pipeline.Similarity.cosine(col("l.v"), col("r.v")).as("c"))
      .filter(col("c") >= 0.3)
      .select("id1", "id2")
  }

  /** DuckDB CTE chain mirroring [[embeddingPairs]] + dupClusters: ends in
    * `c(id, cluster_id)` — the min-reachable-label connected components.
    * Callers append their own SELECT (and must open WITH RECURSIVE).
    */
  private[graft] def duckClusterCtes =
    s"""dv AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
       |       FROM embeddings WHERE vec_id < 200),
       |p AS (SELECT a.vec_id AS id1, b.vec_id AS id2
       |      FROM dv a JOIN dv b ON a.vec_id < b.vec_id
       |      WHERE $duckCos >= 0.3),
       |e AS (SELECT id1 AS src, id2 AS dst FROM p
       |      UNION SELECT id2, id1 FROM p),
       |n AS (SELECT DISTINCT src AS id FROM e),
       |r AS (SELECT id, id AS lab FROM n
       |      UNION
       |      SELECT r.id, e.dst AS lab FROM r JOIN e ON e.src = r.lab),
       |c AS (SELECT id, min(lab) AS cluster_id FROM r GROUP BY id)""".stripMargin


  // =====================================================================
  // Round-5 ingest oracles (S1/S2): the LOAD/loadFile CSV surface checked
  // against DuckDB read_csv — the largest previously spec-only block.
  // Fixture CSVs are DERIVED deterministically from the driver's
  // documents.parquet (sorted by doc_id, planted NULL/empty cells at
  // fixed id residues) and written under target/ — generation is
  // driver-side 500-row work by design; the thing under test is the
  // distributed READ path (Dialect.load / DDFManager.loadFile).
  // =====================================================================

  // relocatable: the oracle SQL strings interpolate this path at runtime,
  // so deriving it from the working directory (or an explicit override)
  // keeps s02/s03/s04 working when the repo is cloned elsewhere
  private[graft] val fixtureDir = java.nio.file.Paths.get(
    sys.env.getOrElse("GRAFT_FIXTURE_DIR",
      java.nio.file.Paths.get(sys.props("user.dir"), "target", "graft_fixtures").toString))
  private[graft] val s02Path = fixtureDir.resolve("s02.csv").toString
  private[graft] val s03Path = fixtureDir.resolve("s03.csv").toString

  private[graft] def writeFixture(path: String, lines: Seq[String]): String = {
    java.nio.file.Files.createDirectories(fixtureDir)
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    path
  }

  /** Fixture rows are PURE ARITHMETIC in the row id (langs/sizes from
    * fixed residues), deliberately NOT sampled from documents.parquet:
    * the fixture file sits at one fixed path the static oracle SQL can
    * name, so content derived from a particular sfDir would go stale the
    * moment Verify runs at another scale (the parquet dump and the
    * oracle's read_csv would see different bytes). Arithmetic content is
    * identical at every sf — the ingest path under test does not care
    * where cell values came from.
    */
  private[graft] val fixtureLangs = Seq("en", "fr", "de", "es", "zh")

  /** LOAD fixture: id,lang,n_chars,score,ts with planted null-string /
    * empty cells. Residues chosen so every column exercises its null
    * path: %7 → 'NA' in a bigint, %11 → empty string cell (verbatim ""
    * per the reference's string semantics), %13 → empty numeric cell,
    * %17 → 'NA' in the timestamp. score = n_chars + .25 stays exactly
    * representable so both engines parse the identical double.
    */
  private[graft] def s02Fixture(): String = {
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
    val base = java.time.LocalDateTime.of(2024, 1, 1, 0, 0, 0)
    writeFixture(s02Path, (0L until 500L).map { id =>
      val nCharsVal = 100 + (id * 17) % 900
      val lang = if (id % 11 == 0) "" else fixtureLangs((id % 5).toInt)
      val nChars = if (id % 7 == 0) "NA" else nCharsVal.toString
      val score = if (id % 13 == 0) "" else s"$nCharsVal.25"
      val ts = if (id % 17 == 0) "NA" else base.plusMinutes(id).format(fmt)
      s"$id,$lang,$nChars,$score,$ts"
    })
  }

  /** Inference fixture for the reference-exact 5-row vote: V1 int,
    * V2 int-voted with post-sample garbage (type changes after row 5 —
    * the divergence the vote semantics pin: later unparseable cells null
    * rather than re-typing the column), V3 double, V4 boolean (T/f/
    * true/False spellings; an in-sample 'NA' is ignored by the vote),
    * V5 string with planted 'NA' → null (the loadFile reader's
    * nullValue). Only NON-NUMERIC garbage goes in the int column:
    * DuckDB TRY_CAST('12.5' AS INT) rounds to 13 where Spark nulls, so
    * decimal strings in an int column would split the engines.
    */
  private[graft] def s03Fixture(): String =
    writeFixture(s03Path, (0L until 500L).map { id =>
      val v2 = if (id >= 6 && id % 23 == 0) "oops" else (id * 10).toString
      val v4 = if (id == 2) "NA" else Seq("T", "f", "true", "False")((id % 4).toInt)
      val v5 = if (id % 19 == 0) "NA" else fixtureLangs((id % 5).toInt)
      s"$id,$v2,$id.5,$v4,$v5"
    })


  // =====================================================================
  // URL / domain curation (w-family; r15 — no reference counterpart, the
  // CommonCrawl-style web-corpus operators). The documents table carries
  // no URL column, so each query derives a deterministic MESSY url from
  // doc_id (mixed-case scheme/host, default + explicit ports, tracking
  // params, fragments, empty paths) identically on both engines, then
  // the Spark side exercises pipeline.UrlCuration while the oracle
  // transliterates the normalization contract step for step.
  // =====================================================================

  /** Synthetic messy URL from doc_id; `hostMod` controls domain
    * cardinality (small → per-domain caps and URL dedup actually bind).
    */
  private[graft] def syntheticUrl(hostMod: Int): Column =
    syntheticUrlOf(col("doc_id"), hostMod)

  /** [[syntheticUrl]] parameterized by the id expression — w08 links
    * doc k at the urls of docs (7k+3)%391 and (13k+5)%391 to get a
    * deterministic cross-domain link graph.
    */
  private[graft] def syntheticUrlOf(id: Column, hostMod: Int): Column = {
    val scheme = when(id % 3 === 0, "HTTPS").when(id % 3 === 1, "http")
      .otherwise("https")
    val tld = when(id % 7 === 0, "Co.UK")
      .when(id % 7 === 1 || id % 7 === 2, "example.COM")
      .when(id % 7 === 3, "GitHub.IO")
      .when(id % 7 === 4, "blogspot.com")
      .when(id % 7 === 5, "org")
      .otherwise("net.au")
    val port = when(id % 5 === 0, ":443").when(id % 5 === 1, ":8080")
      .otherwise("")
    val path = when(id % 4 === 0, "").when(id % 4 === 1, "/")
      .otherwise(concat(lit("/Articles/"), (id % 100).cast("string")))
    val query = when(id % 6 === 0,
        concat(lit("?utm_source=feed&id="), (id % 50).cast("string")))
      .when(id % 6 === 1,
        concat(lit("?id="), (id % 50).cast("string"), lit("&utm_campaign=x&ref=tw")))
      .when(id % 6 === 2, "?gclid=abc123")
      .when(id % 6 === 3, "?a=1&b=2")
      .otherwise("")
    val frag = when(id % 8 === 0, "#Section-2").otherwise("")
    // id % 13 == 9 rows are IPv6-literal URLs — they pin the r16
    // bracketed-authority quarantine (NULL canonical key) in the oracle
    when(id % 13 === 9,
      concat(lit("https://[2001:db8::"), (id % 4).cast("string"),
        lit("]:8080/v6/"), (id % 10).cast("string")))
      .otherwise(concat(scheme, lit("://Site-"), (id % hostMod).cast("string"),
        lit("."), tld, port, path, query, frag))
  }

  /** DuckDB twin of [[syntheticUrl]]. NOTE: these helper strings are
    * interpolated into oracle templates that apply .stripMargin to the
    * WHOLE result, so no emitted line may start with whitespace + `|` —
    * every `||` concat sits at a line END.
    */
  private[graft] def duckUrlRaw(hostMod: Int): String =
    duckUrlRawOf("doc_id", hostMod)

  /** DuckDB twin of [[syntheticUrlOf]]; `idExpr` must be parenthesized
    * if compound.
    */
  private[graft] def duckUrlRawOf(idExpr: String, hostMod: Int): String =
    s"""CASE WHEN $idExpr % 13 = 9 THEN 'https://[2001:db8::' ||
       |    ($idExpr % 4)::VARCHAR || ']:8080/v6/' || ($idExpr % 10)::VARCHAR
       |  ELSE
       |  CASE WHEN $idExpr % 3 = 0 THEN 'HTTPS' WHEN $idExpr % 3 = 1 THEN 'http'
       |       ELSE 'https' END ||
       |  '://Site-' || ($idExpr % $hostMod)::VARCHAR || '.' ||
       |  CASE WHEN $idExpr % 7 = 0 THEN 'Co.UK'
       |       WHEN $idExpr % 7 IN (1, 2) THEN 'example.COM'
       |       WHEN $idExpr % 7 = 3 THEN 'GitHub.IO'
       |       WHEN $idExpr % 7 = 4 THEN 'blogspot.com'
       |       WHEN $idExpr % 7 = 5 THEN 'org' ELSE 'net.au' END ||
       |  CASE WHEN $idExpr % 5 = 0 THEN ':443'
       |       WHEN $idExpr % 5 = 1 THEN ':8080' ELSE '' END ||
       |  CASE WHEN $idExpr % 4 = 0 THEN '' WHEN $idExpr % 4 = 1 THEN '/'
       |       ELSE '/Articles/' || ($idExpr % 100)::VARCHAR END ||
       |  CASE WHEN $idExpr % 6 = 0 THEN '?utm_source=feed&id=' || ($idExpr % 50)::VARCHAR
       |       WHEN $idExpr % 6 = 1 THEN '?id=' || ($idExpr % 50)::VARCHAR || '&utm_campaign=x&ref=tw'
       |       WHEN $idExpr % 6 = 2 THEN '?gclid=abc123'
       |       WHEN $idExpr % 6 = 3 THEN '?a=1&b=2' ELSE '' END ||
       |  CASE WHEN $idExpr % 8 = 0 THEN '#Section-2' ELSE '' END
       |  END""".stripMargin

  /** DuckDB twin of UrlCuration.hostOf on column `url` (assumes the
    * input always carries a scheme, as the synthetic builders do).
    * Bracketed IPv6 authorities quarantine to NULL (r16 advice fix) —
    * mirrored from the Scala expression.
    */
  private[graft] def duckHostExprOf(urlCol: String): String =
    s"""CASE WHEN substr(regexp_extract(regexp_replace(trim($urlCol),
       |      '^[A-Za-z][A-Za-z0-9+.-]*://', ''), '^([^/?#]*)', 1), 1, 1) = '['
       |    THEN NULL
       |    ELSE lower(regexp_extract(regexp_extract(
       |      regexp_replace(trim($urlCol), '^[A-Za-z][A-Za-z0-9+.-]*://', ''),
       |      '^([^/?#]*)', 1), '^([^:]*)', 1)) END""".stripMargin

  private[graft] lazy val duckHostExpr: String = duckHostExprOf("url")

  /** DuckDB transliteration of UrlCuration.urlNormalizeCol as CTE steps:
    * expects a relation `$rel(…, url)`, defines `${px}5(…, url_norm)`.
    * Pass a distinct `px` to use the chain twice in one WITH (ht05
    * normalizes both the link targets and the crawled base URLs).
    */
  private[graft] def duckUrlNormCtesFrom(rel: String, px: String = "p"): String = {
    val trackRe =
      "^(utm_[^=&]*|gclid|fbclid|msclkid|yclid|mc_eid|igshid|ref|ref_src|_ga)(=|$)"
    s"""${px}1 AS (SELECT *, trim(url) AS __src FROM $rel),
       |${px}2 AS (SELECT *,
       |  lower(regexp_extract(__src, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS __scheme,
       |  regexp_replace(regexp_replace(__src, '^[A-Za-z][A-Za-z0-9+.-]*://', ''),
       |    '#.*', '') AS __nofrag FROM ${px}1),
       |${px}3 AS (SELECT *, regexp_extract(__nofrag, '^([^/?]*)', 1) AS __auth,
       |  regexp_replace(__nofrag, '^[^/?]*', '') AS __pathq FROM ${px}2),
       |${px}4 AS (SELECT *, lower(regexp_extract(__auth, '^([^:]*)', 1)) AS __host,
       |  regexp_extract(__auth, ':([0-9]+)$$', 1) AS __port,
       |  regexp_extract(__pathq, '^([^?]*)', 1) AS __path,
       |  coalesce(array_to_string(list_filter(
       |    string_split(regexp_extract(__pathq, '\\?(.*)', 1), '&'),
       |    x -> x <> '' AND NOT regexp_matches(x, '$trackRe')), '&'), '') AS __qn
       |  FROM ${px}3),
       |${px}5 AS (SELECT *, CASE WHEN __scheme = '' OR __host = ''
       |    OR substr(__auth, 1, 1) = '[' THEN NULL ELSE
       |    __scheme || '://' || __host ||
       |    CASE WHEN __port = '' OR (__scheme = 'http' AND __port = '80')
       |         OR (__scheme = 'https' AND __port = '443') THEN ''
       |         ELSE ':' || __port END ||
       |    CASE WHEN __path = '' THEN '/' ELSE __path END ||
       |    CASE WHEN __qn = '' THEN '' ELSE '?' || __qn END END AS url_norm
       |  FROM ${px}4)""".stripMargin
  }

  private[graft] lazy val duckUrlNormCtes: String = duckUrlNormCtesFrom("u")

  /** Suffix rules used by the w02/w03 queries (explicit so the oracle
    * inlines them); depth-1 and depth-2 entries of
    * [[pipeline.UrlCuration.defaultSuffixes]] that the synthetic hosts hit.
    */
  private[graft] lazy val wSuffixes =
    Seq("com", "org", "uk", "io", "au", "co.uk", "net.au", "github.io",
      "blogspot.com")

  /** DuckDB twin of UrlCuration.registeredDomain on relation `h(…, host)`:
    * defines `d3(…, registered_domain, registered_domain_suffix)`.
    */
  private[graft] lazy val duckRegDomainCtes: String = duckRegDomainCtesFrom("h")

  /** [[duckRegDomainCtes]] parameterized by source relation and CTE
    * prefix (defines `${px}3(…, registered_domain)`), so one WITH can
    * derive domains for more than one host set (w08).
    */
  private[graft] def duckRegDomainCtesFrom(rel: String, px: String = "d"): String = {
    val d1 = wSuffixes.filter(!_.contains('.')).map(s => s"'$s'").mkString(", ")
    val d2 = wSuffixes.filter(_.contains('.')).map(s => s"'$s'").mkString(", ")
    s"""${px}1 AS (SELECT *, string_split(lower(host), '.') AS __l,
       |  len(string_split(lower(host), '.')) AS __n FROM $rel),
       |${px}2 AS (SELECT *, CASE
       |    WHEN __n >= 2 AND array_to_string(__l[__n - 1:__n], '.') IN ($d2) THEN 2
       |    WHEN __n >= 1 AND __l[__n] IN ($d1) THEN 1
       |    WHEN __n >= 1 THEN 1 END AS __d FROM ${px}1),
       |${px}3 AS (SELECT *,
       |  CASE WHEN __d IS NOT NULL
       |    THEN array_to_string(__l[__n - __d + 1:__n], '.') END AS registered_domain_suffix,
       |  CASE WHEN __n >= __d + 1
       |    THEN array_to_string(__l[__n - __d:__n], '.') END AS registered_domain
       |  FROM ${px}2)""".stripMargin
  }


  // ---------------------------------------------------------------
  // HTML/markup extraction (h01-h03) — the front end of the crawl
  // pipeline the w-family serves: raw markup → text + outlinks.
  // ---------------------------------------------------------------

  /** Synthetic HTML document from `documents` rows: entities (incl.
    * double-escapes), a style block, a script subtree on 1/3 of docs, a
    * comment, the doc's text, one messy absolute link ([[syntheticUrl]],
    * so the IPv6 quarantine rides through h03), and per-residue
    * root-relative / relative / fragment+mailto / protocol-relative
    * links. Mirrored verbatim by [[duckHtmlRaw]].
    */
  private[graft] def syntheticHtml: Column = {
    val id = col("doc_id")
    concat(
      lit("<!DOCTYPE html><html><head><title>Doc "), id.cast("string"),
      lit(" &amp; friends</title><style>p{m:"), (id % 7).cast("string"),
      lit("}</style>"),
      when(id % 3 === 0,
        concat(lit("<script>var p=\"<b>skip "), (id % 5).cast("string"),
          lit("</b>\";</script>"))).otherwise(""),
      lit("</head><body><!-- c "), (id % 5).cast("string"),
      lit(" --><h1>Title&nbsp;"), (id % 9).cast("string"),
      lit("</h1><p class=\"big\">"), substring(col("text"), 1, 60),
      lit(" &lt;q&gt; &#38; x</p><a href=\""), syntheticUrl(12), lit("\">a1</a>"),
      when(id % 4 === 1,
        concat(lit("<a href='/rel/"), (id % 20).cast("string"), lit("'>a2</a>")))
        .when(id % 4 === 2,
          concat(lit("<a href=sub/p-"), (id % 10).cast("string"), lit(".html>a3</a>")))
        .when(id % 4 === 3,
          lit("<a href=\"#top\">f</a><a href=\"mailto:a@b.c\">m</a>"))
        .otherwise(lit("<a href=\"//cdn.ex.com/l.js\">c</a>")),
      lit("</body></html>"))
  }

  /** Base (document) URL for the h02/h03 resolution cases: pathless,
    * file-with-query, and trailing-dir forms. Mirrored by the oracle.
    */
  private[graft] def syntheticBaseUrl: Column = baseUrlOf(col("doc_id"))

  /** [[syntheticBaseUrl]] parameterized by the id expression — ht05
    * links doc k at doc k+1's base URL (the base is a pure function of
    * id % 15, so every shifted target is a crawled page).
    */
  private[graft] def baseUrlOf(id: Column): Column =
    when(id % 3 === 0,
      concat(lit("https://site-"), (id % 15).cast("string"), lit(".example.com")))
      .when(id % 3 === 1,
        concat(lit("https://site-"), (id % 15).cast("string"),
          lit(".example.com/dir/page.html?s=1")))
      .otherwise(concat(lit("http://site-"), (id % 15).cast("string"),
        lit(".example.com:8080/a/b/")))

  /** DuckDB twin of [[syntheticHtml]] (same stripMargin discipline as
    * [[duckUrlRaw]]: every concat `||` sits at a line END).
    */
  private[graft] lazy val duckHtmlRaw: String =
    s"""'<!DOCTYPE html><html><head><title>Doc ' || doc_id::VARCHAR ||
       |  ' &amp; friends</title><style>p{m:' || (doc_id % 7)::VARCHAR ||
       |  '}</style>' ||
       |  CASE WHEN doc_id % 3 = 0 THEN '<script>var p="<b>skip ' ||
       |    (doc_id % 5)::VARCHAR || '</b>";</script>' ELSE '' END ||
       |  '</head><body><!-- c ' || (doc_id % 5)::VARCHAR ||
       |  ' --><h1>Title&nbsp;' || (doc_id % 9)::VARCHAR ||
       |  '</h1><p class="big">' || substr(text, 1, 60) ||
       |  ' &lt;q&gt; &#38; x</p><a href="' || (${duckUrlRaw(12)}) || '">a1</a>' ||
       |  CASE WHEN doc_id % 4 = 1 THEN '<a href=''/rel/' ||
       |    (doc_id % 20)::VARCHAR || '''>a2</a>'
       |  WHEN doc_id % 4 = 2 THEN '<a href=sub/p-' ||
       |    (doc_id % 10)::VARCHAR || '.html>a3</a>'
       |  WHEN doc_id % 4 = 3 THEN '<a href="#top">f</a><a href="mailto:a@b.c">m</a>'
       |  ELSE '<a href="//cdn.ex.com/l.js">c</a>' END ||
       |  '</body></html>'""".stripMargin

  /** DuckDB twin of [[syntheticBaseUrl]]. */
  private[graft] lazy val duckBaseUrlRaw: String = duckBaseUrlRawOf("doc_id")

  /** DuckDB twin of [[baseUrlOf]]; `idExpr` must be parenthesized if
    * compound (e.g. `"(doc_id + 1)"`).
    */
  private[graft] def duckBaseUrlRawOf(idExpr: String): String =
    s"""CASE WHEN $idExpr % 3 = 0 THEN 'https://site-' ||
       |    ($idExpr % 15)::VARCHAR || '.example.com'
       |  WHEN $idExpr % 3 = 1 THEN 'https://site-' ||
       |    ($idExpr % 15)::VARCHAR || '.example.com/dir/page.html?s=1'
       |  ELSE 'http://site-' ||
       |    ($idExpr % 15)::VARCHAR || '.example.com:8080/a/b/' END""".stripMargin

  /** DuckDB transliteration of HtmlExtract.htmlToTextCol as CTE steps:
    * expects a relation `u(…, html)`, defines `e(…, text_extracted)`.
    */
  private[graft] lazy val duckHtmlTextCtes: String =
    """e0 AS (SELECT *, regexp_replace(html, '(?s)<!--.*?-->', ' ', 'g') AS t0
      |  FROM u),
      |e1 AS (SELECT *, regexp_replace(regexp_replace(t0,
      |    '(?is)<script\b[^>]*>.*?</script\s*>', ' ', 'g'),
      |    '(?is)<style\b[^>]*>.*?</style\s*>', ' ', 'g') AS t1 FROM e0),
      |e2 AS (SELECT *, regexp_replace(t1, '<[/!A-Za-z][^>]*>', ' ', 'g') AS t2
      |  FROM e1),
      |e3 AS (SELECT *,
      |  replace(replace(replace(replace(replace(replace(replace(replace(
      |    replace(replace(replace(replace(
      |    t2, '&lt;', '<'), '&#60;', '<'), '&gt;', '>'), '&#62;', '>'),
      |    '&quot;', '"'), '&#34;', '"'), '&apos;', ''''), '&#39;', ''''),
      |    '&nbsp;', ' '), '&#160;', ' '), '&amp;', '&'), '&#38;', '&') AS t3
      |  FROM e2),
      |e AS (SELECT *, trim(regexp_replace(t3, '[\s\x{00A0}]+', ' ', 'g'))
      |    AS text_extracted
      |  FROM e3)""".stripMargin

  /** RFC 3986 §5.3 reference-resolution CASE over column exprs
    * `base`/`th` (th already trimmed): the exact DuckDB twin of the
    * branch chain in `HtmlExtract.resolveHrefCol` BEFORE dot-segment
    * removal. Emits one SQL expression; callers wrap the result column
    * with [[duckRemoveDotsCtes]].
    */
  private[graft] def duckResolveCase(base: String, th: String): String =
    s"""CASE
       |      WHEN $th IS NULL OR $th = '' OR substr($th, 1, 1) = '#' THEN NULL
       |      WHEN regexp_matches($th, '^[A-Za-z][A-Za-z0-9+.-]*:') THEN
       |        CASE WHEN regexp_matches($th, '^(?i)https?://') THEN $th END
       |      WHEN regexp_extract($base,
       |        '^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)', 1) = '' THEN NULL
       |      WHEN substr($th, 1, 2) = '//' THEN
       |        lower(regexp_extract($base, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) ||
       |        ':' || $th
       |      WHEN substr($th, 1, 1) = '/' THEN
       |        regexp_extract($base, '^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)', 1) ||
       |        $th
       |      WHEN substr($th, 1, 1) = '?' THEN
       |        regexp_replace($base, '[?#].*', '') || $th
       |      ELSE CASE WHEN regexp_matches(regexp_replace($base, '[?#].*', ''),
       |          '^[A-Za-z][A-Za-z0-9+.-]*://[^/]*$$')
       |        THEN regexp_replace($base, '[?#].*', '') || '/'
       |        ELSE regexp_replace(regexp_replace($base, '[?#].*', ''),
       |          '/[^/]*$$', '/') END || $th END""".stripMargin

  /** DuckDB twin of `UrlCuration.robotsRegexCol` over `$patternCol`:
    * strip a trailing `$` anchor, escape the regex metacharacters in
    * robotsRegexCol's exact fold order, turn `*` into `.*`, re-anchor.
    * Generated (not hand-written) so the 14-deep replace nesting can
    * never drop a paren.
    */
  private[graft] def duckRobotsRegexExpr(patternCol: String): String = {
    val bodyE = s"CASE WHEN substr($patternCol, length($patternCol), 1) = '$$' " +
      s"THEN substr($patternCol, 1, length($patternCol) - 1) ELSE $patternCol END"
    val escaped = Seq("\\", ".", "^", "$", "+", "?", "(", ")", "[", "]", "{", "}", "|")
      .foldLeft(bodyE)((e, ch) => s"replace($e, '$ch', '\\$ch')")
    s"'^' || replace($escaped, '*', '.*') || " +
      s"CASE WHEN substr($patternCol, length($patternCol), 1) = '$$' " +
      s"THEN '$$' ELSE '' END"
  }

  /** DuckDB twin of `HtmlExtract.removeDotSegmentsCol` as CTE steps over
    * `$inRel.$urlCol`: defines `$outRel(…, $outCol)`. Same pass order
    * (`./` runs → trailing `/.` → [[pipeline.HtmlExtract.dotSegmentBound]]
    * parent-pair passes → leading `/..`), patterns transliterated 1:1
    * (DuckDB needs the explicit 'g' flag where Spark replaces globally);
    * query/fragment split off and re-attached verbatim. `$outRel` is
    * AS MATERIALIZED unconditionally: the chain re-references its input
    * column at several steps, and un-materialized, DuckDB's CTE
    * inlining multiplies the (often already-large) upstream tree — s13
    * OOM'd the one-process 279-query gate through exactly this before
    * the blanket materialization (the w08 lesson, third occurrence).
    */
  private[graft] def duckRemoveDotsCtes(inRel: String, urlCol: String,
                                        outRel: String, outCol: String,
                                        px: String): String = {
    val parent8 = (1 to pipeline.HtmlExtract.dotSegmentBound).foldLeft(s"${px}_p1")(
      (e, _) => s"regexp_replace($e,\n      " +
        s"'/(\\.\\.[^/]+|\\.[^./][^/]*|[^./][^/]*)/\\.\\.(/|$$)', '/', 'g')")
    s"""${px}a AS (SELECT *, regexp_extract($urlCol,
       |    '^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)', 1) AS ${px}_o FROM $inRel),
       |${px}b AS (SELECT *, substring($urlCol, length(${px}_o) + 1) AS ${px}_rest
       |  FROM ${px}a),
       |${px}c AS (SELECT *,
       |    regexp_replace(regexp_replace(regexp_replace(${px}_rest,
       |      '[?#].*', ''), '/(\\./)+', '/', 'g'), '/\\.$$', '/') AS ${px}_p1,
       |    regexp_extract(${px}_rest, '([?#].*)', 1) AS ${px}_t FROM ${px}b),
       |${px}d AS (SELECT *, $parent8 AS ${px}_p2 FROM ${px}c),
       |$outRel AS MATERIALIZED (SELECT *, CASE WHEN $urlCol IS NULL THEN NULL
       |      WHEN ${px}_o = '' THEN $urlCol
       |      ELSE ${px}_o ||
       |        regexp_replace(${px}_p2, '^(/\\.\\.)+(/|$$)', '/') ||
       |        ${px}_t END AS $outCol
       |  FROM ${px}d)""".stripMargin
  }

  /** DuckDB transliteration of HtmlExtract.linkExtract (hrefsCol +
    * effectiveBaseUrl + resolveHrefCol) as CTE steps: expects
    * `u(doc_id, src_url, html)`, defines `r(doc_id, src_url, href,
    * resolved)` — one row per extracted href, resolved against the
    * page's `<base href>` when declared (r17), dot-segments removed.
    * The href boundary is `[\s"']` (r17 advice: `\b` also matched
    * `data-href`/`xlink:href`).
    *
    * `eb0` and `r` are AS MATERIALIZED (the w08 lesson, round 16,
    * repeated here in r17): the resolve chain re-references its input
    * column at several steps, and DuckDB's CTE inlining multiplies the
    * upstream tree at each re-reference — un-materialized, w08's plan
    * ballooned to 16 s standalone and OOM'd the shared one-process
    * full-suite gate; materialized it is ~2 s with a flat plan.
    */
  private[graft] lazy val duckLinkCtes: String =
    s"""bh0 AS (SELECT doc_id, src_url, html,
       |    trim(nullif(replace(regexp_replace(regexp_replace(
       |      regexp_extract(html,
       |        '(?is)<base\\b[^>]*[\\s"'']href\\s*=\\s*("[^"]*"|''[^'']*''|[^\\s>]+)',
       |        1),
       |      '^["'']', ''), '["'']$$', ''), '&amp;', '&'), '')) AS bth
       |  FROM u),
       |bh1 AS (SELECT *, ${duckResolveCase("src_url", "bth")} AS br0 FROM bh0),
       |${duckRemoveDotsCtes("bh1", "br0", "bh2", "brr", "bz")},
       |eb0 AS MATERIALIZED (SELECT doc_id, src_url, html,
       |    coalesce(brr, src_url) AS eb FROM bh2),
       |l AS (SELECT doc_id, src_url, eb, unnest(regexp_extract_all(html,
       |    '(?i)<a\\b[^>]*[\\s"'']href\\s*=\\s*("[^"]*"|''[^'']*''|[^\\s>]+)', 1)) AS h0
       |  FROM eb0),
       |hr AS (SELECT doc_id, src_url, eb, replace(regexp_replace(regexp_replace(h0,
       |    '^["'']', ''), '["'']$$', ''), '&amp;', '&') AS href FROM l),
       |rb AS (SELECT doc_id, src_url, eb, href, trim(href) AS th FROM hr),
       |rc AS (SELECT *, ${duckResolveCase("eb", "th")} AS r0 FROM rb),
       |${duckRemoveDotsCtes("rc", "r0", "rz", "resolved0", "rz")},
       |r AS MATERIALIZED (SELECT doc_id, src_url, href, resolved0 AS resolved
       |  FROM rz)""".stripMargin

  // ---- ht04 html-metadata oracle helpers (r16) ----

  /** Nested-replace DuckDB transliteration of
    * [[pipeline.HtmlExtract.defaultEntities]] over `expr` (same chain as
    * the e3 step of [[duckHtmlTextCtes]], reusable on a single column).
    */
  private[graft] def duckDecodeEnt(expr: String): String = {
    val ents = Seq(
      "&lt;" -> "<", "&#60;" -> "<", "&gt;" -> ">", "&#62;" -> ">",
      "&quot;" -> "\"", "&#34;" -> "\"", "&apos;" -> "''", "&#39;" -> "''",
      "&nbsp;" -> " ", "&#160;" -> " ", "&amp;" -> "&", "&#38;" -> "&")
    ents.foldLeft(expr) { case (e, (k, v)) => s"replace($e, '$k', '$v')" }
  }

  /** DuckDB twin of HtmlExtract.titleOf on column `html`. */
  private[graft] lazy val duckTitleExpr: String = {
    val t = s"trim(regexp_replace(${duckDecodeEnt(
      "regexp_extract(html, '(?is)<title[^>]*>(.*?)</title', 1)")}, " +
      "'[\\s\\x{00A0}]+', ' ', 'g'))"
    s"nullif($t, '')"
  }

  /** DuckDB twin of HtmlExtract.attrOf(html, tag, keyAttr, keyVal,
    * valAttr): first matching tag, both attribute orders, all three
    * quoting forms, quotes stripped, &amp; decoded, '' -> NULL.
    */
  private[graft] def duckAttrExpr(tag: String, keyAttr: String,
                                  keyVal: String, valAttr: String): String = {
    val v = """("[^"]*"|''[^'']*''|[^\s>]+)"""
    val kv = s"""["'']?$keyVal["'']?"""
    // NOTE: the s-interpolator processes escapes even in triple quotes,
    // so \\b here emits the single backslash the RE2 pattern needs
    val kf = s"""regexp_extract(html, '(?is)<$tag\\b[^>]*\\b$keyAttr\\s*=\\s*$kv[^>]*\\b$valAttr\\s*=\\s*$v', 1)"""
    val vf = s"""regexp_extract(html, '(?is)<$tag\\b[^>]*\\b$valAttr\\s*=\\s*$v[^>]*\\b$keyAttr\\s*=\\s*$kv', 1)"""
    val raw = s"(CASE WHEN $kf <> '' THEN $kf ELSE $vf END)"
    s"nullif(replace(regexp_replace(regexp_replace($raw, " +
      """'^["'']', ''), '["'']$', ''), '&amp;', '&'), '')"""
  }

  /** Synthetic head-metadata HTML for ht04: per-residue variants cover
    * both meta attribute orders, all three quoting forms, absolute /
    * root-relative / relative canonical targets, entity-bearing values,
    * and the no-title / no-canonical / no-meta absences. Mirrored
    * verbatim by [[duckHtmlMetaRaw]].
    */
  private[graft] def syntheticHtmlMeta: Column = {
    val id = col("doc_id")
    val head = when(id % 4 === 0, concat(
        lit("<title>Doc "), id.cast("string"), lit(" &amp; Co</title>"),
        lit("<meta name=\"description\" content=\"d "), (id % 7).cast("string"),
        lit(" &amp; x\"><link rel=\"canonical\" href=\"https://canon-"),
        (id % 6).cast("string"), lit(".example.com/c/"), (id % 9).cast("string"),
        lit("?id=1&amp;utm_source=f\">")))
      .when(id % 4 === 1, concat(
        lit("<title> Two  Words "), (id % 5).cast("string"), lit(" </title>"),
        lit("<meta content='flip "), (id % 7).cast("string"),
        lit("' name='description'><link href='/canon/"), (id % 9).cast("string"),
        lit("' rel='canonical'>")))
      .when(id % 4 === 2, concat(
        // r17: a dot-segmented relative canonical — pins resolveHrefCol's
        // RFC 3986 §5.2.4 removal through canonicalizedUrl in the ht04
        // and s13 oracles (the organic corpus has no dotted canonicals)
        lit("<link rel=canonical href=sub/../rel-"), (id % 9).cast("string"),
        lit(".html>")))
      .otherwise(concat(lit("<title>N&nbsp;"), (id % 5).cast("string"),
        lit("</title>")))
    concat(lit("<html><head>"), head, lit("</head><body><p>b</p></body></html>"))
  }

  /** DuckDB twin of [[syntheticHtmlMeta]] ([[duckUrlRaw]]'s stripMargin
    * discipline: concat `||` at line ENDS only).
    */
  private[graft] lazy val duckHtmlMetaRaw: String =
    """'<html><head>' ||
      |  CASE WHEN doc_id % 4 = 0 THEN '<title>Doc ' || doc_id::VARCHAR ||
      |    ' &amp; Co</title><meta name="description" content="d ' ||
      |    (doc_id % 7)::VARCHAR ||
      |    ' &amp; x"><link rel="canonical" href="https://canon-' ||
      |    (doc_id % 6)::VARCHAR || '.example.com/c/' || (doc_id % 9)::VARCHAR ||
      |    '?id=1&amp;utm_source=f">'
      |  WHEN doc_id % 4 = 1 THEN '<title> Two  Words ' ||
      |    (doc_id % 5)::VARCHAR || ' </title><meta content=''flip ' ||
      |    (doc_id % 7)::VARCHAR || ''' name=''description''><link href=''/canon/' ||
      |    (doc_id % 9)::VARCHAR || ''' rel=''canonical''>'
      |  WHEN doc_id % 4 = 2 THEN '<link rel=canonical href=sub/../rel-' ||
      |    (doc_id % 9)::VARCHAR || '.html>'
      |  ELSE '<title>N&nbsp;' || (doc_id % 5)::VARCHAR || '</title>' END ||
      |  '</head><body><p>b</p></body></html>'""".stripMargin
}
