package graft

import graft.core.{DDF, DDFManager}
import graft.operators._
import graft.stats.{Sketches, Stats}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import EntryShared._

/** SparkEntry query rows — join / set-op rows (q18-q29, bk01, z01). Split from SparkEntry.scala by family
  * (r15 verdict ask #7); composed into the pinned registry by
  * [[SparkEntry.queries]].
  */
private[graft] object EntryJoinsQ {

  val qs: Seq[Q] = Seq(
    Q("q20_join_inner",
      (s, d) => {
        val m = mgr(s, d)
        // dimension chain: customer→nation→region, both dims broadcast-able
        val c = m.getDDFByName("customer")
        val n = m.getDDFByName("nation")
        val r = m.getDDFByName("region")
        val cn = Joins.join(c, n, "inner", byLeft = Seq("c_nationkey"),
          byRight = Seq("n_nationkey"), broadcastRight = true)
        val cnr = Joins.join(cn, r, "inner", byLeft = Seq("n_regionkey"),
          byRight = Seq("r_regionkey"), broadcastRight = true)
        cnr.df.select("c_custkey", "c_name", "n_name", "r_name").orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_name, n_name, r_name
             |FROM customer JOIN nation ON c_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |ORDER BY c_custkey""".stripMargin)),

    Q("q21_join_multikey",
      (s, d) => {
        val m = mgr(s, d)
        val li = m.getDDFByName("lineitem")
        val agg = m.register(li.df.groupBy("l_orderkey", "l_linenumber")
          .agg(count(lit(1)).as("n_parts")))
        Joins.join(li, agg, "inner",
          byLeft = Seq("l_orderkey", "l_linenumber"),
          byRight = Seq("l_orderkey", "l_linenumber"))
          .df.select(col("l.l_orderkey"), col("l.l_linenumber"), col("r.n_parts"))
          .orderBy("l_orderkey", "l_linenumber")
      },
      Some("""SELECT a.l_orderkey, a.l_linenumber, b.n_parts
             |FROM lineitem a
             |JOIN (SELECT l_orderkey, l_linenumber, count(*) AS n_parts
             |      FROM lineitem GROUP BY l_orderkey, l_linenumber) b
             |ON a.l_orderkey = b.l_orderkey AND a.l_linenumber = b.l_linenumber
             |ORDER BY a.l_orderkey, a.l_linenumber""".stripMargin)),

    Q("q22_join_left",
      (s, d) => {
        val m = mgr(s, d)
        Joins.join(m.getDDFByName("customer"), highOrders(m), "left",
          byLeft = Seq("c_custkey"), byRight = Seq("o_custkey"))
          .df.select(col("l.c_custkey"), col("r.o_orderkey"), col("r.o_totalprice"))
          .orderBy(col("c_custkey"), col("o_orderkey"))
      },
      Some(s"""SELECT c_custkey, o_orderkey, o_totalprice
              |FROM customer LEFT JOIN
              |  (SELECT * FROM orders WHERE o_totalprice > $HI) o
              |ON c_custkey = o_custkey
              |ORDER BY c_custkey, o_orderkey NULLS FIRST""".stripMargin)),

    Q("q23_join_right",
      (s, d) => {
        val m = mgr(s, d)
        Joins.join(highOrders(m), m.getDDFByName("customer"), "right",
          byLeft = Seq("o_custkey"), byRight = Seq("c_custkey"))
          .df.select(col("r.c_custkey"), col("l.o_orderkey"), col("l.o_totalprice"))
          .orderBy(col("c_custkey"), col("o_orderkey"))
      },
      Some(s"""SELECT c_custkey, o_orderkey, o_totalprice
              |FROM (SELECT * FROM orders WHERE o_totalprice > $HI) o
              |RIGHT JOIN customer ON o_custkey = c_custkey
              |ORDER BY c_custkey, o_orderkey NULLS FIRST""".stripMargin)),

    Q("q24_join_full",
      (s, d) => {
        val m = mgr(s, d)
        val evenCust = m.register(m.getDDFByName("customer").df
          .filter(col("c_custkey") % 2 === 0).select("c_custkey", "c_name"))
        Joins.join(evenCust, highOrders(m), "full",
          byLeft = Seq("c_custkey"), byRight = Seq("o_custkey"))
          .df.select(col("l.c_custkey"), col("l.c_name"), col("r.o_orderkey"))
          .orderBy(col("c_custkey"), col("o_orderkey"))
      },
      Some(s"""SELECT c_custkey, c_name, o_orderkey
              |FROM (SELECT c_custkey, c_name FROM customer WHERE c_custkey % 2 = 0) c
              |FULL JOIN (SELECT * FROM orders WHERE o_totalprice > $HI) o
              |ON c_custkey = o_custkey
              |ORDER BY c_custkey NULLS FIRST, o_orderkey NULLS FIRST""".stripMargin)),

    Q("q25_join_semi",
      (s, d) => {
        val m = mgr(s, d)
        Joins.join(m.getDDFByName("customer"), highOrders(m), "semi",
          byLeft = Seq("c_custkey"), byRight = Seq("o_custkey"))
          .df.select("c_custkey", "c_name").orderBy("c_custkey")
      },
      Some(s"""SELECT c_custkey, c_name FROM customer
              |WHERE EXISTS (SELECT 1 FROM orders
              |  WHERE o_totalprice > $HI AND o_custkey = c_custkey)
              |ORDER BY c_custkey""".stripMargin)),

    Q("q26_join_anti",
      (s, d) => {
        val m = mgr(s, d)
        Joins.join(m.getDDFByName("customer"), highOrders(m), "anti",
          byLeft = Seq("c_custkey"), byRight = Seq("o_custkey"))
          .df.select("c_custkey", "c_name").orderBy("c_custkey")
      },
      Some(s"""SELECT c_custkey, c_name FROM customer
              |WHERE NOT EXISTS (SELECT 1 FROM orders
              |  WHERE o_totalprice > $HI AND o_custkey = c_custkey)
              |ORDER BY c_custkey""".stripMargin)),

    Q("q27_union_all",
      (s, d) => {
        val m = mgr(s, d)
        val lo = m.register(m.getDDFByName("orders").df
          .filter(col("o_totalprice") < 100000).select("o_orderkey", "o_totalprice"))
        val hi = m.register(m.getDDFByName("orders").df
          .filter(col("o_totalprice") > HI).select("o_orderkey", "o_totalprice"))
        Joins.merge(lo, hi).df.orderBy("o_orderkey")
      },
      Some(s"""SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice < 100000
              |UNION ALL
              |SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice > $HI
              |ORDER BY o_orderkey""".stripMargin)),

    Q("q28_distinct",
      (s, d) => {
        val m = mgr(s, d)
        Joins.distinctRows(m.register(
          m.getDDFByName("lineitem").df.select("l_returnflag", "l_linestatus")))
          .df.orderBy("l_returnflag", "l_linestatus")
      },
      Some("""SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
             |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    Q("q18_intersect",
      (s, d) => {
        val m = mgr(s, d)
        // customers appearing in BOTH halves of the order book
        val o = m.getDDFByName("orders").df
        Joins.intersect(
            m.register(o.filter(col("o_orderkey") % 2 === 0).select("o_custkey")),
            m.register(o.filter(col("o_orderkey") % 2 === 1).select("o_custkey")))
          .df.orderBy("o_custkey")
      },
      Some("""SELECT o_custkey FROM orders WHERE o_orderkey % 2 = 0
             |INTERSECT
             |SELECT o_custkey FROM orders WHERE o_orderkey % 2 = 1
             |ORDER BY o_custkey""".stripMargin)),

    Q("q19_except",
      (s, d) => {
        val m = mgr(s, d)
        // customers with orders but never a high-priority one
        val o = m.getDDFByName("orders").df
        Joins.except(
            m.register(o.select("o_custkey")),
            m.register(o.filter(col("o_orderpriority") === "1-URGENT").select("o_custkey")))
          .df.orderBy("o_custkey")
      },
      Some("""SELECT o_custkey FROM orders
             |EXCEPT
             |SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
             |ORDER BY o_custkey""".stripMargin)),

    Q("q36_rollup",
      (s, d) => {
        val m = mgr(s, d)
        // OLAP rollup (subtotals + grand total) — extension the reference
        // lacks; NULL grouping markers compare exactly via the gate's
        // NULLS-FIRST ordering
        m.getDDFByName("lineitem").df
          .rollup("l_returnflag", "l_linestatus")
          .agg(count(lit(1)).as("n"),
            sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
          .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
      },
      Some("""SELECT l_returnflag, l_linestatus, count(*) AS n,
             |  (sum(l_quantity::DECIMAL(18,2)))::DOUBLE AS sum_qty
             |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
             |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)),

    Q("q86_cube",
      (s, d) => {
        val m = mgr(s, d)
        // all 4 grouping levels in one Expand+hash-agg pass; gid
        // disambiguates rollup NULLs from data NULLs
        Aggregations.cube(m.getDDFByName("lineitem"),
          Seq("l_returnflag", "l_linestatus"),
          Seq("n=count(*)", "sum_qty=sum(l_quantity)"))
          .df.withColumn("sum_qty", col("sum_qty").cast("decimal(18,2)").cast("double"))
          .orderBy(col("gid"), col("l_returnflag").asc_nulls_first,
            col("l_linestatus").asc_nulls_first)
      },
      Some("""SELECT GROUPING(l_returnflag, l_linestatus) AS gid,
             |  l_returnflag, l_linestatus, count(*) AS n,
             |  (sum(l_quantity)::DECIMAL(18,2))::DOUBLE AS sum_qty
             |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
             |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)),

    Q("q87_grouping_sets",
      (s, d) => {
        val m = mgr(s, d)
        // only the requested combinations — (status), (priority), ()
        // — skipping the full cross, unlike CUBE
        Aggregations.groupingSets(m.getDDFByName("orders"),
          Seq("o_orderstatus", "o_orderpriority"),
          Seq(Seq("o_orderstatus"), Seq("o_orderpriority"), Nil),
          Seq("n=count(*)", "mx=max(o_totalprice)"))
          .df.orderBy(col("gid"), col("o_orderstatus").asc_nulls_first,
            col("o_orderpriority").asc_nulls_first)
      },
      Some("""SELECT GROUPING(o_orderstatus, o_orderpriority) AS gid,
             |  o_orderstatus, o_orderpriority, count(*) AS n, max(o_totalprice) AS mx
             |FROM orders
             |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
             |ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin)),

    Q("q46_moments",
      (s, d) => mgr(s, d).sql2ddf(momentsSql).df,
      Some(momentsSql)),

    Q("q47_group_median",
      (s, d) => {
        val m = mgr(s, d)
        // exact median by middle-rank selection — integer ranking +
        // decimal mean, engine-independent (no double interpolation)
        Stats.groupMedian(m.getDDFByName("orders").df, "o_orderstatus", "o_totalprice")
          .orderBy("o_orderstatus")
      },
      Some("""WITH f AS (SELECT o_orderstatus, o_totalprice FROM orders
             |  WHERE o_totalprice IS NOT NULL),
             |r AS (SELECT o_orderstatus, o_totalprice,
             |    row_number() OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice) AS rn,
             |    count(*) OVER (PARTITION BY o_orderstatus) AS n FROM f)
             |SELECT o_orderstatus,
             |  sum(o_totalprice::DECIMAL(38,2))::DOUBLE / count(*) AS median
             |FROM r WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2
             |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    Q("q37_unpivot",
      (s, d) => {
        val m = mgr(s, d)
        // wide→long reshape (melt) — both engines name the value columns
        // identically, so values AND the metric label column hash-match
        m.getDDFByName("lineitem").df.filter(col("l_orderkey") < 100)
          .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount")
          .unpivot(Array(col("l_orderkey"), col("l_linenumber")),
            Array(col("l_quantity"), col("l_discount")), "metric", "val")
          .orderBy("l_orderkey", "l_linenumber", "metric")
      },
      Some("""SELECT l_orderkey, l_linenumber, metric, val FROM (
             |  UNPIVOT (SELECT l_orderkey, l_linenumber, l_quantity, l_discount
             |           FROM lineitem WHERE l_orderkey < 100)
             |  ON l_quantity, l_discount INTO NAME metric VALUE val)
             |ORDER BY l_orderkey, l_linenumber, metric""".stripMargin)),

    Q("q65_lag_delta",
      (s, d) => {
        val m = mgr(s, d)
        // lead/lag family: per-user value delta over event time (ts,
        // event_id is a unique total order; subtraction of identical
        // operands is fp-exact cross-engine)
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        m.getDDFByName("events").df
          .withColumn("prev_value", lag("value", 1).over(w))
          .select(col("event_id"), col("user_id"), col("value"),
            col("prev_value"), (col("value") - col("prev_value")).as("delta"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id, user_id, value,
             |  lag(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value,
             |  value - lag(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS delta
             |FROM events ORDER BY event_id""".stripMargin)),

    Q("q90_topk_by_group",
      (s, d) => {
        val m = mgr(s, d)
        // top-3 orders per status via the NATIVE bounded-heap aggregate
        // (map-side partial top-k — no window, no sort of the data; the
        // plan is pinned in ScaleSpec). Struct order (o_totalprice,
        // o_orderkey) descending ⇒ ties on price break to the greatest
        // key — the oracle's window mirrors that exactly.
        val o = m.getDDFByName("orders").df
          .select("o_orderstatus", "o_orderkey", "o_totalprice")
        operators.Views.topKByGroup(o, Seq("o_orderstatus"),
            Seq("o_totalprice", "o_orderkey"), k = 3)
          .orderBy(col("o_orderstatus"), col("o_totalprice").desc,
            col("o_orderkey").desc)
      },
      Some("""SELECT o_orderstatus, o_totalprice, o_orderkey FROM (
             |  SELECT o_orderstatus, o_orderkey, o_totalprice,
             |    row_number() OVER (PARTITION BY o_orderstatus
             |      ORDER BY o_totalprice DESC, o_orderkey DESC) AS rk
             |  FROM orders) WHERE rk <= 3
             |ORDER BY o_orderstatus, o_totalprice DESC, o_orderkey DESC""".stripMargin)),

    Q("q91_sql_bounded_topk",
      (s, d) => {
        val m = mgr(s, d)
        // the SAME query as q90 written in dialect SQL — proves the
        // native aggregate is part of the engine's SQL surface (the
        // manager registers GraftFunctions at construction), not just
        // the Scala API.
        m.sql2ddf(
          """select o_orderstatus, e.o_totalprice, e.o_orderkey from (
            |  select o_orderstatus,
            |    explode(bounded_top_k(struct(o_totalprice, o_orderkey), 3)) as e
            |  from orders group by o_orderstatus)
            |order by o_orderstatus, e.o_totalprice desc, e.o_orderkey desc""".stripMargin).df
      },
      Some("""SELECT o_orderstatus, o_totalprice, o_orderkey FROM (
             |  SELECT o_orderstatus, o_orderkey, o_totalprice,
             |    row_number() OVER (PARTITION BY o_orderstatus
             |      ORDER BY o_totalprice DESC, o_orderkey DESC) AS rk
             |  FROM orders) WHERE rk <= 3
             |ORDER BY o_orderstatus, o_totalprice DESC, o_orderkey DESC""".stripMargin)),

    Q("q92_budget_select",
      (s, d) => {
        val m = mgr(s, d)
        // greedy budget selection (round 12): the most valuable lineitems
        // whose quantities fit a 500k-unit budget, priority price DESC
        // with a unique (orderkey, linenumber) tie-break. The operator's
        // map-only sampled cutoff search + lazy filter replaces the
        // global single-task running-sum window the oracle uses — output
        // sets must be identical.
        val li = m.getDDFByName("lineitem").df
          .select("l_orderkey", "l_linenumber", "l_extendedprice", "l_quantity")
        operators.Views.budgetSelect(li,
            Seq(col("l_extendedprice").desc, col("l_orderkey").asc,
              col("l_linenumber").asc),
            "l_quantity", budget = 500000L)
          .select("l_orderkey", "l_linenumber", "l_extendedprice")
          .orderBy(col("l_extendedprice").desc, col("l_orderkey"),
            col("l_linenumber"))
      },
      Some("""SELECT l_orderkey, l_linenumber, l_extendedprice FROM (
             |  SELECT l_orderkey, l_linenumber, l_extendedprice,
             |    sum(CAST(l_quantity AS BIGINT)) OVER (
             |      ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
             |      ROWS UNBOUNDED PRECEDING) AS qty_cum
             |  FROM lineitem)
             |WHERE qty_cum <= 500000
             |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber""".stripMargin)),

    Q("q93_transform_r",
      (s, d) => {
        val m = mgr(s, d)
        // the reference's transformNativeRserve surface (round 13): base-R
        // transform() mutate expressions COMPILED to one Catalyst
        // projection (sql/RTransform) — no R process, no UDF. The
        // expression exercises the R semantics a naive SQL mapping gets
        // wrong: %% sign-of-divisor on a negative dividend, %/% floor
        // division as double, banker's round on exact .5 halves
        // (l_partkey/2), NA-free %in%, and paste0. Every derived value is
        // per-row integer-or-exact-double arithmetic — bit-identical in
        // any engine.
        m.getDDFByName("lineitem").transformR(
          """disc_price = l_extendedprice * (1 - l_discount),
            |qty_bucket = l_quantity %/% 10,
            |sgn_mod = as.integer((l_linenumber - 4L) %% 3L),
            |half_even = round(l_partkey / 2),
            |flag = ifelse(l_quantity > 30, tolower(l_returnflag), l_returnflag),
            |tag = paste0(l_returnflag, '-', l_linestatus),
            |in_set = l_returnflag %in% c('A', 'R')""".stripMargin).df
          .select("l_orderkey", "l_linenumber", "disc_price", "qty_bucket",
            "sgn_mod", "half_even", "flag", "tag", "in_set")
          .orderBy("l_orderkey", "l_linenumber")
      },
      Some("""SELECT l_orderkey, l_linenumber,
             |  l_extendedprice * (1 - l_discount) AS disc_price,
             |  floor(l_quantity / 10) AS qty_bucket,
             |  ((CAST(l_linenumber AS BIGINT) - 4) % 3 + 3) % 3 AS sgn_mod,
             |  CAST(l_partkey // 2 + CASE WHEN l_partkey % 2 = 1
             |         AND (l_partkey // 2) % 2 = 1 THEN 1 ELSE 0 END
             |       AS DOUBLE) AS half_even,
             |  CASE WHEN l_quantity > 30 THEN lower(l_returnflag)
             |       ELSE l_returnflag END AS flag,
             |  l_returnflag || '-' || l_linestatus AS tag,
             |  l_returnflag IN ('A', 'R') AS in_set
             |FROM lineitem
             |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    Q("q94_budget_select_by_group",
      (s, d) => {
        val m = mgr(s, d)
        // per-source char budgets, longest-documents-first with a doc_id
        // tie-break (round 13): three sources carry explicit budgets
        // (one of them zero — the whole source must vanish), the rest
        // ride defaultBudget. The operator's slim-window + cutoff-join
        // shape must equal the oracle's straight per-group running-sum
        // window. n_chars is integral and positive, so the peer-
        // inclusive RANGE frame both engines default to sees identical
        // sums.
        val docs = m.getDDFByName("documents").df
        operators.Views.budgetSelectByGroup(docs, "source",
            Seq(col("n_chars").desc, col("doc_id").asc), "n_chars",
            budgets = Map("src1" -> 5000L, "src3" -> 2500L, "src7" -> 0L),
            defaultBudget = 3000L)
          .select("doc_id", "source", "n_chars")
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, source, n_chars FROM (
             |  SELECT doc_id, source, n_chars,
             |    sum(n_chars) OVER (PARTITION BY source
             |      ORDER BY n_chars DESC, doc_id) AS rs
             |  FROM documents)
             |WHERE rs <= CASE source WHEN 'src1' THEN 5000
             |                        WHEN 'src3' THEN 2500
             |                        WHEN 'src7' THEN 0
             |                        ELSE 3000 END
             |ORDER BY doc_id""".stripMargin)),

    Q("ds03_budget_colossal_path",
      (s, d) => {
        val m = mgr(s, d)
        // q94's contract driven through the COLOSSAL branch (r15 verdict
        // ask #4): every source group holds >= 25 rows at every SF, so
        // colossalThreshold = 10 routes ALL groups off the window path
        // onto the shared range-exchange prefix scan (the all-colossal
        // regime — no Window anywhere in the plan; ScaleSpec pins the
        // plan shape, this row pins the VALUES against the same
        // per-group running-sum window oracle as q94). A zero budget
        // must vanish its whole group on this branch too.
        val docs = m.getDDFByName("documents").df
        operators.Views.budgetSelectByGroup(docs, "source",
            Seq(col("n_chars").desc, col("doc_id").asc), "n_chars",
            budgets = Map("src2" -> 0L, "src5" -> 4000L),
            defaultBudget = 2000L, colossalThreshold = 10L)
          .select("doc_id", "source", "n_chars")
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, source, n_chars FROM (
             |  SELECT doc_id, source, n_chars,
             |    sum(n_chars) OVER (PARTITION BY source
             |      ORDER BY n_chars DESC, doc_id) AS rs
             |  FROM documents)
             |WHERE rs <= CASE source WHEN 'src2' THEN 0
             |                        WHEN 'src5' THEN 4000
             |                        ELSE 2000 END
             |ORDER BY doc_id""".stripMargin)),

    Q("u03_mapreduce_r",
      (s, d) => {
        val m = mgr(s, d)
        // the reference's R keyval map-reduce (round 13), compiled to a
        // grouped aggregation — the documented TransformationHandlerSpec
        // shape plus an arithmetic reduce (range = max - min alongside
        // the sum). Deterministic: l_quantity is integral-valued, so
        // sum-of-doubles is IEEE-exact in any order at this scale.
        m.getDDFByName("lineitem").transformMapReduceNative(
          "function(part) { keyval(key=part$l_returnflag, val=part$l_quantity) }",
          "function(key, vv) { keyval.row(key=key, val=sum(vv) + (max(vv) - min(vv))) }").df
          .orderBy("key")
      },
      Some("""SELECT l_returnflag AS key,
             |  sum(l_quantity) + (max(l_quantity) - min(l_quantity)) AS val
             |FROM lineitem GROUP BY l_returnflag
             |ORDER BY key""".stripMargin)),

    Q("u04_index_encode",
      (s, d) => {
        val m = mgr(s, d)
        // frequency-ranked categorical ids (StringIndexer's frequencyDesc
        // contract, no fitted model): id 0 = most frequent, ties by value
        operators.Transforms.indexEncode(m.getDDFByName("orders"),
            "o_orderpriority", "prio_id").df
          .groupBy("o_orderpriority", "prio_id")
          .agg(count(lit(1)).as("n"))
          .orderBy("prio_id")
      },
      Some("""WITH c AS (SELECT o_orderpriority, count(*) AS n FROM orders
             |  WHERE o_orderpriority IS NOT NULL GROUP BY 1)
             |SELECT o_orderpriority,
             |  (row_number() OVER (ORDER BY n DESC, o_orderpriority) - 1)::BIGINT
             |    AS prio_id,
             |  n::BIGINT AS n
             |FROM c ORDER BY prio_id""".stripMargin)),

    Q("q88_window_distribution",
      (s, d) => {
        val m = mgr(s, d)
        // distribution-window family: ntile / percent_rank / cume_dist.
        // The order key (o_totalprice DESC, o_orderkey) is a unique total
        // order, so ntile bucket boundaries are deterministic;
        // percent_rank (rk−1)/(n−1) and cume_dist rk/n are single IEEE
        // divisions of exact integers — identical in any engine.
        m.sql2ddf(
          """select o_orderkey, o_orderstatus,
            |  ntile(4) over w as price_quartile,
            |  round(percent_rank() over w, 9) as pct_rank,
            |  round(cume_dist() over w, 9) as cume
            |from orders
            |window w as (partition by o_orderstatus
            |             order by o_totalprice desc, o_orderkey)
            |order by o_orderkey""".stripMargin).df
      },
      Some("""SELECT o_orderkey, o_orderstatus,
             |  ntile(4) OVER w AS price_quartile,
             |  round(percent_rank() OVER w, 9) AS pct_rank,
             |  round(cume_dist() OVER w, 9) AS cume
             |FROM orders
             |WINDOW w AS (PARTITION BY o_orderstatus
             |             ORDER BY o_totalprice DESC, o_orderkey)
             |ORDER BY o_orderkey""".stripMargin)),

    Q("q29_salted_join",
      (s, d) => {
        val m = mgr(s, d)
        // salting only changes the shuffle distribution — the oracle is
        // the PLAIN join, proving output-equivalence through the gate
        operators.Joins.saltedJoin(
          m.getDDFByName("lineitem").df.select("l_orderkey", "l_partkey", "l_quantity"),
          m.getDDFByName("part").df.select("p_partkey", "p_brand")
            .withColumnRenamed("p_partkey", "l_partkey"),
          Seq("l_partkey"), saltFactor = 8)
          .groupBy("p_brand").agg(
            count(lit(1)).as("n"),
            sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
          .orderBy("p_brand")
      },
      Some("""SELECT p_brand, count(*) AS n,
             |  (sum(l_quantity::DECIMAL(18,2)))::DOUBLE AS sum_qty
             |FROM lineitem JOIN part ON l_partkey = p_partkey
             |GROUP BY p_brand ORDER BY p_brand""".stripMargin))
  )
}
