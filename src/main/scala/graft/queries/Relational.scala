package graft.queries

import graft.{Graft, QueryBlock, QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational core (SURVEY.md §2 block C): the capabilities the reference
  * reaches through pandas, re-expressed as declarative DataFrame programs so
  * Catalyst plans them (pushdown, pruning, join selection, AQE — §4.2).
  *
  * Every query: totally ordered output, aliased columns matching the oracle
  * SQL, order-independent double arithmetic (Graft.sumD2/avgD2 decimal trick)
  * so the driver's hash compare sees bit-identical values from both engines.
  */
object Relational extends QueryBlock {
  import Graft._

  private def t(s: SparkSession, dir: String, n: String): DataFrame = Tables(s, dir, n)

  /** C9/C9b body: count part keys with a discounted line and no taxed
    * line. Domain-adaptive: a key span ≤ DenseKeyFlags.DomainMax takes
    * the join-free dense-bitmap ObjectHashAggregate (fixed-size state,
    * one scan each side, no shuffle of raw keys); a wider span falls
    * back to bounded-key groupBy + broadcast left-semi. `keyScale`
    * stretches the key domain bijectively (result unchanged) so BOTH
    * routes run under the driver gate — c09 dense, c09b (×2^22)
    * fallback.
    */
  private def semiAntiCount(s: SparkSession, dir: String, keyScale: Long): DataFrame = {
    import graft.operators.DenseKeyFlags
    val p = t(s, dir, "part")
      .select((col("p_partkey").cast("long") * keyScale).as("p_partkey"))
    val l = t(s, dir, "lineitem")
      .withColumn("l_partkey", col("l_partkey").cast("long") * keyScale)
    val range = DenseKeyFlags.keyRange(p, "p_partkey", s, s"$dir/part#x$keyScale")
    val dense = range.exists { case (lo, hi) =>
      val span = hi - lo + 1
      span > 0 && span <= DenseKeyFlags.DomainMax
    }
    if (dense) {
      import s.implicits._
      val (lo, hi) = range.get
      val words = ((hi - lo) >> 6).toInt + 1
      // packed input: (key − lo)*8 | mask — bit2 = part row, bit0 =
      // discounted line, bit1 = taxed line; out-of-span keys resolve
      // to out-of-range words and are ignored by the aggregator
      val pk = p.select(((col("p_partkey") - lit(lo)) * 8 + 4).as("km"))
        .filter(col("km").isNotNull)
      val lk = l.select(((col("l_partkey") - lit(lo)) * 8
          + (col("l_discount") > 0.05).cast("int")
          + (col("l_tax") > 0.07).cast("int") * 2).as("km"))
        .filter(col("km") % 8 =!= 0) // drops flagless rows and NULL keys
      val agg = new DenseKeyFlags.DensePackedAgg(words)
      pk.unionByName(lk).as[Long].select(agg.toColumn.name("n")).toDF()
    } else {
      val keys = l.select(col("l_partkey"),
        (col("l_discount") > 0.05).as("disc"), (col("l_tax") > 0.07).as("taxed"))
        .filter(col("disc") || col("taxed"))
        .groupBy(col("l_partkey"))
        .agg(max(col("disc")).as("disc"), max(col("taxed")).as("taxed"))
        .filter(col("disc") && !col("taxed"))
      keys.join(broadcast(p), col("l_partkey") === col("p_partkey"), "left_semi")
        .agg(count(lit(1)).as("n"))
    }
  }

  val queries: Map[String, QueryDef] = Map(
    // C14/C5 — flagship: TPC-H Q1-style pricing summary (BASELINE B1).
    // Each money column converts to exact cents ONCE in a projection below
    // the aggregate; all seven aggregates reuse the projected longs.
    // Catalyst's codegen subexpression elimination does not share the
    // floor(x*100+.5) chains across distinct aggregate update expressions,
    // so without the pre-projection each chain re-evaluates per aggregate —
    // measured 2.4x slower at sf0.1. Final ORDER BY is the top-K form
    // (6 groups: domain-bounded, provably under the 10k cap).
    "c14_pricing_summary" -> QueryDef(
      (s, dir) => {
        val li = t(s, dir, "lineitem")
          .filter(col("l_shipdate") <= lit("2024-09-01").cast("timestamp"))
          .select(col("l_returnflag"), col("l_linestatus"),
            cents2(col("l_quantity")).as("qc"),
            cents2(col("l_extendedprice")).as("ec"),
            cents2(col("l_discount")).as("dc"))
        li.groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(
            (sum(col("qc")).cast("double") / lit(100.0)).as("sum_qty"),
            (sum(col("ec")).cast("double") / lit(100.0)).as("sum_base_price"),
            (sum(col("ec") * (lit(100L) - col("dc"))).cast("double") / lit(10000.0)).as("sum_disc_price"),
            ((sum(col("qc")).cast("double") / lit(100.0)) / count(col("qc"))).as("avg_qty"),
            ((sum(col("dc")).cast("double") / lit(100.0)) / count(col("dc"))).as("avg_disc"),
            count(lit(1)).as("count_order"))
          .transform(sortSmallTopK(_, col("l_returnflag"), col("l_linestatus")))
      },
      Some(s"""SELECT l_returnflag, l_linestatus,
        ${sqlSumD2("l_quantity")} AS sum_qty,
        ${sqlSumD2("l_extendedprice")} AS sum_base_price,
        CAST(sum(CAST(floor((l_extendedprice)*100 + 0.5) AS BIGINT) * (100 - CAST(floor((l_discount)*100 + 0.5) AS BIGINT))) AS DOUBLE) / CAST(10000 AS DOUBLE) AS sum_disc_price,
        ${sqlAvgD2("l_quantity")} AS avg_qty,
        ${sqlAvgD2("l_discount")} AS avg_disc,
        count(*) AS count_order
        FROM lineitem WHERE l_shipdate <= TIMESTAMP '2024-09-01'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus""")),

    // C1 — raw parquet scan, full fidelity (ms timestamps are µs-safe).
    "c01_scan_orders" -> QueryDef(
      (s, dir) => t(s, dir, "orders").orderBy(col("o_orderkey")),
      Some("SELECT * FROM orders ORDER BY o_orderkey")),

    // C4 — projection / rename / computed columns.
    "c04_project" -> QueryDef(
      (s, dir) =>
        t(s, dir, "orders").select(
          col("o_orderkey"),
          col("o_totalprice").as("price"),
          (col("o_totalprice") * lit(2)).as("price2"), // *2 is exact in ieee754
          upper(col("o_orderpriority")).as("prio_uc"),
          year(col("o_orderdate")).as("o_year"))
          .orderBy(col("o_orderkey")),
      Some("""SELECT o_orderkey, o_totalprice AS price,
        o_totalprice * 2 AS price2,
        upper(o_orderpriority) AS prio_uc,
        CAST(extract(year FROM o_orderdate) AS INT) AS o_year
        FROM orders ORDER BY o_orderkey""")),

    // C5 — filters: IN-list, BETWEEN, LIKE, null-safe.
    "c05_filter" -> QueryDef(
      (s, dir) =>
        t(s, dir, "part")
          .filter(col("p_type").isin("ECONOMY", "SMALL") &&
            col("p_size").between(5, 40) &&
            col("p_brand").like("Brand#1%") &&
            col("p_retailprice").isNotNull)
          .select(col("p_partkey"), col("p_name"), col("p_brand"), col("p_size"))
          .orderBy(col("p_partkey")),
      Some("""SELECT p_partkey, p_name, p_brand, p_size FROM part
        WHERE p_type IN ('ECONOMY','SMALL') AND p_size BETWEEN 5 AND 40
          AND p_brand LIKE 'Brand#1%' AND p_retailprice IS NOT NULL
        ORDER BY p_partkey""")),

    // C6 — CASE/WHEN, coalesce, nullif, cast.
    "c06_conditional" -> QueryDef(
      (s, dir) =>
        t(s, dir, "orders").select(
          col("o_orderkey"),
          when(col("o_totalprice") > 300000, "big")
            .when(col("o_totalprice") > 100000, "mid")
            .otherwise("small").as("bucket"),
          coalesce(nullif(col("o_orderstatus"), lit("O")), lit("open")).as("status_x"),
          col("o_totalprice").cast("long").as("price_floor"))
          .orderBy(col("o_orderkey")),
      Some("""SELECT o_orderkey,
        CASE WHEN o_totalprice > 300000 THEN 'big'
             WHEN o_totalprice > 100000 THEN 'mid' ELSE 'small' END AS bucket,
        coalesce(nullif(o_orderstatus,'O'), 'open') AS status_x,
        CAST(trunc(o_totalprice) AS BIGINT) AS price_floor
        FROM orders ORDER BY o_orderkey""")),

    // C7/C15 — three-way equi-join + count distinct (BASELINE B2).
    // Plan: ONE shuffle on the order key. Lineitem rows (cents term) and
    // orders rows (custkey carrier) union into a single per-orderkey
    // aggregate — long-only buffers, so it stays a HashAggregate with
    // map-side combine — replacing the previous [lineitem exchange +
    // orders exchange + shuffled-hash join] with [union exchange + agg]
    // (measured 303→274 ms AQE, 10 stages → 7, equality-checked). The
    // count distinct collapses to a plain count because orderkey is the
    // aggregate key; max(custkey) is exact because each order key has
    // exactly one orders row; orders with no lineitems drop via the
    // lineitem-row count (NOT a cts IS NOT NULL test: an order whose
    // lineitem rows all carry NULL price terms still joins under inner
    // semantics and must stay in n_orders). Only the CUSTOMER
    // dim broadcasts, and only ABOVE the aggregate (150k probe rows, not
    // 600k). At 100 TB: one orderkey-hashed exchange of narrow rows, no
    // join build sized to data volume, no driver-side collection;
    // per-order line counts are bounded so the key cannot skew.
    "c07_join_agg" -> QueryDef(
      (s, dir) => {
        val c = t(s, dir, "customer")
        val o = t(s, dir, "orders")
        val l = t(s, dir, "lineitem")
        val li = l.select(col("l_orderkey").as("k"),
          lit(null).cast("long").as("ck"),
          (cents2(col("l_extendedprice")) * (lit(100L) - cents2(col("l_discount")))).as("v"),
          lit(1L).as("lc"))
        val os = o.select(col("o_orderkey").as("k"),
          col("o_custkey").cast("long").as("ck"), lit(null).cast("long").as("v"),
          lit(0L).as("lc"))
        li.unionByName(os)
          // r18 optimization (guide §2.3/§1.2): the union keys are ~unique
          // within any map task (orderkeys are uniform-random across the
          // scan), so the map-side partial HashAggregate builds a
          // task-sized hash table for near-zero collapse — pure CPU+memory
          // overhead on the same shuffle bytes. repartition(k) moves the
          // raw rows through the one exchange and aggregates once,
          // reducer-side (partial+final fuse into one stage with no
          // barrier). Measured (Lab, AQE on): sf10 6.12 s → 3.99 s (−35%),
          // sf1 743 → 670 ms, sf0.1 flat; equality-checked. The same
          // property holds at 100 TB: per-order line counts are bounded,
          // so orderkeys stay ~unique per task and the partial pass can
          // never pay for itself on this shape.
          .repartition(col("k"))
          .groupBy(col("k"))
          .agg(max(col("ck")).as("ck"), sum(col("v")).as("cts"), sum(col("lc")).as("lc"))
          .filter(col("lc") > 0)
          .join(broadcast(c.select(col("c_custkey"), col("c_mktsegment"))),
            col("ck") === col("c_custkey"))
          .groupBy(col("c_mktsegment"))
          .agg(
            count(lit(1)).as("n_orders"),
            (sum(col("cts")).cast("double") / lit(10000.0)).as("revenue"))
          .transform(sortSmallTopK(_, col("c_mktsegment"))) // 5 segments
      },
      Some("""SELECT c_mktsegment, count(DISTINCT o_orderkey) AS n_orders,
        CAST(sum(CAST(floor((l_extendedprice)*100 + 0.5) AS BIGINT) * (100 - CAST(floor((l_discount)*100 + 0.5) AS BIGINT))) AS DOUBLE) / CAST(10000 AS DOUBLE) AS revenue
        FROM customer JOIN orders ON c_custkey=o_custkey JOIN lineitem ON l_orderkey=o_orderkey
        GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    // C8 — broadcast dim join (region 5 / nation 25 rows: classic star probe).
    "c08_broadcast_join" -> QueryDef(
      (s, dir) => {
        val c = t(s, dir, "customer")
        val n = broadcast(t(s, dir, "nation"))
        val r = broadcast(t(s, dir, "region"))
        c.join(n, col("c_nationkey") === col("n_nationkey"))
          .join(r, col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("r_name"))
          .agg(count(lit(1)).as("n_cust"), sumD2(col("c_acctbal")).as("sum_bal"))
          .orderBy(col("r_name"))
      },
      Some(s"""SELECT r_name, count(*) AS n_cust,
        ${sqlSumD2("c_acctbal")} AS sum_bal
        FROM customer JOIN nation ON c_nationkey=n_nationkey
        JOIN region ON n_regionkey=r_regionkey
        GROUP BY r_name ORDER BY r_name""")),

    // C9 — semi + anti join via IN / NOT IN subqueries (BASELINE B8).
    // Plan: ONE lineitem scan computing both membership flags per partkey
    // (filter to disc-or-taxed rows first, then a boolean max aggregate —
    // map-side combined to at most |part| rows per task), filtered to the
    // combined condition disc AND NOT taxed. The IN/NOT-IN pair fuses into
    // the flag filter: a partkey survives iff it has a discounted line and
    // no taxed line, exactly the subquery semantics (NULL l_partkey groups
    // never equi-match, mirroring the oracle's IS NOT NULL guard). The
    // count then only needs which survivors EXIST in part, so the join
    // direction flips: part's key projection — the smallest participating
    // set, and the only side the previous plan did NOT broadcast —
    // broadcasts into the flag stage, which never re-shuffles. vs the
    // previous two-scan double-broadcast plan: half the fact-scan work,
    // one 300k-row driver build replaced by a |part|-key build, and the
    // flag aggregate's partitioning is consumed in place (measured
    // equality-checked, fastest AQE variant of five tried). At 100 TB the
    // hint comes off and runtime stats pick the join side; the flag
    // aggregate shape (one key-hashed exchange, bounded state) is
    // unchanged.
    // Perf lineage: eleven Lab variants on record. The fastest at sf1 are
    // the dense-bitmap aggregates (c09_bitmap_agg/packed, ~0.73× the
    // flag-agg — NOTES_r9 item 6), whose fixed aggregation state scales
    // with the part-key DOMAIN rather than the data: three bitmaps, ONE
    // buffer per task, so partial volume stops scaling with key count.
    // That is the wrong unconditional trade at 100 TB (2.5 GB buffers at
    // ~20B parts), so the shipping plan is DOMAIN-ADAPTIVE (VERDICT r10
    // item 1b): a dim-side min/max(p_partkey) probe — one column of the
    // smallest participating table, answerable from parquet footer stats
    // or catalog statistics on any real lakehouse — selects the dense
    // bitmap when the key SPAN fits DenseKeyFlags.DomainMax (2^24 → 3 ×
    // 2 MiB buffers/task), else the domain-proportional flag aggregate.
    // Soundness of probing the DIM side only: the answer set is ⊆ part,
    // and any lineitem key outside part's [lo, hi] span lands outside the
    // bitmap and is ignored — it cannot be a member.
    "c09_semi_anti" -> QueryDef(
      (s, dir) => semiAntiCount(s, dir, keyScale = 1L),
      Some("""SELECT count(*) AS n FROM part
        WHERE p_partkey IN (SELECT l_partkey FROM lineitem WHERE l_discount>0.05)
          AND p_partkey NOT IN (SELECT l_partkey FROM lineitem WHERE l_tax>0.07 AND l_partkey IS NOT NULL)""")),

    // C9b — the SAME semi/anti operator with the key domain widened past
    // DenseKeyFlags.DomainMax (keys × 2^22 — bijective, so the count is
    // identical), forcing the >2^24-span FALLBACK route (bounded-key
    // groupBy + broadcast left-semi) under the driver gate; the dense
    // path alone was plan-pinned before, the routing only spec-level
    // (r16, VERDICT item 6). PlanSpec pins the fallback plan shape.
    "c09b_semi_anti_wide" -> QueryDef(
      (s, dir) => semiAntiCount(s, dir, keyScale = 1L << 22),
      Some("""SELECT count(*) AS n FROM part
        WHERE p_partkey*4194304 IN (SELECT l_partkey*4194304 FROM lineitem WHERE l_discount>0.05)
          AND p_partkey*4194304 NOT IN (SELECT l_partkey*4194304 FROM lineitem WHERE l_tax>0.07 AND l_partkey IS NOT NULL)""")),

    // C10 — cross join (small fixture).
    "c10_cross_join" -> QueryDef(
      (s, dir) => {
        val r = t(s, dir, "region").select(col("r_name"))
        val r2 = t(s, dir, "region").select(col("r_name").as("r_name2"))
        r.crossJoin(r2).orderBy(col("r_name"), col("r_name2"))
      },
      Some("""SELECT a.r_name AS r_name, b.r_name AS r_name2
        FROM region a CROSS JOIN region b ORDER BY r_name, r_name2""")),

    // C11 — theta (non-equi) join: BNL on purpose; tiny build side.
    "c11_theta_join" -> QueryDef(
      (s, dir) => {
        val sup = t(s, dir, "supplier")
        val c = t(s, dir, "customer")
        sup.join(c, col("c_acctbal") > col("s_acctbal"))
          .groupBy(col("s_suppkey"))
          .agg(count(lit(1)).as("n_richer"))
          .orderBy(col("s_suppkey"))
      },
      Some("""SELECT s_suppkey, count(*) AS n_richer
        FROM supplier JOIN customer ON c_acctbal > s_acctbal
        GROUP BY s_suppkey ORDER BY s_suppkey""")),

    // C15 — multi count-distinct.
    "c15_multi_distinct" -> QueryDef(
      (s, dir) =>
        t(s, dir, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(
            countDistinct(col("l_partkey")).as("nd_part"),
            countDistinct(col("l_suppkey")).as("nd_supp"),
            count(lit(1)).as("n"))
          .orderBy(col("l_returnflag")),
      Some("""SELECT l_returnflag, count(DISTINCT l_partkey) AS nd_part,
        count(DISTINCT l_suppkey) AS nd_supp, count(*) AS n
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // C20 — ROLLUP with grouping() disambiguation (BASELINE B4 + grouping ids).
    // Pre-aggregate to (nationkey, status) BEFORE the rollup: stock rollup
    // feeds Expand with every joined row ×3 (a full-input replication that
    // triples the 100 TB shuffle); aggregating the ~75-group set first makes
    // the Expand trivial — margins are exact sums of the longs (cents sums
    // and counts are associative), and the 25-row nation dim joins AFTER
    // the heavy aggregation, against 75 rows instead of every order.
    // r13: the orders⋈customer BroadcastHashJoin is replaced by
    // operators.DenseDimJoin — custkey is a dense integer domain and
    // nationkey fits a byte, so the 1.5M-entry (at sf10) hashed
    // relation (driver-built single-threaded, ~50 MB shipped) becomes
    // a 1.5 MB broadcast byte array probed by a bounds-checked index
    // from INSIDE the scan's whole-stage codegen; lookup + notNull
    // filter reproduces the inner join exactly (unique keys). Measured
    // at sf10 (Lab, AQE on, width 32): 1094 ms → 725 ms, results
    // canon-equal; the r12 candidates — orders-side pre-aggregation
    // (2277 ms) and shuffled-hash o⋈c (1158 ms) — both lose, and the
    // c20_floor probe (identical stage shape, zero rows) reads 765 ms,
    // so the BHJ build WAS most of the non-floor cost. The same
    // broadcastability precondition as the BHJ it replaces, at ~1/30
    // the memory; at a scale where the dim stops fitting, neither plan
    // exists and the join degrades to shuffle on both engines.
    // Stage count is a floor, not a defect: the rollup aggregate ALWAYS
    // plans its own exchange because ExpandExec reports
    // UnknownPartitioning (the expanded null keys invalidate any child
    // partitioning), so no coalesce placement below the rollup can elide
    // it — measured: the coalesce(1)-fused attempt costs MORE even on
    // the ddim shape (Lab c20_ddim2 777 ms vs c20_ddim 725 ms).
    "c20_rollup" -> QueryDef(
      (s, dir) => {
        val o = t(s, dir, "orders")
        val n = broadcast(t(s, dir, "nation"))
        // adaptive (VERDICT r13 item 2): dense codegen lookup when the
        // customer key domain packs (the common case, probed via the
        // memoized one-agg dim-stats), plain broadcast join when it
        // doesn't — degrade, don't crash. r18: the pack is built from a
        // driver-local parquet read (withValueLocal) — the Spark collect
        // job it replaces was paid on every execution (guide §1.2); same
        // routing, same reject rules, file re-read per call.
        val pre = graft.operators.DenseDimJoin.withValueLocal(
          o, "o_custkey", s, s"$dir/customer.parquet", t(s, dir, "customer"),
          "c_custkey", "c_nationkey", s"$dir/customer")
          .groupBy(col("c_nationkey"), col("o_orderstatus"))
          .agg(count(lit(1)).as("__cnt"), sum(cents4(col("o_totalprice"))).as("__sp"))
          .join(n, col("c_nationkey") === col("n_nationkey"))
        pre.rollup(col("n_name"), col("o_orderstatus"))
          .agg(sum(col("__cnt")).as("n"),
            (sum(col("__sp")).cast("double") / lit(10000.0)).as("sum_price"))
          // nation × status (+rollup margins) ≈ 101 groups: domain-bounded
          .transform(sortSmallTopK(_, col("n_name").asc_nulls_first, col("o_orderstatus").asc_nulls_first))
      },
      Some(s"""SELECT n_name, o_orderstatus, count(*) AS n,
        ${sqlSumD4("o_totalprice")} AS sum_price
        FROM orders JOIN customer ON o_custkey=c_custkey JOIN nation ON c_nationkey=n_nationkey
        GROUP BY ROLLUP(n_name, o_orderstatus)
        ORDER BY n_name NULLS FIRST, o_orderstatus NULLS FIRST""")),

    // C20b — CUBE over the same join (all four grouping combinations; the
    // §2 C20 row claims rollup/cube/grouping sets — each gets a query).
    "c20b_cube" -> QueryDef(
      (s, dir) => {
        val o = t(s, dir, "orders")
        val c = t(s, dir, "customer")
        val n = broadcast(t(s, dir, "nation"))
        o.join(c, col("o_custkey") === col("c_custkey"))
          .join(n, col("c_nationkey") === col("n_nationkey"))
          .cube(col("n_name"), col("o_orderstatus"))
          .agg(count(lit(1)).as("n"), sumD4(col("o_totalprice")).as("sum_price"))
          .transform(sortSmallFused(_, col("n_name").asc_nulls_first, col("o_orderstatus").asc_nulls_first))
      },
      Some(s"""SELECT n_name, o_orderstatus, count(*) AS n,
        ${sqlSumD4("o_totalprice")} AS sum_price
        FROM orders JOIN customer ON o_custkey=c_custkey JOIN nation ON c_nationkey=n_nationkey
        GROUP BY CUBE(n_name, o_orderstatus)
        ORDER BY n_name NULLS FIRST, o_orderstatus NULLS FIRST""")),

    // C20c — explicit GROUPING SETS with grouping_id disambiguation (the
    // only form that can tell a subtotal NULL from a data NULL) through
    // the SQL entry point — the DataFrame API exposes rollup/cube only.
    "c20c_grouping_sets" -> QueryDef(
      (s, dir) => {
        Tables.registerAll(s, dir)
        s.sql(s"""SELECT n_name, o_orderstatus,
          CAST(grouping(n_name) AS INT) AS g_name,
          CAST(grouping(o_orderstatus) AS INT) AS g_status,
          count(*) AS n, ${sqlSumD4("o_totalprice")} AS sum_price
          FROM orders JOIN customer ON o_custkey=c_custkey JOIN nation ON c_nationkey=n_nationkey
          GROUP BY GROUPING SETS ((n_name), (o_orderstatus), ())
          ORDER BY g_name, g_status, n_name NULLS FIRST, o_orderstatus NULLS FIRST""")
      },
      Some(s"""SELECT n_name, o_orderstatus,
        CAST(grouping(n_name) AS INT) AS g_name,
        CAST(grouping(o_orderstatus) AS INT) AS g_status,
        count(*) AS n, ${sqlSumD4("o_totalprice")} AS sum_price
        FROM orders JOIN customer ON o_custkey=c_custkey JOIN nation ON c_nationkey=n_nationkey
        GROUP BY GROUPING SETS ((n_name), (o_orderstatus), ())
        ORDER BY g_name, g_status, n_name NULLS FIRST, o_orderstatus NULLS FIRST""")),

    // C21/C8 — ranking window over broadcast-joined dims (BASELINE B3).
    "c21_rank_window" -> QueryDef(
      (s, dir) => {
        val c = t(s, dir, "customer")
        // Nation is TYPE-BOUNDED (25 rows by schema): one bounded
        // driver-side collect into a literal map beats a broadcast join
        // here — no BroadcastExchange build job, no join node, just a
        // codegen'd map probe inside the scan stage (the c20
        // dense_dim_lookup argument; string values rule that operator
        // out). The isNotNull filter below reproduces the INNER join
        // exactly and evaluates BEFORE the window, like the SQL's
        // join-then-window order.
        // r18 optimization: the bounded collect is a DRIVER-LOCAL parquet
        // read (operators.LocalParquet) — the Spark-job form paid a full
        // schedule+collect round-trip (~30-40 ms) per query execution for
        // 25 rows. Same bytes read from the same file on every execution
        // (no caching); the job disappears from the query's critical path.
        // r19 (ADVICE): degrade to the original Spark collect when the
        // driver-local read is impossible (non-local filesystem,
        // unexpected layout) — mirroring DenseDimJoin's fallback path.
        val names = typedLit(
          (try graft.operators.LocalParquet
            .readAll(s"$dir/nation.parquet", Seq("n_nationkey", "n_name"))
            .map(r => r(0).asInstanceOf[Int] -> r(1).asInstanceOf[String])
          catch { case scala.util.control.NonFatal(_) =>
            t(s, dir, "nation").select(col("n_nationkey"), col("n_name"))
              .collect().toSeq.map(r => r.getInt(0) -> r.getString(1))
          }).toMap)
        val w = Window.partitionBy(col("c_nationkey"))
          .orderBy(col("c_acctbal").desc, col("c_custkey"))
        c.select(col("c_nationkey"), col("c_name"), col("c_acctbal"),
            col("c_custkey"), element_at(names, col("c_nationkey")).as("n_name"))
          .filter(col("n_name").isNotNull)
          .select(col("n_name"), col("c_name"), col("c_acctbal"),
            row_number().over(w).as("rn"))
          .filter(col("rn") <= 3)
          // ≤ 3·|nation| rows — STRUCTURALLY bounded, so the top-K form
          // applies: TakeOrderedAndProject merges a few sorted rows per
          // window-stage partition on the driver, where sortSmall paid a
          // whole extra stage (Exchange SinglePartition + Sort) for the
          // same ≤75 rows (r16, VERDICT item 1: one stage fewer at sf1).
          .transform(sortSmallTopK(_, col("n_name"), col("rn")))
      },
      Some("""SELECT * FROM (SELECT n_name, c_name, c_acctbal,
        row_number() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) rn
        FROM customer JOIN nation ON c_nationkey=n_nationkey) WHERE rn<=3
        ORDER BY n_name, rn""")),

    // C21b — the remaining ranking/distribution window functions SURVEY
    // C21/C22 name: ntile, percent_rank, cume_dist, nth_value. The window
    // orders by a UNIQUE key pair so RANGE-frame peer semantics (cume_dist,
    // nth_value's default frame) cannot diverge between engines.
    "c21b_rank_extras" -> QueryDef(
      (s, dir) => {
        val w = Window.partitionBy(col("c_nationkey"))
          .orderBy(col("c_acctbal").desc, col("c_custkey"))
        t(s, dir, "customer")
          .filter(col("c_custkey") < 2000)
          .select(col("c_nationkey"), col("c_custkey"), col("c_acctbal"),
            ntile(4).over(w).as("quartile"),
            round(percent_rank().over(w), 6).as("pr"),
            round(cume_dist().over(w), 6).as("cd"),
            nth_value(col("c_custkey"), 2).over(w).as("second_key"))
          .orderBy(col("c_nationkey"), col("c_custkey"))
      },
      Some("""SELECT c_nationkey, c_custkey, c_acctbal,
        CAST(ntile(4) OVER w AS INT) AS quartile,
        round(percent_rank() OVER w, 6) AS pr,
        round(cume_dist() OVER w, 6) AS cd,
        nth_value(c_custkey, 2) OVER w AS second_key
        FROM customer WHERE c_custkey < 2000
        WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey)
        ORDER BY c_nationkey, c_custkey""")),

    // C22 — lag/lead analytics.
    "c22_lag_lead" -> QueryDef(
      (s, dir) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate"), col("o_orderkey"))
        t(s, dir, "orders")
          .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
            lag(col("o_totalprice"), 1).over(w).as("prev_price"),
            lead(col("o_totalprice"), 1).over(w).as("next_price"))
          .orderBy(col("o_custkey"), col("o_orderkey"))
      },
      Some("""SELECT o_custkey, o_orderkey, o_totalprice,
        lag(o_totalprice, 1) OVER w AS prev_price,
        lead(o_totalprice, 1) OVER w AS next_price
        FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        ORDER BY o_custkey, o_orderkey""")),

    // C23 — aggregate window with a running frame (decimal = exact).
    "c23_running_sum" -> QueryDef(
      (s, dir) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate"), col("o_orderkey"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        t(s, dir, "orders")
          .select(col("o_custkey"), col("o_orderkey"),
            (sum(cents4(col("o_totalprice"))).over(w).cast("double") / lit(10000.0)).as("running_spend"))
          .orderBy(col("o_custkey"), col("o_orderkey"))
      },
      Some("""SELECT o_custkey, o_orderkey,
        CAST(sum(CAST(floor((o_totalprice)*10000 + 0.5) AS BIGINT)) OVER (PARTITION BY o_custkey
          ORDER BY o_orderdate, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / CAST(10000 AS DOUBLE) AS running_spend
        FROM orders ORDER BY o_custkey, o_orderkey""")),

    // C24 — global multi-key sort with synthesized NULLS FIRST/LAST.
    "c24_sort_nulls" -> QueryDef(
      (s, dir) =>
        t(s, dir, "orders")
          .select(col("o_orderkey"),
            nullif(col("o_orderstatus"), lit("O")).as("status_n"))
          .orderBy(col("status_n").asc_nulls_first, col("o_orderkey").desc),
      Some("""SELECT o_orderkey, nullif(o_orderstatus,'O') AS status_n
        FROM orders ORDER BY status_n NULLS FIRST, o_orderkey DESC""")),

    // C25 — global top-k → TakeOrderedAndProject (BASELINE B5).
    "c25_topk" -> QueryDef(
      (s, dir) =>
        t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
          .limit(100),
      Some("""SELECT o_orderkey, o_totalprice FROM orders
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""")),

    // C26 — set operations.
    "c26_set_ops" -> QueryDef(
      (s, dir) => {
        val withOrders = t(s, dir, "orders").select(col("o_custkey").as("k")).distinct()
        val all = t(s, dir, "customer").select(col("c_custkey").as("k"))
        val never = all.except(withOrders).withColumn("src", lit("never"))
        val both = all.intersect(withOrders).withColumn("src", lit("both"))
        never.unionByName(both).orderBy(col("src"), col("k"))
      },
      Some("""WITH w AS (SELECT DISTINCT o_custkey AS k FROM orders),
        a AS (SELECT c_custkey AS k FROM customer)
        SELECT k, 'never' AS src FROM (SELECT k FROM a EXCEPT SELECT k FROM w)
        UNION ALL
        SELECT k, 'both' AS src FROM (SELECT k FROM a INTERSECT SELECT k FROM w)
        ORDER BY src, k""")),

    // C27/C15 — string functions over documents (BASELINE B7 + extras).
    // Manual two-level aggregate instead of countDistinct-with-others:
    // Spark plans mixed distinct aggregates via EXPAND, duplicating every
    // scan row into the first shuffle. Pre-grouping by (lang, source)
    // computes the same three outputs from group-level partials with NO
    // row expansion — at 100 TB that halves the first shuffle's volume.
    // The max(upper(substr(text,1,8))) runs over a PACKED long, not the
    // string: a StringType buffer would force the whole aggregate onto
    // SortAggregate (see Graft.packAsciiPrefix; a non-ASCII lead byte
    // raises instead of silently dropping from the max — the __na flag).
    // Level 2 shuffles the bounded lang × source group set (a second tiny
    // exchange keeps level-1 finalization parallel; the earlier coalesce(1)
    // fusion serialized it for ~40 ms of single-task latency), and the
    // final order is TakeOrderedAndProject over the bounded lang domain.
    // 319→141→~105 ms at sf0.1; plan is HashAggregate end-to-end.
    // r9: the prefix pack is the FUSED pack_upper_ascii8 — one byte walk
    // replacing substring+upper+pack (two UTF8String allocations/row); the
    // paired measurement against the composed form is in NOTES_r9.
    "c27_strings" -> QueryDef(
      (s, dir) =>
        t(s, dir, "documents")
          .select(col("lang"), col("source"), length(col("text")).as("len"),
            packUpperAsciiPrefix8(col("text")).as("pk"))
          .groupBy(col("lang"), col("source"))
          .agg(
            sum(col("len")).as("len_sum"),
            count(lit(1)).as("n"),
            max(col("pk")).as("pk"),
            // non-ASCII sentinel: pk is NULL for a non-ASCII lead byte, and
            // max() would silently DROP that row from max_head — fail loudly
            // instead (the ASCII precondition must hold at runtime, not just
            // on the test fixture). len is non-null iff text is non-null, so
            // the flag never fires on genuinely-null text.
            max(when(col("pk").isNull && col("len").isNotNull, lit(1))
              .otherwise(lit(0))).as("__na"))
          .groupBy(col("lang"))
          .agg(
            count(col("source")).as("nd_source"), // non-null source groups
            (sum(col("len_sum")).cast("double") / sum(col("n"))).as("avg_len"),
            max(col("pk")).as("pkm"),
            max(col("__na")).as("__na"))
          .select(col("lang"), col("nd_source"), col("avg_len"),
            when(col("__na") === 1, raise_error(lit(
              "c27_strings: non-ASCII lead byte in documents.text prefix — " +
                "packed max would silently drop the row; use the string path")))
              .otherwise(unpackAsciiPrefix(col("pkm"), 8)).as("max_head"))
          .transform(sortSmallTopK(_, col("lang").asc_nulls_last)),
      Some("""SELECT lang, count(DISTINCT source) AS nd_source,
        CAST(sum(length(text)) AS DOUBLE) / count(*) AS avg_len,
        max(upper(substr(text,1,8))) AS max_head
        FROM documents GROUP BY lang ORDER BY lang""")),

    // C27b — scalar string fns incl. regex + levenshtein.
    "c27_string_scalars" -> QueryDef(
      (s, dir) =>
        t(s, dir, "part").select(
          col("p_partkey"),
          concat(col("p_brand"), lit(":"), col("p_type")).as("brand_type"),
          lower(col("p_name")).as("name_lc"),
          lpad(col("p_size").cast("string"), 4, "0").as("size_pad"),
          regexp_extract(col("p_brand"), "#(\\d+)", 1).cast("int").as("brand_num"),
          regexp_replace(col("p_name"), "[aeiou]", "_").as("name_novowel"),
          instr(col("p_type"), "A").as("a_pos"),
          translate(col("p_type"), "AEO", "aeo").as("type_tr"),
          levenshtein(col("p_brand"), col("p_type")).as("lev"))
          .orderBy(col("p_partkey")),
      Some("""SELECT p_partkey,
        p_brand || ':' || p_type AS brand_type,
        lower(p_name) AS name_lc,
        lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_pad,
        CAST(regexp_extract(p_brand, '#(\d+)', 1) AS INT) AS brand_num,
        regexp_replace(p_name, '[aeiou]', '_', 'g') AS name_novowel,
        CAST(strpos(p_type, 'A') AS INT) AS a_pos,
        CAST(translate(p_type, 'AEO', 'aeo') AS VARCHAR) AS type_tr,
        CAST(levenshtein(p_brand, p_type) AS INT) AS lev
        FROM part ORDER BY p_partkey""")),

    // C28 — date/time kitchen sink (ms-precision tables only; µs-safe).
    "c28_datetime" -> QueryDef(
      (s, dir) =>
        t(s, dir, "orders").select(
          col("o_orderkey"),
          date_trunc("month", col("o_orderdate")).cast("date").as("month_start"),
          year(col("o_orderdate")).as("yr"),
          month(col("o_orderdate")).as("mo"),
          dayofmonth(col("o_orderdate")).as("dom"),
          date_add(col("o_orderdate").cast("date"), 30).as("due_date"),
          datediff(lit("2002-01-01").cast("date"), col("o_orderdate").cast("date")).as("age_days"))
          .orderBy(col("o_orderkey")),
      Some("""SELECT o_orderkey,
        CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
        CAST(extract(year FROM o_orderdate) AS INT) AS yr,
        CAST(extract(month FROM o_orderdate) AS INT) AS mo,
        CAST(extract(day FROM o_orderdate) AS INT) AS dom,
        CAST(o_orderdate AS DATE) + 30 AS due_date,
        CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS INT) AS age_days
        FROM orders ORDER BY o_orderkey""")),

    // C29 — math functions (transcendentals rounded: libm ulps differ).
    "c29_math" -> QueryDef(
      (s, dir) =>
        t(s, dir, "lineitem")
          .filter(col("l_orderkey") <= 1000)
          .select(
            col("l_orderkey"), col("l_linenumber"),
            abs(col("l_quantity") * -1).as("abs_q"),
            floor(col("l_extendedprice")).as("floor_p"),
            ceil(col("l_extendedprice")).as("ceil_p"),
            round(sqrt(col("l_quantity")), 6).as("sqrt_q"),
            round(pow(col("l_quantity"), 2.0), 6).as("q_sq"),
            round(log(col("l_extendedprice")), 6).as("ln_p"),
            round(log10(col("l_extendedprice")), 6).as("log10_p"),
            round(exp(col("l_discount")), 6).as("exp_d"),
            pmod(col("l_orderkey"), lit(7)).as("mod7"),
            signum(col("l_discount") - 0.05).as("sgn"),
            greatest(col("l_tax"), col("l_discount")).as("gt"),
            least(col("l_tax"), col("l_discount")).as("lt"))
          .orderBy(col("l_orderkey"), col("l_linenumber")),
      Some("""SELECT l_orderkey, l_linenumber,
        abs(l_quantity * -1) AS abs_q,
        CAST(floor(l_extendedprice) AS BIGINT) AS floor_p,
        CAST(ceil(l_extendedprice) AS BIGINT) AS ceil_p,
        round(sqrt(l_quantity), 6) AS sqrt_q,
        round(pow(l_quantity, 2.0), 6) AS q_sq,
        round(ln(l_extendedprice), 6) AS ln_p,
        round(log10(l_extendedprice), 6) AS log10_p,
        round(exp(l_discount), 6) AS exp_d,
        CAST(l_orderkey % 7 AS BIGINT) AS mod7,
        CAST(sign(l_discount - 0.05) AS DOUBLE) AS sgn,
        greatest(l_tax, l_discount) AS gt,
        least(l_tax, l_discount) AS lt
        FROM lineitem WHERE l_orderkey <= 1000
        ORDER BY l_orderkey, l_linenumber""")),

    // C32/C28 — JSON extraction + hourly bucketing on events (BASELINE B6).
    // events.ts is ns in parquet → hour-truncated and output as string on
    // both sides (SURVEY.md §1.2 timestamp-precision delta).
    // Two hot-path choices (239→~150 ms at sf0.1, same oracle):
    //  1. group on the raw hour-truncated TIMESTAMP (long arithmetic) and
    //     date_format only the aggregated groups — the per-row formatter
    //     ran over every event for nothing;
    //  2. graft_json_get (native single-scan tokenizer Expression, see
    //     JsonGet.scala) instead of a per-row Jackson from_json. It returns
    //     the scalar token as a string, so try_cast still accepts both
    //     {"k": 12} and {"k": "12"} — same semantics as the DuckDB oracle's
    //     json_extract_string + TRY_CAST.
    // Final sort stays sortSmall (NOT fused): group count scales with the
    // dataset's time span, so the final stage must keep parallelism.
    "c32_json_events" -> QueryDef(
      (s, dir) =>
        t(s, dir, "events")
          .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
          .agg(
            count(lit(1)).as("n"),
            sumD2(col("value")).as("sum_value"),
            sum(expr("try_cast(graft_json_get(props, 'k') AS LONG)")).as("sum_k"))
          .select(date_format(col("h"), "yyyy-MM-dd HH:mm:ss").as("w"),
            col("event_type"), col("n"), col("sum_value"), col("sum_k"))
          .transform(sortSmall(_, col("w").asc_nulls_last, col("event_type").asc_nulls_last)),
      Some(s"""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS w, event_type,
        count(*) AS n,
        ${sqlSumD2("value")} AS sum_value,
        CAST(sum(TRY_CAST(json_extract_string(props,'$$.k') AS BIGINT)) AS BIGINT) AS sum_k
        FROM events GROUP BY 1, 2 ORDER BY 1, 2""")),

    // C33 — deterministic hash functions.
    "c33_hashes" -> QueryDef(
      (s, dir) =>
        t(s, dir, "documents").select(
          col("doc_id"),
          md5(col("text")).as("md5_hex"),
          sha2(col("text"), 256).as("sha256_hex"))
          .orderBy(col("doc_id")),
      Some("""SELECT doc_id, md5(text) AS md5_hex, sha256(text) AS sha256_hex
        FROM documents ORDER BY doc_id""")),

    // C34 — explode with position (Generate / UNNEST WITH ORDINALITY).
    "c34_explode" -> QueryDef(
      (s, dir) =>
        t(s, dir, "documents")
          .filter(col("doc_id") < 50)
          .select(col("doc_id"), posexplode(split(col("text"), " ")))
          .select(col("doc_id"), (col("pos") + 1).as("pos"), col("col").as("tok"))
          .orderBy(col("doc_id"), col("pos")),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
          FROM documents WHERE doc_id < 50)
        SELECT doc_id, CAST(p AS INT) AS pos, toks[CAST(p AS INT)] AS tok
        FROM t, UNNEST(generate_series(1, len(toks))) AS u(p)
        ORDER BY doc_id, pos"""))
  )
}
