package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-4 second-batch relational additions (SURVEY.md §2.2 engine
  * stance): stratified deterministic sampling, equi-depth (quantile-
  * bounded) histograms, and a fixed-iteration weighted PageRank — the
  * iterative-computation pattern next to d8's connected components.
  *
  * Parity rules as everywhere: reproducible sampling via the md5 hash
  * family (never rand()), float accumulation through DECIMAL, quantile
  * interpolation left to the engines' identical (p·(n−1))-index
  * definition, verified by the oracle hash.
  */
object Analytics4 {
  import Tables.t

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Stratified sampling: each order status draws a DIFFERENT target
    // fraction (rebalancing strata the way pipeline train/eval splits
    // do) via the q39 md5-bucket trick, so membership is deterministic
    // and the sampled-key checksum is oracle-checkable. The predicate is
    // row-local (pure map, no shuffle before the per-stratum rollup);
    // at 100 TB the sample materializes without ever sorting or
    // collecting — the scan IS the sampler.
    "q62_stratified_sample" -> ((spark, dir) => {
      val rate = when(col("o_orderstatus") === "F", 10)
        .when(col("o_orderstatus") === "O", 20)
        .otherwise(50)
      val bucket = pmod(graft.functions.Md5Pack(
        concat(lit("smp_"), col("o_orderkey").cast("string"))), lit(100))
      t(spark, dir, "orders")
        .withColumn("sampled", bucket < rate)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_total"),
          count_if(col("sampled")).as("n_sampled"),
          sum(when(col("sampled"), col("o_orderkey"))).cast("long")
            .as("sampled_key_sum"))
        .withColumn("achieved_rate",
          round(col("n_sampled").cast("double") / col("n_total"), 6))
        .orderBy("o_orderstatus")
    }),

    // Equi-depth histogram: quartile boundaries via exact continuous
    // percentiles (the q18 machinery), then a boundary-banded count —
    // the complement of q57's equi-width bands and the stats backbone of
    // range-partition planning. The one-row boundary frame broadcasts to
    // the banding scan; two passes over the input, one 4-key shuffle,
    // no global sort anywhere.
    "q63_equidepth_hist" -> ((spark, dir) => {
      val o = t(spark, dir, "orders")
      val bounds = o.agg(
        expr("percentile(o_totalprice, 0.25)").as("b1"),
        expr("percentile(o_totalprice, 0.5)").as("b2"),
        expr("percentile(o_totalprice, 0.75)").as("b3"))
      o.crossJoin(broadcast(bounds))
        .withColumn("band",
          when(col("o_totalprice") <= col("b1"), 0)
            .when(col("o_totalprice") <= col("b2"), 1)
            .when(col("o_totalprice") <= col("b3"), 2)
            .otherwise(3))
        .groupBy("band")
        .agg(count(lit(1)).as("n"),
          min(col("o_totalprice")).as("min_price"),
          max(col("o_totalprice")).as("max_price"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            .as("sum_price"))
        .orderBy("band")
    }),

    // Weighted PageRank, 3 iterations, over the nation-level
    // trade graph (supplier nation → customer nation, edge weight =
    // lineitem count). The graph CONDENSES first — the 4-way fact join
    // aggregates to a nodes²-bounded edge list (at most 25² rows), which
    // the operator collects once and iterates on the driver; the only
    // Spark work is that aggregation and the name join over the local
    // 25-row rank frame. Rank lives in exact scaled-integer units
    // (1e-12): damping 0.85 is ×850 div 1000 and contributions divide
    // with `div`, so every iteration is pure integer arithmetic —
    // bit-identical across engines by construction
    // (float round() half-way ties diverged between the engines'
    // decimal-string vs binary rounding; integers cannot). The driver
    // rounds multiply w·rank in BigInt, so no edge weight overflows it.
    "q64_pagerank" -> ((spark, dir) => {
      val edges = t(spark, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"))
        .join(t(spark, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t(spark, dir, "supplier")
          .select(col("s_suppkey"), col("s_nationkey"))),
          col("l_suppkey") === col("s_suppkey"))
        .join(t(spark, dir, "customer")
          .select(col("c_custkey"), col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("s_nationkey").as("src"), col("c_nationkey").as("dst"))
        .agg(count(lit(1)).as("w"))
      val nodes = t(spark, dir, "nation").select(col("n_nationkey"))
      val ranks = graft.operators.PageRank.ranks(edges, nodes, iters = 3)
      ranks
        .join(broadcast(t(spark, dir, "nation")
          .select(col("n_nationkey").as("nk"), col("n_name"))),
          col("node") === col("nk"))
        .select(col("n_name"), col("r").as("pagerank_e12"),
          // exact BIGINT → IEEE division: identical doubles, no rounding
          (col("r").cast("double") / lit(1.0e12)).as("pagerank"))
        .orderBy(col("pagerank_e12").desc, col("n_name"))
    }),

    // Multiple DISTINCT aggregates in one GROUP BY: Catalyst plans these
    // through an Expand node (one input pass replicated per distinct
    // set, each de-duplicated map-side) — the single-job alternative to
    // N self-joined subqueries. sum(DISTINCT l_quantity) sums ≤50 small
    // integer-valued doubles: exact, order-independent.
    "q65_multi_distinct" -> ((spark, dir) =>
      t(spark, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(countDistinct(col("l_suppkey")).as("n_supp"),
          countDistinct(col("l_partkey")).as("n_part"),
          sum_distinct(col("l_quantity")).cast("double").as("sum_dq"),
          count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag")),

    // Dynamic partition pruning: the fact table is partitioned by
    // o_year; which years survive is only knowable at RUNTIME (years
    // with an odd order count — a data-dependent dim filter). Catalyst
    // plants a dynamicpruning subquery on the fact scan (asserted in
    // PlanShapeSpec), so the fact side reads ONLY the surviving year
    // directories — the mechanism that turns a 100 TB scan into the two
    // partitions the dim filter actually selects, without the user ever
    // naming them.
    "q66_dynamic_pruning" -> ((spark, dir) => {
      val tag = new java.io.File(dir).getName.replaceAll("[^A-Za-z0-9]", "_")
      val base = java.nio.file.Paths.get(
        System.getProperty("java.io.tmpdir"), "graft_q66", tag).toString
      t(spark, dir, "orders")
        .withColumn("o_year", year(col("o_orderdate")))
        .write.mode("overwrite").partitionBy("o_year").parquet(base)
      val fact = spark.read.parquet(base)
      val yd = fact.groupBy("o_year").agg(count(lit(1)).as("n_y"))
        .filter(col("n_y") % 2 === 1)
        .select("o_year")
      fact.join(broadcast(yd), "o_year")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            .as("sum_price"))
        .orderBy("o_orderstatus")
    }),

    // Schema-evolution union: two ingestion batches whose schemas have
    // DRIFTED (an old batch without o_orderpriority, a new batch that
    // dropped o_totalprice) align by NAME with NULL back-fill —
    // unionByName(allowMissingColumns), the mechanism that keeps a
    // long-lived pipeline reading years of heterogeneous files. The
    // per-batch null counts pin exactly which columns were absent where.
    "q68_schema_drift_union" -> ((spark, dir) => {
      val o = t(spark, dir, "orders")
      val oldBatch = o.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice"), lit("old").as("batch"))
      val newBatch = o.filter(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_orderpriority"), lit("new").as("batch"))
      oldBatch.unionByName(newBatch, allowMissingColumns = true)
        .groupBy("batch")
        .agg(count(lit(1)).as("n"),
          count_if(col("o_totalprice").isNull).as("null_price"),
          count_if(col("o_orderpriority").isNull).as("null_priority"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            .as("sum_price"))
        .orderBy("batch")
    }),

    // Ratio-to-report: each (priority, status) revenue cell as a SHARE
    // of its priority's total — the whole-partition window frame (no
    // ORDER BY → every peer sees the partition total) layered OVER an
    // aggregate, so the window runs on the grouped cells, never the
    // fact rows. Revenue sums ride DECIMAL; the share division happens
    // on exact totals, so the 6dp rounding is deterministic.
    "q70_ratio_to_report" -> ((spark, dir) => {
      val g = t(spark, dir, "orders")
        .groupBy("o_orderpriority", "o_orderstatus")
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("grp_d"),
          count(lit(1)).as("n"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("o_orderpriority")
      g.withColumn("prio_total", sum(col("grp_d")).over(w))
        .select(col("o_orderpriority"), col("o_orderstatus"), col("n"),
          col("grp_d").cast("double").as("grp_revenue"),
          round(col("grp_d").cast("double") /
            col("prio_total").cast("double"), 6).as("share"))
        .orderBy("o_orderpriority", "o_orderstatus")
    }),

    // Two-sample distribution drift (binned Kolmogorov-Smirnov): how far
    // apart are the 1995 vs 1996 order-value distributions? The exact KS
    // needs a full sort of every distinct value — a single-task window
    // at scale — so this is the scale-shape variant: global min/max
    // broadcast, 1000 equi-width bins (map-side), cumulative CDFs over
    // the BOUNDED 1000-row bin frame, sup-norm of the difference. The
    // drift monitor every training-data refresh runs before shipping a
    // new snapshot. All counts are integers; the CDF ratios divide
    // exact integers, so the statistic replays bit-identically.
    "q72_ks_drift" -> ((spark, dir) => {
      val o = t(spark, dir, "orders")
        .withColumn("yr", year(col("o_orderdate")))
        .filter(col("yr").isin(1995, 1996))
      val stats = o.agg(min(col("o_totalprice")).as("lo"),
        max(col("o_totalprice")).as("hi"))
      val binned = o.crossJoin(broadcast(stats))
        .withColumn("bin",
          least(floor((col("o_totalprice") - col("lo")) /
            ((col("hi") - col("lo")) / 1000)), lit(999L)).cast("int"))
        .groupBy("bin")
        .agg(count_if(col("yr") === 1995).as("c_a"),
          count_if(col("yr") === 1996).as("c_b"))
      val w = org.apache.spark.sql.expressions.Window.orderBy("bin")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      val wAll = org.apache.spark.sql.expressions.Window
        .partitionBy(lit(1))
      binned
        .withColumn("cum_a", sum(col("c_a")).over(w))
        .withColumn("cum_b", sum(col("c_b")).over(w))
        .withColumn("n_a", sum(col("c_a")).over(wAll))
        .withColumn("n_b", sum(col("c_b")).over(wAll))
        .agg(max(col("n_a")).as("n_1995"), max(col("n_b")).as("n_1996"),
          round(max(abs(
            col("cum_a").cast("double") / col("n_a") -
              col("cum_b").cast("double") / col("n_b"))), 6).as("ks_stat"))
    }),

    // Fuzzy entity-resolution join (record linkage): a "dirty" customer
    // roster (deterministic mid-digit typo on every even key) links
    // back to the clean table WITHOUT a shared key — suffix blocking
    // (last 4 name chars, unaffected by the planted typo) bounds each
    // comparison group, a levenshtein ≤ 1 verify scores candidates, and
    // a composite min_by picks each record's best match. The blocks
    // stay ~collision-bounded as the table grows (10^4 suffixes), so
    // the quadratic step never sees more than block-sized groups — the
    // d7/d4 blocking discipline applied to a JOIN rather than dedup.
    "q71_fuzzy_join" -> ((spark, dir) => {
      val c = t(spark, dir, "customer").select(col("c_custkey"), col("c_name"))
      val typo = concat(substring(col("c_name"), 1, 11), lit("x"),
        substring(col("c_name"), 13, 6))
      val dirty = c.select(col("c_custkey").as("truth_key"),
        when(col("c_custkey") % 2 === 0, typo).otherwise(col("c_name"))
          .as("d_name"))
      val cand = dirty.withColumn("blk", substring(col("d_name"), 15, 4))
        .join(c.withColumn("blk", substring(col("c_name"), 15, 4)), "blk")
        .withColumn("dist", levenshtein(col("d_name"), col("c_name")))
        .filter(col("dist") <= 1)
      // Best match = lowest dist, then lowest custkey — computed as a
      // per-block window min + filter + group min rather than a packed
      // numeric key (dist*K + custkey breaks silently once custkey ≥ K).
      // The window partitions by truth_key, whose groups are bounded by
      // the suffix-block collision count, so no skewed/global sort.
      val wTruth = org.apache.spark.sql.expressions.Window
        .partitionBy("truth_key")
      val matched = cand
        .withColumn("best_dist", min(col("dist")).over(wTruth))
        .filter(col("dist") === col("best_dist"))
        .groupBy("truth_key")
        .agg(min(col("c_custkey")).as("matched_key"),
          min(col("best_dist")).as("best_dist"))
      matched.agg(
          count(lit(1)).as("n_matched"),
          count_if(col("matched_key") === col("truth_key")).as("n_correct"),
          count_if(col("best_dist") === 1).as("n_via_typo"))
        .crossJoin(broadcast(dirty.agg(count(lit(1)).as("n_records"))))
        .select(col("n_records"), col("n_matched"), col("n_correct"),
          col("n_via_typo"))
    }),

    // Triangle counting on the condensed trade graph: undirected distinct
    // nation-nation edges (canonical a<b), then the classic ordered
    // 3-way self-join a<b<c — each triangle found exactly once, no
    // permutation blowup. Same condense-first shape as q64: the fact
    // join aggregates to a nodes²-bounded edge list BEFORE any
    // self-join, so the cubic-looking step runs on ≤ n² rows. Per-node
    // triangle membership via the union of the three corners.
    "q67_triangles" -> ((spark, dir) => {
      val raw = t(spark, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"))
        .join(t(spark, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t(spark, dir, "supplier")
          .select(col("s_suppkey"), col("s_nationkey"))),
          col("l_suppkey") === col("s_suppkey"))
        .join(t(spark, dir, "customer")
          .select(col("c_custkey"), col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .select(col("s_nationkey").as("u"), col("c_nationkey").as("v"))
        .filter(col("u") =!= col("v"))
      val und = raw.select(least(col("u"), col("v")).as("a"),
          greatest(col("u"), col("v")).as("b"))
        .distinct()
      val tri = und.as("e1")
        .join(und.as("e2"), col("e1.b") === col("e2.a"))
        .join(und.as("e3"),
          col("e1.a") === col("e3.a") && col("e2.b") === col("e3.b"))
        .select(col("e1.a").as("x"), col("e1.b").as("y"), col("e2.b").as("z"))
      val perNode = tri.select(col("x").as("nk"))
        .union(tri.select(col("y").as("nk")))
        .union(tri.select(col("z").as("nk")))
        .groupBy("nk").agg(count(lit(1)).as("n_triangles"))
      perNode
        .join(broadcast(t(spark, dir, "nation")
          .select(col("n_nationkey"), col("n_name"))),
          col("nk") === col("n_nationkey"))
        .select(col("n_name"), col("n_triangles"))
        .orderBy("n_name")
    }),
  )

  /** One PageRank contribution/update round as DuckDB CTE text; chained
    * three times by the oracle below, mirroring the unrolled Spark loop.
    */
  private def prStep(prev: String, c: String, next: String): String =
    s"""$c AS (
       |  SELECT e.dst, CAST(sum((r.r * e.w) // o.out_w) AS BIGINT) AS s
       |  FROM edges e
       |  JOIN $prev r ON r.n_nationkey = e.src
       |  JOIN outw o ON o.src = e.src
       |  GROUP BY e.dst),
       |${c}d AS (
       |  SELECT CAST(coalesce(sum(r.r), 0) AS BIGINT) AS dang
       |  FROM $prev r LEFT JOIN outw o ON o.src = r.n_nationkey
       |  WHERE o.src IS NULL),
       |$next AS (
       |  SELECT n.n_nationkey,
       |    6000000000 + (850 * (coalesce($c.s, 0) + d.dang // 25)) // 1000 AS r
       |  FROM nation n LEFT JOIN $c ON $c.dst = n.n_nationkey
       |  CROSS JOIN ${c}d d)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q62_stratified_sample" ->
      s"""WITH s AS (
         |  SELECT o_orderstatus, o_orderkey,
         |    (${Tables.duckMd5Pack("'smp_' || o_orderkey")}) % 100 <
         |      CASE o_orderstatus WHEN 'F' THEN 10 WHEN 'O' THEN 20
         |        ELSE 50 END AS sampled
         |  FROM orders)
         |SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_total,
         |  CAST(count(*) FILTER (WHERE sampled) AS BIGINT) AS n_sampled,
         |  CAST(sum(CASE WHEN sampled THEN o_orderkey END) AS BIGINT)
         |    AS sampled_key_sum,
         |  round(CAST(count(*) FILTER (WHERE sampled) AS DOUBLE) / count(*), 6)
         |    AS achieved_rate
         |FROM s GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q63_equidepth_hist" ->
      """WITH b AS (
        |  SELECT quantile_cont(o_totalprice, 0.25) AS b1,
        |    quantile_cont(o_totalprice, 0.5) AS b2,
        |    quantile_cont(o_totalprice, 0.75) AS b3
        |  FROM orders)
        |SELECT band, CAST(count(*) AS BIGINT) AS n,
        |  min(o_totalprice) AS min_price, max(o_totalprice) AS max_price,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM (
        |  SELECT CASE WHEN o_totalprice <= b1 THEN 0
        |              WHEN o_totalprice <= b2 THEN 1
        |              WHEN o_totalprice <= b3 THEN 2
        |              ELSE 3 END AS band, o_totalprice
        |  FROM orders CROSS JOIN b)
        |GROUP BY band ORDER BY band""".stripMargin,

    "q65_multi_distinct" ->
      """SELECT l_returnflag,
        |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supp,
        |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_part,
        |  CAST(sum(DISTINCT l_quantity) AS DOUBLE) AS sum_dq,
        |  CAST(count(*) AS BIGINT) AS n_rows
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    "q66_dynamic_pruning" ->
      """WITH yd AS (
        |  SELECT o_year FROM (
        |    SELECT year(CAST(o_orderdate AS DATE)) AS o_year,
        |      count(*) AS n_y
        |    FROM orders GROUP BY 1)
        |  WHERE n_y % 2 = 1)
        |SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_price
        |FROM orders
        |JOIN yd ON year(CAST(o_orderdate AS DATE)) = yd.o_year
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q68_schema_drift_union" ->
      """WITH u AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice,
        |    'old' AS batch, NULL AS o_orderpriority
        |  FROM orders WHERE o_orderkey % 2 = 0
        |  UNION ALL BY NAME
        |  SELECT o_orderkey, o_orderstatus, o_orderpriority,
        |    'new' AS batch, NULL AS o_totalprice
        |  FROM orders WHERE o_orderkey % 2 = 1)
        |SELECT batch, CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(*) FILTER (WHERE o_totalprice IS NULL) AS BIGINT)
        |    AS null_price,
        |  CAST(count(*) FILTER (WHERE o_orderpriority IS NULL) AS BIGINT)
        |    AS null_priority,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_price
        |FROM u GROUP BY batch ORDER BY batch""".stripMargin,

    "q72_ks_drift" ->
      """WITH o AS (
        |  SELECT o_totalprice, year(CAST(o_orderdate AS DATE)) AS yr
        |  FROM orders
        |  WHERE year(CAST(o_orderdate AS DATE)) IN (1995, 1996)),
        |s AS (SELECT min(o_totalprice) AS lo, max(o_totalprice) AS hi FROM o),
        |binned AS (
        |  SELECT CAST(least(floor((o_totalprice - lo) / ((hi - lo) / 1000)),
        |           999) AS INTEGER) AS bin,
        |    CAST(count(*) FILTER (WHERE yr = 1995) AS BIGINT) AS c_a,
        |    CAST(count(*) FILTER (WHERE yr = 1996) AS BIGINT) AS c_b
        |  FROM o CROSS JOIN s GROUP BY 1),
        |cdf AS (
        |  SELECT
        |    CAST(sum(c_a) OVER (ORDER BY bin
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum_a,
        |    CAST(sum(c_b) OVER (ORDER BY bin
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum_b,
        |    CAST(sum(c_a) OVER () AS BIGINT) AS n_a,
        |    CAST(sum(c_b) OVER () AS BIGINT) AS n_b
        |  FROM binned)
        |SELECT max(n_a) AS n_1995, max(n_b) AS n_1996,
        |  round(max(abs(CAST(cum_a AS DOUBLE) / n_a
        |    - CAST(cum_b AS DOUBLE) / n_b)), 6) AS ks_stat
        |FROM cdf""".stripMargin,

    "q71_fuzzy_join" ->
      """WITH c AS (SELECT c_custkey, c_name FROM customer),
        |dirty AS (
        |  SELECT c_custkey AS truth_key,
        |    CASE WHEN c_custkey % 2 = 0
        |      THEN substr(c_name, 1, 11) || 'x' || substr(c_name, 13, 6)
        |      ELSE c_name END AS d_name
        |  FROM c),
        |cand AS (
        |  SELECT d.truth_key, c.c_custkey,
        |    levenshtein(d.d_name, c.c_name) AS dist
        |  FROM dirty d
        |  JOIN c ON substr(d.d_name, 15, 4) = substr(c.c_name, 15, 4)
        |  WHERE levenshtein(d.d_name, c.c_name) <= 1),
        |ranked AS (
        |  SELECT truth_key, c_custkey, dist,
        |    min(dist) OVER (PARTITION BY truth_key) AS best_dist
        |  FROM cand),
        |matched AS (
        |  SELECT truth_key, min(c_custkey) AS matched_key,
        |    min(best_dist) AS best_dist
        |  FROM ranked WHERE dist = best_dist GROUP BY truth_key)
        |SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM dirty) AS n_records,
        |  CAST(count(*) AS BIGINT) AS n_matched,
        |  CAST(count(*) FILTER (WHERE matched_key = truth_key) AS BIGINT)
        |    AS n_correct,
        |  CAST(count(*) FILTER (WHERE best_dist = 1) AS BIGINT)
        |    AS n_via_typo
        |FROM matched""".stripMargin,

    "q70_ratio_to_report" ->
      """WITH g AS (
        |  SELECT o_orderpriority, o_orderstatus,
        |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS grp_d,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM orders GROUP BY 1, 2)
        |SELECT o_orderpriority, o_orderstatus, n,
        |  CAST(grp_d AS DOUBLE) AS grp_revenue,
        |  round(CAST(grp_d AS DOUBLE) /
        |    CAST(sum(grp_d) OVER (PARTITION BY o_orderpriority) AS DOUBLE),
        |    6) AS share
        |FROM g ORDER BY o_orderpriority, o_orderstatus""".stripMargin,

    "q67_triangles" ->
      """WITH raw AS (
        |  SELECT s_nationkey AS u, c_nationkey AS v
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN customer ON o_custkey = c_custkey
        |  WHERE s_nationkey <> c_nationkey),
        |und AS (
        |  SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b FROM raw),
        |tri AS (
        |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |  FROM und e1
        |  JOIN und e2 ON e1.b = e2.a
        |  JOIN und e3 ON e1.a = e3.a AND e2.b = e3.b),
        |pern AS (
        |  SELECT nk, CAST(count(*) AS BIGINT) AS n_triangles FROM (
        |    SELECT x AS nk FROM tri
        |    UNION ALL SELECT y FROM tri
        |    UNION ALL SELECT z FROM tri)
        |  GROUP BY nk)
        |SELECT n_name, n_triangles
        |FROM pern JOIN nation ON nk = n_nationkey
        |ORDER BY n_name""".stripMargin,

    "q64_pagerank" ->
      s"""WITH edges AS (
         |  SELECT s_nationkey AS src, c_nationkey AS dst,
         |    CAST(count(*) AS BIGINT) AS w
         |  FROM lineitem
         |  JOIN orders ON l_orderkey = o_orderkey
         |  JOIN supplier ON l_suppkey = s_suppkey
         |  JOIN customer ON o_custkey = c_custkey
         |  GROUP BY 1, 2),
         |outw AS (SELECT src, CAST(sum(w) AS BIGINT) AS out_w
         |         FROM edges GROUP BY src),
         |r0 AS (SELECT n_nationkey, CAST(40000000000 AS BIGINT) AS r
         |       FROM nation),
         |${prStep("r0", "c1", "r1")},
         |${prStep("r1", "c2", "r2")},
         |${prStep("r2", "c3", "r3")}
         |SELECT n_name, CAST(r3.r AS BIGINT) AS pagerank_e12,
         |  CAST(r3.r AS DOUBLE) / 1e12 AS pagerank
         |FROM r3 JOIN nation USING (n_nationkey)
         |ORDER BY pagerank_e12 DESC, n_name""".stripMargin,
  )
}
