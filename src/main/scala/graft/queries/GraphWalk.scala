package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{Md5Pack, VectorOps}

/** The graph-ANN family (s38b–s46), written once: the NN-Descent build
  * (Dong et al., WWW'11), the greedy best-first walk over the built
  * graph, the walk's md5-random and routed entry points, the reported
  * answer and its recall audit against the exact probe panel. Each piece
  * has its DuckDB twin below, so the oracle replays the same chain piece
  * by piece.
  *
  * Every stage is keyed: NN-Descent wedges join on the middle node
  * (degree bounded by 2·KBuild), a hop joins frontier (Ef per probe) ×
  * adjacency, top-k runs in per-probe windows, and the audit is
  * probe-panel-bounded. All cosines round to 6dp with id tie-breaks so
  * DuckDB replays bit-exactly.
  */
private[queries] object GraphWalk {
  import Tables.t

  val K = 5        // reported answer size (recall@5)
  val KBuild = 10  // internal graph out-degree (richer wedges: k=5 stalls
                   // near 0.35; the NN-Descent paper builds with K ~ 2-4x
                   // the query k)
  val Rounds = 3   // NN-Descent refinement rounds
  val Ef = 10      // search frontier width
  val Hops = 3     // greedy search hops
  val Probes = 50  // fixed probe panel: vec_id < 50
  val EntryK = 8   // entry points per probe

  /** embeddings with non-null vectors; (vec_id, embedding). */
  def emb(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "embeddings")
      .filter(col("embedding").isNotNull)
      .select(col("vec_id"), col("embedding"))

  def score(e: DataFrame)(pairs: DataFrame): DataFrame = pairs
    .join(e.select(col("vec_id").as("u"), col("embedding").as("ue")), "u")
    .join(e.select(col("vec_id").as("v"), col("embedding").as("ve")), "v")
    .select(col("u"), col("v"),
      round(VectorOps.cosine(col("ue"), col("ve")), 6).as("cos"))

  def topK(k: Int)(scored: DataFrame): DataFrame =
    topKRanked(k)(scored).select("u", "v")

  /** Like topK but keeps the rank, so a KBuild-degree graph can answer
    * recall@5 without rescoring. */
  private def topKRanked(k: Int)(scored: DataFrame): DataFrame = {
    val w = Window.partitionBy("u").orderBy(col("cos").desc, col("v").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  def undirected(b: DataFrame): DataFrame = {
    val uv = b.select("u", "v")
    uv.unionAll(uv.select(col("v").as("u"), col("u").as("v"))).distinct()
  }

  /** Eight md5-drawn (u, v) pairs per row of `from`: draw j of u lands
    * on the slot hash(tag, u, j) mod n, and v is whichever node of `e`
    * owns that slot (slot ownership: a pure equi-join, no global index).
    */
  private def md5Pairs(from: DataFrame, e: DataFrame, n: Long,
      tag: String): DataFrame = {
    val slots = e.select(col("vec_id").as("v"),
      pmod(Md5Pack(concat(lit("nnd_"), col("vec_id"))), lit(n)).as("slot"))
    from.select(col("vec_id").as("u"),
        explode(expr("sequence(1, 8)")).as("j"))
      .select(col("u"), pmod(Md5Pack(
        concat_ws("_", lit(tag), col("u"), col("j"))), lit(n)).as("slot"))
      .join(slots, "slot")
  }

  /** NN-Descent's random initial graph over `nodes` (n of them). */
  def nndInit(nodes: DataFrame, n: Long): DataFrame =
    md5Pairs(nodes, nodes, n, "nnd")
      .filter(col("u") =!= col("v")).select("u", "v").distinct()

  /** One NN-Descent candidate set: the graph `b` plus every
    * neighbour-of-neighbour of its undirected closure. */
  def wedges(b: DataFrame): DataFrame = {
    val g = undirected(b)
    g.as("g1").join(g.as("g2"), col("g1.v") === col("g2.u"))
      .select(col("g1.u").as("u"), col("g2.v").as("v"))
      .filter(col("u") =!= col("v"))
      .unionAll(b.select("u", "v")).distinct()
  }

  /** NN-Descent: md5-slot random init, then Rounds wedge-expansion
    * refinements. Returns b0 :: b1 :: ... :: b_Rounds, each keeping its
    * rank column.
    */
  def descend(e: DataFrame, n: Long): Seq[DataFrame] = {
    // eager localCheckpoint, not persist: each round references the
    // previous graph ~5× (undirect ×2, wedge ×2, union ×1), so the
    // LOGICAL plan grows 5^rounds — the plan string alone OOMs the
    // driver by round 3. Checkpointing truncates plan and lineage
    // (the ConnectedComponents/BfsHops discipline).
    val b0 = topKRanked(KBuild)(score(e)(nndInit(e, n)))
      .select("u", "v", "rank").localCheckpoint(true)
    (1 to Rounds).scanLeft(b0) { (b, _) =>
      topKRanked(KBuild)(score(e)(wedges(b)))
        .select("u", "v", "rank").localCheckpoint(true)
    }
  }

  /** The graph every walk runs on: the converged NN-Descent graph made
    * undirected, eagerly checkpointed (a Par leg of its own). */
  def graph(e: DataFrame, n: Long): DataFrame =
    undirected(descend(e, n).last).localCheckpoint(true)

  /** Exact top-K of each row of `probes` among `cands`, self excluded. */
  def exactTopK(probes: DataFrame, cands: DataFrame): DataFrame =
    topK(K)(probes.select(col("vec_id").as("u"), col("embedding").as("ue"))
      .join(cands.select(col("vec_id").as("v"), col("embedding").as("ve")),
        col("u") =!= col("v"))
      .select(col("u"), col("v"),
        round(VectorOps.cosine(col("ue"), col("ve")), 6).as("cos")))

  /** The audit's ground truth as an eager leg: exact top-K of the probe
    * panel (u < Probes) among `cands`, persisted and counted. */
  def exactPanel(e: DataFrame, cands: DataFrame): DataFrame = {
    val ex = exactTopK(e.filter(col("vec_id") < Probes), cands).persist()
    ex.count()
    ex
  }

  /** Eight md5-random entry points per probe; `tag` salts the draw. */
  def randomEntries(e: DataFrame, n: Long, tag: String): DataFrame =
    md5Pairs(e.filter(col("vec_id") < Probes), e, n, tag)
      .select("u", "v").distinct()

  /** Query-adaptive entry points: per probe, the EntryK nodes of the
    * routing `layer` (column v) closest by true cosine. The probe side is
    * broadcast, so routing is one linear scan of the layer. */
  def routedEntries(e: DataFrame, layer: DataFrame): DataFrame = {
    val probeIds = e.filter(col("vec_id") < Probes)
      .select(col("vec_id").as("u"))
    topK(EntryK)(score(e)(layer.crossJoin(broadcast(probeIds))
      .filter(col("u") =!= col("v"))))
  }

  /** The walk's usual scorer: true cosine, keep the best Ef per probe. */
  def byCosine(e: DataFrame)(pairs: DataFrame): DataFrame =
    topK(Ef)(score(e)(pairs))

  /** Greedy best-first search over `graph`: `rank` keeps the best Ef
    * (u, v) pairs per probe, first of `start` (frontier f0), then, for
    * each of Hops hops, of the frontier plus its neighbours. Returns
    * f0 .. f_Hops, each eagerly checkpointed: a hop reads its frontier
    * twice, so without the checkpoint the plan doubles per hop.
    */
  def walk(graph: DataFrame, start: DataFrame)(
      rank: DataFrame => DataFrame): Seq[DataFrame] =
    (1 to Hops).scanLeft(rank(start).localCheckpoint(true)) { (f, _) =>
      val nb = f.as("f").join(graph.as("g"), col("f.v") === col("g.u"))
        .select(col("f.u").as("u"), col("g.v").as("v"))
        .unionAll(f).distinct()
      rank(nb).localCheckpoint(true)
    }

  /** The reported answer: the frontier's top-K by true cosine, the probe
    * itself excluded. */
  def answer(e: DataFrame, frontier: DataFrame): DataFrame =
    topK(K)(score(e)(frontier).filter(col("u") =!= col("v")))

  /** One-row count, named `name`, of the (u, v) pairs of `answer` that
    * the exact panel holds. */
  def hits(answer: DataFrame, exact: DataFrame, name: String): DataFrame =
    answer.intersect(exact).agg(count(lit(1)).as(name))

  /** The one-row hit counts side by side, with `possible`, the size of
    * the exact panel. */
  def audit(exact: DataFrame)(hits: DataFrame*): DataFrame =
    hits.reduce((a, b) => a.crossJoin(broadcast(b)))
      .crossJoin(broadcast(exact.agg(count(lit(1)).as("possible"))))

  /** hits_x / possible, named recall_x. */
  def recall(hits: String): Column =
    (col(hits) / col("possible")).as(hits.replace("hits", "recall"))

  /** True when each named count is at least the one before it. */
  def monotone(names: Seq[String]): Column =
    names.sliding(2).map(w => col(w(1)) >= col(w(0))).reduce(_ && _)

  // ---- oracle: the same pieces as DuckDB CTEs ----

  // norms precomputed once per vector in the `e` CTE: the value is
  // bit-identical to inlining sqrt(list_dot_product(x,x)) per pair
  // (same expression, same double), but the rescore stages do one dot
  // product per candidate instead of three — the chain re-runs for
  // every CTE reference, so this is the difference between minutes
  // and tens of minutes of oracle time
  def cosSql(a: String, b: String): String =
    s"round(list_dot_product($a.emb, $b.emb) / ($a.nrm * $b.nrm), 6)"

  /** The md5 slot of draw j of node u, salted by `tag`. */
  private def duckDraw(tag: String): String = Tables.duckMd5Pack(
    s"'${tag}_' || CAST(u AS VARCHAR) || '_' || CAST(j AS VARCHAR)")

  /** CTE `name`: the top `k` (u, v) per u of the CTE `scored`, ordered
    * by `key`, then v. */
  private def duckTop(name: String, scored: String, key: String,
      k: Int): String =
    s"""$name AS MATERIALIZED (
       |  SELECT u, v FROM (
       |    SELECT u, v, row_number() OVER (PARTITION BY u
       |      ORDER BY $key, v) AS rank FROM $scored)
       |  WHERE rank <= $k)""".stripMargin

  /** CTE `name`: the top-K (u, v) per u of the CTE `scored` by cos. */
  def duckTopK(name: String, scored: String): String =
    duckTop(name, scored, "cos DESC", K)

  /** CTEs e, nn, slots, draws, init, s0, b0. */
  private def duckInit: String = {
    val slotOwn = Tables.duckMd5Pack("'nnd_' || CAST(vec_id AS VARCHAR)")
    s"""e AS MATERIALIZED (
       |  SELECT vec_id, emb, sqrt(list_dot_product(emb, emb)) AS nrm
       |  FROM (
       |    SELECT vec_id,
       |      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |    FROM embeddings WHERE embedding IS NOT NULL)),
       |nn AS MATERIALIZED (SELECT count(*) AS n FROM e),
       |slots AS MATERIALIZED (
       |  SELECT vec_id AS v, $slotOwn % nn.n AS slot FROM e, nn),
       |draws AS (
       |  SELECT u, ${duckDraw("nnd")} % nn.n AS slot FROM (
       |    SELECT vec_id AS u, unnest(range(1, 9)) AS j FROM e), nn),
       |init AS (
       |  SELECT DISTINCT u, v FROM draws JOIN slots USING (slot)
       |  WHERE u <> v),
       |s0 AS (
       |  SELECT i.u, i.v, ${cosSql("a", "b")} AS cos
       |  FROM init i JOIN e a ON a.vec_id = i.u
       |  JOIN e b ON b.vec_id = i.v),
       |b0 AS MATERIALIZED (
       |  SELECT u, v, rank FROM (
       |    SELECT u, v, row_number() OVER (PARTITION BY u
       |      ORDER BY cos DESC, v) AS rank FROM s0)
       |  WHERE rank <= $KBuild)""".stripMargin
  }

  /** One NN-Descent round: g_i/cand_i/s_i/b_i from b_{i-1}. */
  private def duckRound(i: Int): String =
    s"""g$i AS MATERIALIZED (
       |  SELECT u, v FROM b${i - 1}
       |  UNION SELECT v AS u, u AS v FROM b${i - 1}),
       |cand$i AS (
       |  SELECT DISTINCT u, v FROM (
       |    SELECT g1.u AS u, g2.v AS v
       |    FROM g$i g1 JOIN g$i g2 ON g1.v = g2.u
       |    WHERE g1.u <> g2.v
       |    UNION ALL SELECT u, v FROM b${i - 1})),
       |s$i AS (
       |  SELECT c.u, c.v, ${cosSql("a", "b")} AS cos
       |  FROM cand$i c JOIN e a ON a.vec_id = c.u
       |  JOIN e b ON b.vec_id = c.v),
       |b$i AS MATERIALIZED (
       |  SELECT u, v, rank FROM (
       |    SELECT u, v, row_number() OVER (PARTITION BY u
       |      ORDER BY cos DESC, v) AS rank FROM s$i)
       |  WHERE rank <= $KBuild)""".stripMargin

  /** The twin of [[descend]]: duckInit, then CTEs b1 .. b_Rounds. */
  def duckDescend: String =
    (duckInit +: (1 to Rounds).map(duckRound)).mkString(",\n")

  /** The twin of [[graph]]: duckDescend, then `gs`, b_Rounds undirected. */
  def duckGraph: String =
    s"""$duckDescend,
       |gs AS MATERIALIZED (
       |  SELECT u, v FROM b$Rounds
       |  UNION SELECT v AS u, u AS v FROM b$Rounds)""".stripMargin

  /** The twin of [[exactPanel]] over all of e: CTEs se, ex. */
  def duckExact: String =
    s"""se AS (
       |  SELECT p.vec_id AS u, c.vec_id AS v, ${cosSql("p", "c")} AS cos
       |  FROM e p JOIN e c
       |    ON p.vec_id < $Probes AND p.vec_id <> c.vec_id),
       |${duckTopK("ex", "se")}""".stripMargin

  /** The twin of [[randomEntries]]: CTE `name`. */
  def duckRandomEntries(name: String, tag: String): String =
    s"""$name AS (
       |  SELECT DISTINCT d.u, s.v FROM (
       |    SELECT u, ${duckDraw(tag)} % nn.n AS slot FROM (
       |      SELECT vec_id AS u, unnest(range(1, 9)) AS j FROM e
       |      WHERE vec_id < $Probes), nn) d
       |  JOIN slots s USING (slot))""".stripMargin

  /** The twin of [[routedEntries]]: CTE `routed`, from the routing-layer
    * CTE `up` (column v). */
  def duckRoutedEntries: String =
    s"""routed_s AS (
       |  SELECT p.vec_id AS u, c.v, ${cosSql("p", "b")} AS cos
       |  FROM e p CROSS JOIN up c JOIN e b ON b.vec_id = c.v
       |  WHERE p.vec_id < $Probes AND p.vec_id <> c.v),
       |${duckTop("routed", "routed_s", "cos DESC", EntryK)}""".stripMargin

  /** A walk's scorer in SQL: the SELECT (aliases c, a, b ...) that scores
    * the (u, v) pairs of a CTE, and the key that ranks them. */
  final case class DuckRank(score: String => String, key: String)

  /** The twin of [[byCosine]]. */
  val duckCosine: DuckRank = DuckRank(
    src => s"""SELECT c.u, c.v, ${cosSql("a", "b")} AS cos
              |  FROM $src c JOIN e a ON a.vec_id = c.u
              |  JOIN e b ON b.vec_id = c.v""".stripMargin,
    "cos DESC")

  /** The twin of [[walk]]: CTEs `${p}f0` .. `${p}f$Hops` from the (u, v)
    * CTE `start`, over `gs`. */
  def duckWalk(p: String, start: String)(rank: DuckRank): String =
    (s"""${p}sf0 AS (
        |  ${rank.score(start)}),
        |${duckTop(s"${p}f0", s"${p}sf0", rank.key, Ef)}""".stripMargin +:
      (1 to Hops).map { h =>
        s"""${p}n$h AS (
           |  SELECT DISTINCT u, v FROM (
           |    SELECT f.u AS u, g.v AS v
           |    FROM ${p}f${h - 1} f JOIN gs g ON f.v = g.u
           |    UNION ALL SELECT u, v FROM ${p}f${h - 1})),
           |${p}sf$h AS (
           |  ${rank.score(s"${p}n$h")}),
           |${duckTop(s"${p}f$h", s"${p}sf$h", rank.key, Ef)}""".stripMargin
      }).mkString(",\n")

  /** The twin of [[answer]], ranked by `rank`: CTE `name`, the top-K of
    * `frontier` with the probe itself excluded; CTE `${name}_s` holds the
    * scored pairs it ranks. */
  def duckAnswer(name: String, frontier: String)(rank: DuckRank): String =
    s"""${name}_s AS (
       |  ${rank.score(frontier)}
       |  WHERE c.u <> c.v),
       |${duckTop(name, s"${name}_s", rank.key, K)}""".stripMargin

  /** Scalar subquery: how many (u, v) pairs of `answer` are in `exact`. */
  def duckHits(answer: String, exact: String): String =
    s"""(SELECT count(*) FROM (
       |      SELECT u, v FROM $answer INTERSECT
       |      SELECT u, v FROM $exact))""".stripMargin

  /** The twin of [[audit]]: CTE `hits`, one column per (hits name,
    * answer CTE) against `ex`, plus `possible`. */
  def duckAudit(answers: (String, String)*): String = {
    val cols = answers.map { case (nm, a) => s"    ${duckHits(a, "ex")} AS $nm" }
    s"""hits AS (
       |  SELECT
       |${cols.mkString(",\n")},
       |    (SELECT count(*) FROM ex) AS possible)""".stripMargin
  }

  /** The twin of [[recall]]. */
  def duckRecall(hits: String): String =
    s"$hits / possible AS ${hits.replace("hits", "recall")}"

  /** The twin of [[monotone]]. */
  def duckMonotone(names: Seq[String]): String =
    names.sliding(2).map(w => s"${w(1)} >= ${w(0)}").mkString(" AND ")
}
