package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-5 corpus-layout additions (SURVEY.md §2.4 north-star surface):
  *
  *  - d16: sequence packing — the concat-and-chunk layout step that
  *    turns a filtered corpus into fixed-capacity training sequences
  *    (every pretraining data loader performs it). The global token
  *    offset of each document comes from the distributed two-phase scan
  *    ([[graft.operators.GlobalPrefixSum]]) rather than an empty-
  *    PARTITION-BY window, so the corpus never funnels through one task.
  *  - q79: leakage-safe GROUP split — train/val/test assignment hashed
  *    at the SOURCE level, so near-duplicate documents from one source
  *    can never straddle a split boundary (row-level splits leak; the
  *    q39 hash-sample machinery lifted from rows to groups). The output
  *    carries its own witness: n_leaky_sources, the count of sources
  *    seen in more than one split, provably 0 by construction.
  *  - q80: token-budget water-filling — given a per-source token census
  *    and a target budget (half the corpus), find the unique per-source
  *    cap T with Σ min(tokens_s, T) = budget and emit each source's
  *    quota + sampling rate. The levelling walk runs entirely on the
  *    per-source frame (bounded by the source vocabulary — broadcast
  *    scale), so the only corpus-scale work is the token count.
  *    Complements t18 (temperature mixture): t18 reshapes SHARES,
  *    q80 enforces an absolute BUDGET.
  *  - t20: n-gram novelty scoring — per-document fraction of 4-gram
  *    spans first seen in that document (min-doc_id ownership over the
  *    span partition), the curation metric complementing d13's
  *    duplicated-span census.
  */
object TextOps5 {
  import Tables.t
  import graft.operators.Partitions.spread

  /** Tokens per packed training sequence (d16). */
  val SeqCap = 256L

  /** n-gram width for the t20 novelty score. */
  val NovelN = 4

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Concat-and-chunk sequence packing: documents are laid out in
    // doc_id order as one token stream; sequence k owns stream
    // positions [k*Cap, (k+1)*Cap). Each doc reports the sequences it
    // lands in and whether it crosses a boundary (the fraction of
    // boundary-crossing docs is the packing's attention-contamination
    // metric). cum rides the two-phase scan: one range shuffle over the
    // corpus, per-slice windows, bounded offset frame — no single-task
    // global window at any scale.
    "d16_sequence_packing" -> ((spark, dir) => {
      val docs = t(spark, dir, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tok"))
      graft.operators.GlobalPrefixSum
        .withRunningTotal(docs, "doc_id", "n_tok", "cum")
        .select(col("doc_id"), col("n_tok"), col("cum"),
          expr(s"(cum - n_tok) div $SeqCap").as("first_seq"),
          expr(s"(cum - 1) div $SeqCap").as("last_seq"))
        .withColumn("crosses", col("first_seq") =!= col("last_seq"))
        .orderBy("doc_id")
    }),

    // Group-level split: md5(source) mod 10 → 8/1/1 train/val/test.
    // Per-split census (docs, sources, tokens) + the leakage witness.
    // The leak check aggregates the per-source frame (bounded), the
    // census is one corpus aggregation — both map-side combinable.
    "q79_group_split" -> ((spark, dir) => {
      val bucket = pmod(graft.functions.Md5Pack(col("source")), lit(10))
      val assigned = t(spark, dir, "documents")
        .select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).cast("long").as("n_tok"))
        .withColumn("split",
          when(bucket < 8, "train").when(bucket === 8, "val")
            .otherwise("test"))
      val leaks = assigned.groupBy("source")
        .agg(countDistinct(col("split")).as("ns"))
        .agg(count_if(col("ns") > 1).as("n_leaky_sources"))
      assigned.groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("source")).as("n_sources"),
          sum(col("n_tok")).as("n_tokens"))
        .crossJoin(broadcast(leaks))
        .orderBy("split")
    }),

    // Water-filling: sources ascending by token count; at row i the
    // candidate cap (budget − smaller-source mass) / #remaining is
    // valid when it fits under the row's own count, and the true cap is
    // the largest valid candidate (rows past the levelling point emit
    // strictly smaller candidates). No valid candidate ⇔ budget covers
    // everything ⇒ every rate is 1. Integer cumsums stay exact; the
    // single division to double is the last step, identical IEEE in
    // both engines.
    "q80_token_budget" -> ((spark, dir) => {
      val per = t(spark, dir, "documents")
        .groupBy("source")
        .agg(sum(size(split(col("text"), " "))).cast("long").as("n_tok"))
      val tot = per.agg(sum(col("n_tok")).cast("long").as("tok_total"),
        count(lit(1)).as("n_src"))
      val w = Window.orderBy(col("n_tok"), col("source"))
      val wPrev = w.rowsBetween(Window.unboundedPreceding, -1)
      val stats = per.crossJoin(broadcast(tot))
        .withColumn("budget", expr("tok_total div 2"))
        .withColumn("i", row_number().over(w))
        .withColumn("prev_cum",
          coalesce(sum(col("n_tok")).over(wPrev), lit(0L)))
        .withColumn("cap_cand",
          (col("budget") - col("prev_cum")).cast("double") /
            (col("n_src") - col("i") + 1).cast("double"))
      val capT = stats
        .filter(col("cap_cand") <= col("n_tok").cast("double"))
        .agg(max(col("cap_cand")).as("cap_t"))
      val eff = coalesce(col("cap_t"), col("n_tok").cast("double"))
      stats.crossJoin(broadcast(capT))
        .select(col("source"), col("n_tok"), col("budget"),
          round(least(col("n_tok").cast("double"), eff), 2).as("quota"),
          round(least(lit(1.0), eff / col("n_tok").cast("double")), 6)
            .as("rate"))
        .orderBy("source")
    }),

    // Curriculum sharding: order the corpus by lexical richness
    // (type-token ratio, descending; doc_id tiebreak) and cut it into
    // equal-token shards — the layout step that turns a curated corpus
    // into a quality-ordered training schedule. The global order rides
    // [[graft.operators.GlobalPrefixSum]] over the composite key
    // struct(-ttr, doc_id) (negation = descending without a sort-order
    // flag crossing the range partitioner), so no single-task window at
    // any scale; a doc belongs to the shard its first token lands in.
    "d18_curriculum_shards" -> ((spark, dir) => {
      val ShardTok = 512L
      val tk = split(col("text"), " ")
      val scored = t(spark, dir, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id"), size(tk).cast("long").as("n_tok"),
          (size(array_distinct(tk)).cast("double") / size(tk)).as("ttr"))
      graft.operators.GlobalPrefixSum
        .withRunningTotalBy(scored, struct(negate(col("ttr")), col("doc_id")),
          "n_tok", "cum")
        .select(col("doc_id"), col("n_tok"), round(col("ttr"), 6).as("ttr"),
          expr(s"(cum - n_tok) div $ShardTok").as("shard"))
        .orderBy("doc_id")
    }),

    // Product-quantization ANN (operators.AnnPq): the memory-compressed
    // third ANN family next to s2's hyperplane buckets and s3's inverted
    // lists — 32 subspaces × 16 codewords quantize each L2-normalized
    // 64-dim vector to 32 nibbles (16 bytes vs 256 — 16× compression);
    // probes score candidates against the RECONSTRUCTION (asymmetric
    // distance computation). At this granularity the s4 witness puts PQ
    // recall ABOVE the inverted-list path (0.48 vs 0.42 at sf0.01)
    // while the candidate side ships 16 bytes/vector. Encoding is one
    // map-only pass over literal codeword arrays (no shuffle in the
    // build); scoring mirrors s1's bounded-probe join shape with the
    // estimated L2 in place of exact cosine.
    "s5_ann_pq" -> ((spark, dir) => {
      // L2-normalize first: on unit vectors ‖p−c‖² = 2 − 2·cos, so the
      // PQ-estimated L2 ordering approximates the cosine ordering the
      // exact baseline (s1) and the recall witness (s4) use.
      // One-pass codegen'd normalization: the HOF form re-evaluated the
      // norm aggregate per element (CollapseProject inlines any hoisted
      // norm column back into the lambda — static refcount 1).
      val vecs = t(spark, dir, "embeddings")
        .filter(col("embedding").isNotNull)
        .select(col("vec_id"),
          graft.functions.GraftFunctions.l2Normalize(col("embedding"))
            .as("emb"))
      // Codebook ids depend only on vec_id: collect the 16 md5-smallest
      // (bounded, the IVF-centroid device) and FILTER before the
      // normalize projection — the codebook action normalizes 16 rows,
      // not the corpus; at 100 TB that is a whole pass saved.
      val cbIds = t(spark, dir, "embeddings")
        .filter(col("embedding").isNotNull)
        .select(col("vec_id"),
          graft.functions.Md5Pack(col("vec_id").cast("string")).as("_h"))
        .orderBy(col("_h"), col("vec_id")).limit(16)
        .select("vec_id").collect().map(_.getLong(0)).toSeq
      val cb = graft.operators.AnnPq.codebook(
        vecs.filter(col("vec_id").isin(cbIds: _*)), "vec_id", "emb", 16)
      val cands = graft.operators.AnnPq
        .withReconstruction(vecs, "emb", cb, m = 32)
        .select(col("vec_id").as("cand_id"), col("recon"))
      val probes = vecs.filter(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"), col("emb").as("p_emb"))
      val scored = probes
        .join(cands, col("probe_id") =!= col("cand_id"))
        .select(col("probe_id"), col("cand_id"),
          round(graft.operators.AnnPq.l2sq(col("p_emb"), col("recon")), 6)
            .as("est_l2sq"))
      val w = Window.partitionBy("probe_id")
        .orderBy(col("est_l2sq"), col("cand_id"))
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .orderBy("probe_id", "rank")
    }),

    // Character-level Shannon entropy — the degenerate-content detector
    // (binary junk ~8 bits, mono-character spam ~0, natural text ~4):
    // chars explode positionally (substring mirrors the oracle exactly;
    // regex-split edge semantics differ between engines), histogram +
    // entropy are two doc-keyed aggregations with a charset-bounded
    // window in between.
    "t21_char_entropy" -> ((spark, dir) => {
      val wDoc = Window.partitionBy("doc_id")
      spread(t(spark, dir, "documents"))
        .filter(col("text").isNotNull)
        .select(col("doc_id"),
          explode(sequence(lit(1), length(col("text")))).as("i"),
          col("text"))
        .select(col("doc_id"), expr("substring(text, i, 1)").as("ch"))
        .groupBy("doc_id", "ch").agg(count(lit(1)).as("c"))
        .withColumn("n", sum(col("c")).over(wDoc))
        .groupBy("doc_id")
        .agg(max(col("n")).as("n_chars"),
          count(lit(1)).as("n_distinct_chars"),
          round(-sum((col("c") / col("n")) *
            log2(col("c") / col("n"))), 6).as("entropy"))
        .orderBy("doc_id")
    }),

    // n-gram novelty scoring — the data-curation metric that prices a
    // document by how much of it is FIRST SEEN there (docs full of
    // already-seen spans add little signal; the complement of d13's
    // duplicated-span census). A span's first owner is min(doc_id) OVER
    // the span partition — the d11 window-instead-of-join-back idiom —
    // so the exploded span stream shuffles exactly once, and the
    // per-doc rollup is one map-side-combinable aggregation.
    "t20_ngram_novelty" -> ((spark, dir) => {
      val wSpan = Window.partitionBy("span")
      spread(t(spark, dir, "documents"))
        .filter(col("text").isNotNull &&
          size(split(col("text"), " ")) >= NovelN)
        .select(col("doc_id"),
          explode(graft.functions.ShinglesOf(
            split(col("text"), " "), NovelN)).as("span"))
        .withColumn("first_doc", min(col("doc_id")).over(wSpan))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_spans"),
          count_if(col("first_doc") === col("doc_id")).as("n_novel"))
        .withColumn("novelty",
          round(col("n_novel").cast("double") / col("n_spans"), 6))
        .orderBy("doc_id")
    }),
  )

  val oracleSql: Map[String, String] = Map(
    "d16_sequence_packing" ->
      s"""WITH d AS (
         |  SELECT doc_id,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
         |  FROM documents WHERE text IS NOT NULL),
         |c AS (
         |  SELECT doc_id, n_tok,
         |    CAST(sum(n_tok) OVER (ORDER BY doc_id) AS BIGINT) AS cum
         |  FROM d)
         |SELECT doc_id, n_tok, cum,
         |  (cum - n_tok) // $SeqCap AS first_seq,
         |  (cum - 1) // $SeqCap AS last_seq,
         |  (cum - n_tok) // $SeqCap <> (cum - 1) // $SeqCap AS crosses
         |FROM c ORDER BY doc_id""".stripMargin,

    "q79_group_split" ->
      s"""WITH a AS (
         |  SELECT doc_id, source,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
         |    CASE WHEN (${Tables.duckMd5Pack("source")}) % 10 < 8 THEN 'train'
         |         WHEN (${Tables.duckMd5Pack("source")}) % 10 = 8 THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM documents),
         |leak AS (
         |  SELECT CAST(count(*) FILTER (WHERE ns > 1) AS BIGINT)
         |    AS n_leaky_sources
         |  FROM (SELECT source, count(DISTINCT split) AS ns
         |        FROM a GROUP BY source))
         |SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
         |  CAST(sum(n_tok) AS BIGINT) AS n_tokens, leak.n_leaky_sources
         |FROM a CROSS JOIN leak
         |GROUP BY split, leak.n_leaky_sources
         |ORDER BY split""".stripMargin,

    "q80_token_budget" ->
      """WITH per AS (
        |  SELECT source,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tok
        |  FROM documents GROUP BY source),
        |tot AS (
        |  SELECT CAST(sum(n_tok) AS BIGINT) AS tok_total,
        |    CAST(count(*) AS BIGINT) AS n_src
        |  FROM per),
        |stats AS (
        |  SELECT source, n_tok, tok_total // 2 AS budget,
        |    row_number() OVER (ORDER BY n_tok, source) AS i,
        |    CAST(coalesce(sum(n_tok) OVER (ORDER BY n_tok, source
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS prev_cum,
        |    n_src
        |  FROM per CROSS JOIN tot),
        |c AS (
        |  SELECT *, CAST(budget - prev_cum AS DOUBLE)
        |      / CAST(n_src - i + 1 AS DOUBLE) AS cap_cand
        |  FROM stats),
        |capt AS (
        |  SELECT max(cap_cand) AS cap_t FROM c
        |  WHERE cap_cand <= CAST(n_tok AS DOUBLE))
        |SELECT source, n_tok, budget,
        |  round(least(CAST(n_tok AS DOUBLE),
        |    coalesce(cap_t, CAST(n_tok AS DOUBLE))), 2) AS quota,
        |  round(least(1.0, coalesce(cap_t, CAST(n_tok AS DOUBLE))
        |    / CAST(n_tok AS DOUBLE)), 6) AS rate
        |FROM c CROSS JOIN capt
        |ORDER BY source""".stripMargin,

    "d18_curriculum_shards" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        |    CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |      / len(string_split(text, ' ')) AS ttr
        |  FROM documents WHERE text IS NOT NULL),
        |c AS (
        |  SELECT doc_id, n_tok, ttr,
        |    CAST(sum(n_tok) OVER (ORDER BY -ttr, doc_id) AS BIGINT) AS cum
        |  FROM d)
        |SELECT doc_id, n_tok, round(ttr, 6) AS ttr,
        |  (cum - n_tok) // 512 AS shard
        |FROM c ORDER BY doc_id""".stripMargin,

    "s5_ann_pq" -> {
      val M = 32
      val Sub = 64 / M
      val l2 = (a: String, b: String) =>
        s"list_dot_product($a, $a) - 2 * list_dot_product($a, $b) + list_dot_product($b, $b)"
      val encScore =
        "list_dot_product(cs, cs) - 2 * list_dot_product(vs, cs)"
      s"""WITH vecs0 AS (
         |  SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e0
         |  FROM embeddings WHERE embedding IS NOT NULL),
         |vecs AS (
         |  SELECT vec_id, list_transform(e0,
         |    x -> x / sqrt(list_dot_product(e0, e0))) AS emb
         |  FROM vecs0),
         |cb AS (
         |  SELECT row_number() OVER (ORDER BY h, vec_id) - 1 AS k, emb
         |  FROM (
         |    SELECT vec_id, emb,
         |      ${Tables.duckMd5Pack("CAST(vec_id AS VARCHAR)")} AS h
         |    FROM vecs ORDER BY h, vec_id LIMIT 16)),
         |enc AS (
         |  SELECT vec_id, m, k, rn FROM (
         |    SELECT v.vec_id, s.m, c.k,
         |      row_number() OVER (PARTITION BY v.vec_id, s.m
         |        ORDER BY $encScore, c.k) AS rn
         |    FROM vecs v
         |    CROSS JOIN (SELECT unnest(range($M)) AS m) s
         |    CROSS JOIN cb c,
         |    LATERAL (SELECT list_slice(v.emb, CAST(s.m*$Sub+1 AS INTEGER),
         |        CAST(s.m*$Sub+$Sub AS INTEGER)) AS vs,
         |      list_slice(c.emb, CAST(s.m*$Sub+1 AS INTEGER),
         |        CAST(s.m*$Sub+$Sub AS INTEGER)) AS cs) x)
         |  WHERE rn = 1),
         |recon AS (
         |  SELECT e.vec_id,
         |    flatten(list(list_slice(c.emb, CAST(e.m*$Sub+1 AS INTEGER),
         |      CAST(e.m*$Sub+$Sub AS INTEGER)) ORDER BY e.m)) AS recon
         |  FROM enc e JOIN cb c ON c.k = e.k
         |  GROUP BY e.vec_id),
         |scored AS (
         |  SELECT p.vec_id AS probe_id, r.vec_id AS cand_id,
         |    round(${l2("p.emb", "r.recon")}, 6) AS est_l2sq
         |  FROM vecs p JOIN recon r
         |    ON p.vec_id < 10 AND p.vec_id <> r.vec_id)
         |SELECT probe_id, cand_id, est_l2sq, CAST(rn AS INTEGER) AS rank
         |FROM (
         |  SELECT *, row_number() OVER (PARTITION BY probe_id
         |    ORDER BY est_l2sq, cand_id) AS rn
         |  FROM scored)
         |WHERE rn <= 5 ORDER BY probe_id, rank""".stripMargin
    },

    "t21_char_entropy" ->
      """WITH ch AS (
        |  SELECT doc_id, unnest(list_transform(range(length(text)),
        |    i -> substr(text, CAST(i + 1 AS INTEGER), 1))) AS ch
        |  FROM documents WHERE text IS NOT NULL),
        |cnt AS (
        |  SELECT doc_id, ch, CAST(count(*) AS BIGINT) AS c
        |  FROM ch GROUP BY doc_id, ch),
        |tot AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n
        |  FROM cnt GROUP BY doc_id)
        |SELECT cnt.doc_id, max(n) AS n_chars,
        |  CAST(count(*) AS BIGINT) AS n_distinct_chars,
        |  round(-sum((CAST(c AS DOUBLE) / n) * log2(CAST(c AS DOUBLE) / n)),
        |    6) AS entropy
        |FROM cnt JOIN tot ON cnt.doc_id = tot.doc_id
        |GROUP BY cnt.doc_id ORDER BY cnt.doc_id""".stripMargin,

    "t20_ngram_novelty" ->
      s"""WITH d AS (
         |  SELECT doc_id, string_split(text, ' ') AS tk
         |  FROM documents WHERE text IS NOT NULL),
         |sh AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(
         |    range(len(tk) - ${NovelN - 1}),
         |    i -> array_to_string(list_slice(tk, i+1, i+$NovelN), ' '))))
         |    AS span
         |  FROM d WHERE len(tk) >= $NovelN),
         |f AS (
         |  SELECT doc_id,
         |    min(doc_id) OVER (PARTITION BY span) AS first_doc
         |  FROM sh)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
         |  CAST(count(*) FILTER (WHERE first_doc = doc_id) AS BIGINT)
         |    AS n_novel,
         |  round(CAST(count(*) FILTER (WHERE first_doc = doc_id) AS DOUBLE)
         |    / count(*), 6) AS novelty
         |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin,
  )
}
