package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** LLM-training-data pipeline operators (SURVEY.md §2.4 / north-star):
  * dedup (exact, token-Jaccard, MinHash+LSH), similarity search over
  * embeddings, text analysis (language scoring, quality, token stats,
  * fingerprinting) and multimodal binary plumbing.
  *
  * Hashing is md5-based (identical in Spark and DuckDB) so every sketch,
  * LSH and ANN computation here is oracle-checkable; xxhash64 remains the
  * faster default in the operator APIs for non-oracle use. All ratio
  * arithmetic is int/int → IEEE double division, bit-identical across
  * engines.
  */
object TextOps {
  import Tables.t
  import graft.operators.Partitions.spread

  /** Distinct word tokens of a document (texts are single-space separated). */
  private def toks(c: Column): Column = array_distinct(split(c, " "))

  private val NumHashes = 8

  /** Mersenne prime 2^31-1 for the universal-hash family. */
  private val HashP = 2147483647L

  /** All NumHashes minhash functions from ONE md5 per token: split the
    * 32-hex digest into two 60-bit halves h1,h2, reduce mod p, and take
    * h_i = (h1 + (i+1)·h2) mod p — the standard two-hash construction
    * (Kirsch-Mitzenmacher). 8× cheaper than seeded md5 per function, and
    * still bit-reproducible in DuckDB SQL. h1/h2 come from the codegen'd
    * byte-level [[graft.functions.Md5Pack]] (no hex-string intermediates);
    * bit-equality with the conv(substr(md5hex)) formulation is tested.
    */
  private[queries] def mdHashes(c: Column): Seq[Column] = {
    val packed = graft.functions.Md5Pack(c)
    val h1 = shiftright(packed, 31)
    val h2 = packed.bitwiseAND(lit(0x7fffffffL))
    (0 until NumHashes).map(i => (h1 + lit(i + 1) * h2) % HashP)
  }

  /** Distinct 3-word shingles. MinHash over unigrams is degenerate on a
    * small vocabulary (every band collides, candidate pairs explode
    * quadratically — measured 100x slowdown at sf0.1); word 3-grams give
    * the diversity the sketch needs, at any corpus size. Built by the
    * codegen'd [[graft.functions.ShinglesOf]] kernel — the declarative
    * transform(sequence)+concat_ws+array_distinct formulation it
    * replaces ran interpreted (HOFs are CodegenFallback) and dominated
    * the dedup pipeline. Short/NULL docs yield an empty set.
    */
  private[queries] def shingles(text: Column): Column =
    graft.functions.ShinglesOf(split(text, " "), 3)

  /** doc_id + minhash signature columns mh0..mh7 over distinct shingles.
    *
    * One pure-map pass: per row, the shingle array is md5-packed
    * ([[graft.functions.Md5Pack]]) and folded into all 8 minima by the
    * codegen'd [[graft.functions.MinHashOf]] kernel — zero shuffles. The
    * former explode + groupBy-min formulation shuffled one row per
    * (doc, shingle) into the aggregation, i.e. the whole shingled corpus
    * crossed the wire to compute 8 longs per doc. Minima are
    * order-independent, so the signature is bit-identical (and still
    * replays in DuckDB SQL). Shingle-less docs (< 3 words) yield no row,
    * matching the exploded form where they produced no group.
    */
  private def minhashSignature(docs: DataFrame): DataFrame = {
    // Shingle-less docs (< 3 words) yield no row, matching the exploded
    // form where they produced no group. The filter runs on the CHEAP
    // word count, before the sketch projection: filtering on
    // isNotNull(_mh) instead lets predicate pushdown substitute the
    // alias and evaluate the whole shingle+md5+minhash pass twice
    // (measured 3x slower).
    spread(docs)
      .filter(size(split(col("text"), " ")) >= 3)
      .select(col("doc_id"),
        graft.functions.MinHashOf(shingles(col("text")), NumHashes).as("_mh"))
      .select(col("doc_id") +: (0 until NumHashes)
        .map(i => element_at(col("_mh"), i + 1).as(s"mh$i")): _*)
  }

  private val Stopwords = Seq("the", "a", "of", "and", "to", "in")

  private def cosine(a: Column, b: Column): Column =
    graft.functions.VectorOps.cosine(a, b)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact dedup: content-hash groupBy, keep min doc_id per group. At scale
    // this is one shuffle on the hash — never a pairwise compare.
    "d1_exact_dedup" -> ((spark, dir) =>
      t(spark, dir, "documents")
        .groupBy(md5(lower(col("text"))).as("content_hash"))
        .agg(min(col("doc_id")).as("keeper_doc_id"),
          count(lit(1)).as("n_dups"))
        .orderBy("keeper_doc_id")),

    // N-gram/token Jaccard near-dup on a bounded id range (the exact
    // baseline; d4 is the LSH scale path that avoids the pairwise join).
    "d2_token_jaccard" -> ((spark, dir) => {
      // Tokens ride as 8-byte Md5Pack hashes through the pairwise
      // compare: string array_intersect/array_union hash every
      // UTF8String element per pair (measured 8x slower than the long
      // form on d11's verify); the union size comes from the distinct-
      // element set sizes. Same 2^-62 collision caveat as the PPJoin
      // verify (PrefixSimilarityJoin.scala).
      val docs = t(spark, dir, "documents").filter(col("doc_id") < 200)
        .select(col("doc_id"), col("lang"),
          graft.functions.Md5PackArr(toks(col("text"))).as("tk"))
      val a = docs.select(col("doc_id").as("a_id"), col("lang"),
        col("tk").as("a_tk"))
      val b = docs.select(col("doc_id").as("b_id"), col("lang").as("b_lang"),
        col("tk").as("b_tk"))
      val inter = size(array_intersect(col("a_tk"), col("b_tk")))
      a.join(b, col("lang") === col("b_lang") && col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id"),
          (inter / (size(col("a_tk")) + size(col("b_tk")) - inter))
            .as("jaccard"))
        .filter(col("jaccard") >= 0.6)
        .orderBy("a_id", "b_id")
    }),

    // MinHash signatures (md5-based, oracle-checkable): the sketch that
    // replaces pairwise comparison at 100 TB.
    "d3_minhash_sig" -> ((spark, dir) =>
      minhashSignature(t(spark, dir, "documents")).orderBy("doc_id")),

    // MinHash + LSH banding: 4 bands × 2 rows; candidate pairs from band
    // collisions (groupBy-join on the band's minhash pair — shuffle, no
    // cross join), then true-Jaccard verification of candidates only. A
    // band collision IS equality of its two minhash values, so the bucket
    // key is the raw (band, mh_a, mh_b) triple — no band hash needed, and
    // the whole pipeline replays in DuckDB SQL (full oracle).
    "d4_minhash_pairs" -> ((spark, dir) => {
      val docs = t(spark, dir, "documents")
      val sig = minhashSignature(docs)
      val bands = sig.select(col("doc_id"),
        explode(array((0 until NumHashes / 2).map(bnd =>
          struct(lit(bnd).as("band"),
            col(s"mh${2 * bnd}").as("ba"),
            col(s"mh${2 * bnd + 1}").as("bb"))): _*))
          .as("b"))
        .select(col("doc_id"), col("b.band").as("band"),
          col("b.ba").as("ba"), col("b.bb").as("bb"))
      // Skew guard + pair expansion via the shared BucketedPairs helper:
      // capped band buckets, pairs expanded inside each bucket's sorted id
      // array — one lineage, no self-join, no cross join anywhere.
      // Persist + an eager count() so the signature pipeline runs exactly
      // ONCE: without it, under AQE the branches below race to materialize
      // the same cached frame (measured 2x slower). Only a single long
      // crosses to the driver — the candidate IDS stay distributed and
      // reach the verification scan through a left_semi join (at real
      // scale AQE broadcasts the tiny id frame, giving the same scan-side
      // filtering as a runtime filter; a collect()+isin here would grow
      // the driver heap and the literal tree linearly with the corpus).
      val cand = graft.operators.BucketedPairs
        .pairs(bands, Seq("band", "ba", "bb"), col("doc_id"), maxBucket = 100)
        .select(col("x").as("a_id"), col("y").as("b_id"))
        .distinct()
        .persist()
      cand.count()
      val candIds = cand.select(col("a_id").as("doc_id"))
        .union(cand.select(col("b_id").as("doc_id")))
        .distinct()
      // Verification: shingle ONLY candidate docs — the semi-join keeps
      // the exact-Jaccard step O(candidates), not O(corpus).
      // hashed-long exact verify: see d2 / PrefixSimilarityJoin for the
      // measured 8x and the collision caveat; union size from set sizes
      val candToks = docs.join(candIds, Seq("doc_id"), "left_semi")
        .select(col("doc_id"),
          graft.functions.Md5PackArr(shingles(col("text"))).as("tk"))
      val inter = size(array_intersect(col("a_tk"), col("b_tk")))
      cand
        .join(candToks.select(col("doc_id").as("a_id"), col("tk").as("a_tk")),
          "a_id")
        .join(candToks.select(col("doc_id").as("b_id"), col("tk").as("b_tk")),
          "b_id")
        .select(col("a_id"), col("b_id"),
          (inter / (size(col("a_tk")) + size(col("b_tk")) - inter))
            .as("jaccard"))
        .filter(col("jaccard") >= 0.5)
        .orderBy("a_id", "b_id")
    }),

    // Incremental dedup — the batch-arrival shape of d4: the newest 20%
    // of the corpus (doc_id ≥ max·4/5, the "incoming batch") checks
    // itself against the existing 80% (the "index") WITHOUT re-verifying
    // old↔old or new↔new pairs. Signatures and band buckets are the d4
    // pipeline unchanged (at scale the old side's signatures would be
    // precomputed and persisted); the candidate frame filters to
    // CROSS-boundary pairs before any verification work, so the exact-
    // Jaccard step costs O(crossing candidates) — the economics that
    // make nightly corpus refreshes affordable. The boundary is a
    // one-row broadcast, never a driver literal.
    "d17_incremental_dedup" -> ((spark, dir) => {
      val docs = t(spark, dir, "documents")
      val bref = docs.agg(expr("max(doc_id) * 4 div 5").as("bmax"))
      val sig = minhashSignature(docs)
      val bands = sig.select(col("doc_id"),
        explode(array((0 until NumHashes / 2).map(bnd =>
          struct(lit(bnd).as("band"),
            col(s"mh${2 * bnd}").as("ba"),
            col(s"mh${2 * bnd + 1}").as("bb"))): _*))
          .as("b"))
        .select(col("doc_id"), col("b.band").as("band"),
          col("b.ba").as("ba"), col("b.bb").as("bb"))
      val cand = graft.operators.BucketedPairs
        .pairs(bands, Seq("band", "ba", "bb"), col("doc_id"), maxBucket = 100)
        .select(col("x").as("old_id"), col("y").as("new_id"))
        .distinct()
        .crossJoin(broadcast(bref))
        .filter(col("old_id") < col("bmax") && col("new_id") >= col("bmax"))
        .select("old_id", "new_id")
        .persist()
      cand.count()
      val candIds = cand.select(col("old_id").as("doc_id"))
        .union(cand.select(col("new_id").as("doc_id")))
        .distinct()
      // hashed-long exact verify (see d2/d4 for rationale + caveat)
      val candToks = docs.join(candIds, Seq("doc_id"), "left_semi")
        .select(col("doc_id"),
          graft.functions.Md5PackArr(shingles(col("text"))).as("tk"))
      val inter = size(array_intersect(col("a_tk"), col("b_tk")))
      cand
        .join(candToks.select(col("doc_id").as("old_id"), col("tk").as("a_tk")),
          "old_id")
        .join(candToks.select(col("doc_id").as("new_id"), col("tk").as("b_tk")),
          "new_id")
        .select(col("old_id"), col("new_id"),
          (inter / (size(col("a_tk")) + size(col("b_tk")) - inter))
            .as("jaccard"))
        .filter(col("jaccard") >= 0.5)
        .orderBy("old_id", "new_id")
    }),

    // Asymmetric containment over the verified near-dup pairs:
    // |A∩B|/|A| vs |A∩B|/|B| distinguishes "B quotes/extends A" from
    // symmetric duplication (Jaccard alone cannot — a 10× longer doc
    // fully containing a short one scores J ≈ 0.1 but containment 1.0).
    // Reuses d4's pair pipeline; only pair members re-shingle via the
    // semi-join, so the scoring step is O(pairs) at any corpus size.
    "d19_containment" -> ((spark, dir) => {
      // The pair frame is referenced THREE times below (both sides of
      // the member-id union plus the scoring join) — eager
      // localCheckpoint so the d4 pipeline runs once, not once per
      // reference (measured 18.5s → 3.8s isolated at sf0.1), AND the
      // result plan carries no replayed d4 lineage (persist kept the
      // full plan under every InMemoryRelation — 322 exchanges in the
      // census for a 3.3s query). The frame is pair-bounded, never
      // corpus-sized; Bench/Verify force periodic GC so the blocks free.
      val pairs = queries("d4_minhash_pairs")(spark, dir)
        .select(col("a_id"), col("b_id"))
        .localCheckpoint(true)
      val ids = pairs.select(col("a_id").as("doc_id"))
        .union(pairs.select(col("b_id").as("doc_id"))).distinct()
      // hashed-long exact verify (see d2/d4 for rationale + caveat);
      // the hashed array has the same length, so the containment
      // denominators size(a_tk)/size(b_tk) are unchanged
      val ptk = t(spark, dir, "documents")
        .join(ids, Seq("doc_id"), "left_semi")
        .select(col("doc_id"),
          graft.functions.Md5PackArr(shingles(col("text"))).as("tk"))
      val inter = size(array_intersect(col("a_tk"), col("b_tk")))
        .cast("double")
      pairs
        .join(ptk.select(col("doc_id").as("a_id"), col("tk").as("a_tk")),
          "a_id")
        .join(ptk.select(col("doc_id").as("b_id"), col("tk").as("b_tk")),
          "b_id")
        .select(col("a_id"), col("b_id"),
          round(inter / size(col("a_tk")), 6).as("cont_in_a"),
          round(inter / size(col("b_tk")), 6).as("cont_in_b"))
        .withColumn("quote_like",
          greatest(col("cont_in_a"), col("cont_in_b")) >= 0.8)
        .orderBy("a_id", "b_id")
    }),

    // MinHash calibration witness — the sketch-accuracy discipline s4
    // applies to ANN, applied to the dedup sketch: for every verified
    // pair, the signature-agreement estimate (matching minhash fraction,
    // E[est] = J) sits next to the exact Jaccard, with the absolute
    // error as the oracle-checked accuracy record. Joins are pair-keyed
    // against the node-bounded signature frame.
    "t22_minhash_calibration" -> ((spark, dir) => {
      val pairs = queries("d4_minhash_pairs")(spark, dir)
      val sig = minhashSignature(t(spark, dir, "documents"))
      def side(p: String) = sig.select(
        col("doc_id").as(s"${p}_id") +:
          (0 until NumHashes).map(i => col(s"mh$i").as(s"${p}_mh$i")): _*)
      val est = (0 until NumHashes)
        .map(i => when(col(s"a_mh$i") === col(s"b_mh$i"), 1).otherwise(0))
        .reduce(_ + _).cast("double") / NumHashes
      pairs
        .join(side("a"), "a_id").join(side("b"), "b_id")
        .select(col("a_id"), col("b_id"),
          round(col("jaccard"), 6).as("true_jaccard"),
          round(est, 6).as("est_jaccard"),
          round(abs(est - col("jaccard")), 6).as("abs_err"))
        .orderBy("a_id", "b_id")
    }),

    // Dedup cluster assignment: the verified d4 near-dup PAIRS collapse
    // into connected components (min-label propagation,
    // operators.ConnectedComponents); the component id doubles as the
    // canonical keeper (min doc_id of the cluster). This is the step
    // that turns pairwise similarity into an actionable "keep one, drop
    // the rest" plan. Oracle: DuckDB recursive-CTE transitive closure
    // over the same pairs.
    "d8_dedup_clusters" -> ((spark, dir) => {
      val pairs = queries("d4_minhash_pairs")(spark, dir)
        .select(col("a_id"), col("b_id"))
      graft.operators.ConnectedComponents.labels(pairs, "a_id", "b_id")
        .select(col("node").as("doc_id"), col("component").as("cluster_keeper"))
        .orderBy("doc_id")
    }),

    // Edit-distance near-dup verification (the third fuzzy-dedup
    // primitive next to set-similarity d2/d4 and bit-similarity d5):
    // id-range-blocked candidate pairs scored by levenshtein over an
    // 80-char prefix. Full-text edit distance is O(|a|*|b|) per pair —
    // the prefix bound keeps the verify step constant-cost per pair, the
    // blocking keeps the pair count bounded; at scale the candidates
    // would come from d4's LSH instead of the id block. Documented
    // divergence: Spark levenshtein counts CODEPOINT edits, DuckDB
    // counts BYTE edits — identical on the all-ASCII testdata this
    // oracle runs on, but non-ASCII text would diverge (multi-byte
    // chars count once in Spark, once per byte in DuckDB).
    "d7_edit_distance" -> ((spark, dir) => {
      val docs = t(spark, dir, "documents").filter(col("doc_id") < 120)
        .select(col("doc_id"), col("lang"),
          substring(col("text"), 1, 80).as("head"))
      val a = docs.select(col("doc_id").as("a_id"), col("lang"),
        col("head").as("a_head"))
      val b = docs.select(col("doc_id").as("b_id"), col("lang").as("b_lang"),
        col("head").as("b_head"))
      a.join(b, col("lang") === col("b_lang") && col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id"),
          levenshtein(col("a_head"), col("b_head")).as("edit_dist"))
        .filter(col("edit_dist") <= 55)
        .orderBy("a_id", "b_id")
    }),

    // SimHash near-dup pairs (Charikar sketch + 16-bit chunk banding) over
    // 3-word shingles — unigram features degenerate on a small shared
    // vocabulary (every signature lands within a few bits of every other;
    // measured 1.2M "near-dup" pairs at sf0.1). Token hash is the 62-bit
    // md5 pack: integer bit votes are summation-order-independent, so the
    // signatures — and therefore the pairs — replay exactly in DuckDB SQL
    // (full oracle). xxhash64 stays the default for non-oracle use.
    "d5_simhash_pairs" -> ((spark, dir) =>
      graft.operators.SimHash.nearDuplicates(
          t(spark, dir, "documents"), "doc_id",
          shingles(col("text")), maxHamming = 8,
          hashKind = graft.functions.SketchOps.HashMd5Pack,
          // cheap emptiness predicate: shingles non-empty <=> >= 3 words;
          // the default size(tokens) > 0 would run the shingle kernel a
          // second time inside the filter
          nonEmpty = Some(size(split(col("text"), " ")) >= 3))
        .orderBy("a_id", "b_id")),

    // ANN via random-hyperplane LSH buckets — the scale path that replaces
    // s1's probes×corpus scan. Fully oracle-checked: plane weights are
    // md5-derived exact thousandths and both engines accumulate the
    // projections in index order (SrpBucket loop ≡ list_dot_product), so
    // buckets, candidates and ranks replay bit-exactly in DuckDB.
    "s2_ann_lsh" -> ((spark, dir) => {
      val e = t(spark, dir, "embeddings")
      graft.operators.AnnLsh.topK(e, e.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 5, numPlanes = 6)
        .orderBy("probe_id", "rank")
    }),

    // IVF ANN: inverted-list search over deterministic centroids — the
    // second scale path (vs s2's hyperplane buckets). One Lloyd
    // refinement re-centers the md5-sampled centroids on their owned
    // vectors' decimal-summed means (recall 0.32 -> 0.42 at sf0.01,
    // measured by s4). Fully oracle-checked: sampling, refinement,
    // assignment, routing and ranking all replay in DuckDB.
    "s3_ann_ivf" -> ((spark, dir) => {
      val e = t(spark, dir, "embeddings")
      graft.operators.AnnIvf.topK(e, e.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 5, nCentroids = 16, nProbe = 2,
          lloydIters = 1)
        .orderBy("probe_id", "rank")
    }),

    // ANN self-evaluation: recall@5 of the LSH and IVF scale paths against
    // the exact brute-force ranking — the quality metric that justifies
    // the approximate paths. Oracle-checked end-to-end now that s1/s2/s3
    // all replay in DuckDB. One row per method: (method, hits, possible,
    // recall).
    "s4_ann_recall" -> ((spark, dir) => {
      // Persisted: referenced by two intersects and the denominator agg —
      // without it the full brute-force scan re-executes per reference.
      // Tiny (probes × k rows); lives for the session.
      // Eager count: three method branches reference `exact` in ONE job —
      // without materializing first they race to fill the same cache
      // entry and each runs the brute-force scan (the d4 lesson). The
      // three method frames build their indexes with driver-side collects
      // (LSH planes, IVF centroids, PQ codebook) — independent of the
      // exact panel, so all four legs materialize concurrently (Par §2.6).
      val (exact, lshDf, ivfDf, pqDf) = Par.all4(spark)(
        { val ex = queries("s1_cosine_topk")(spark, dir)
            .select(col("probe_id"), col("cand_id")).persist()
          ex.count(); ex },
        queries("s2_ann_lsh")(spark, dir),
        queries("s3_ann_ivf")(spark, dir),
        TextOps5.queries("s5_ann_pq")(spark, dir))
      def recallOf(method: String, approx: DataFrame): DataFrame = {
        val hits = approx.select(col("probe_id"), col("cand_id"))
          .intersect(exact)
        // Denominator derived from the exact result, not hardcoded — stays
        // correct if s1's k/probe set changes.
        hits.agg(count(lit(1)).as("hits"))
          .crossJoin(exact.agg(count(lit(1)).as("exact_pairs")))
          .select(lit(method).as("method"), col("hits"), col("exact_pairs"),
            (col("hits") / col("exact_pairs")).as("recall"))
      }
      recallOf("lsh", lshDf)
        .unionByName(recallOf("ivf", ivfDf))
        .unionByName(recallOf("pq", pqDf))
        .orderBy("method")
    }),

    // Multimodal decode: binary payloads → typed metadata + histogram
    // features via partition-batched stub codec. Rows-only (mapPartitions
    // codec is not SQL-expressible); determinism unit-tested.
    "m2_decoded_features" -> ((spark, dir) =>
      graft.mm.Multimodal.decodedFeatures(spark, dir)
        .select(col("media_id"), col("media_type"), col("width"),
          col("height"), col("channels"))
        .orderBy("media_id")),

    // Frame sampling: payload → n byte-range frames via binary substring
    // (pure Column expressions, no decode). Frame content is verified by
    // md5 over the hex encoding (DuckDB cannot slice BLOBs, so the oracle
    // slices the hex string — 2 chars per byte — to the same bytes).
    "m3_frame_sample" -> ((spark, dir) => {
      val media = graft.mm.Multimodal
        .mediaFromDocuments(t(spark, dir, "documents")).toDF()
      graft.mm.Multimodal.sampleFrames(media, 4)
        .select(col("media_id"),
          col("frame_idx").cast("int").as("frame_idx"),
          octet_length(col("frame_bytes")).as("frame_len"),
          md5(hex(col("frame_bytes"))).as("frame_hex_md5"))
        .orderBy("media_id", "frame_idx")
    }),

    // Resize: halved dimensions + pooled features through the typed
    // Dataset path; the oracle replays the integer dimension arithmetic.
    "m4_resized_meta" -> ((spark, dir) => {
      val dec = graft.mm.Multimodal.decodeAll(
        graft.mm.Multimodal.mediaFromDocuments(t(spark, dir, "documents")))
      graft.mm.Multimodal.resizeMeta(dec, factor = 2).toDF()
        .select(col("media_id"), col("width"), col("height"), col("channels"))
        .orderBy("media_id")
    }),

    // Embedding near-dup: same-label blocking + cosine threshold (the
    // blocked exact variant; s1 is ranked top-k).
    "d6_embedding_neardup" -> ((spark, dir) => {
      val e = t(spark, dir, "embeddings").filter(col("vec_id") < 300)
      val a = e.select(col("vec_id").as("a_id"), col("label"),
        col("embedding").as("a_emb"))
      val b = e.select(col("vec_id").as("b_id"), col("label").as("b_label"),
        col("embedding").as("b_emb"))
      a.join(b, col("label") === col("b_label") && col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id"),
          round(cosine(col("a_emb"), col("b_emb")), 6).as("cos"))
        .filter(col("cos") >= 0.2)
        .orderBy("a_id", "b_id")
    }),

    // Brute-force cosine top-k (the ANN baseline): 10 probes ranked against
    // the full collection with deterministic tie-break.
    "s1_cosine_topk" -> ((spark, dir) => {
      val e = t(spark, dir, "embeddings")
      val probes = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"))
      val cands = e.select(col("vec_id").as("cand_id"),
        col("embedding").as("c_emb"))
      val scored = probes.join(cands, col("probe_id") =!= col("cand_id"))
        .select(col("probe_id"), col("cand_id"),
          round(cosine(col("p_emb"), col("c_emb")), 6).as("cos"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("probe_id")
        .orderBy(col("cos").desc, col("cand_id"))
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .orderBy("probe_id", "rank")
    }),

    // Language scoring: stopword-hit ratio + character-bigram profile hits
    // (the n-gram language-ID heuristic; real corpora would swap in per-
    // language bigram profile tables, the plumbing is identical).
    "t1_lang_profile" -> ((spark, dir) => {
      val tk = split(col("text"), " ")
      val EnBigrams = Seq("th", "he", "in", "er", "an")
      val bigramHits = EnBigrams
        .map(b => (length(col("text")) -
          length(replace(col("text"), lit(b), lit("")))) / 2)
        .reduce(_ + _)
      t(spark, dir, "documents")
        .select(col("doc_id"), col("lang"),
          size(tk).as("n_tokens"),
          size(filter(tk, x => x.isin(Stopwords: _*))).as("n_stop"),
          bigramHits.cast("long").as("n_en_bigrams"))
        .withColumn("stop_ratio", col("n_stop") / col("n_tokens"))
        .withColumn("bigram_rate", col("n_en_bigrams") / col("n_tokens"))
        .withColumn("pred_en",
          col("stop_ratio") >= 0.15 || col("bigram_rate") >= 1.0)
        .orderBy("doc_id")
    }),

    // Quality scoring: length / type-token ratio / token shape features.
    "t2_quality_score" -> ((spark, dir) => {
      val tk = split(col("text"), " ")
      t(spark, dir, "documents")
        .select(col("doc_id"),
          length(col("text")).as("n_chars"),
          size(tk).as("n_tokens"),
          size(array_distinct(tk)).as("n_distinct"))
        .withColumn("ttr", col("n_distinct") / col("n_tokens"))
        .withColumn("avg_token_len",
          (col("n_chars") - (col("n_tokens") - 1)) / col("n_tokens"))
        .withColumn("quality",
          round(col("ttr") * 0.6 +
            least(col("n_tokens") / 100.0, lit(1.0)) * 0.4, 6))
        .orderBy("doc_id")
    }),

    // Token statistics: corpus-wide top-20 tokens (explode → count → top-k).
    "t3_token_topk" -> ((spark, dir) =>
      t(spark, dir, "documents")
        .select(explode(split(col("text"), " ")).as("token"))
        .groupBy("token").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token"))
        .limit(20)),

    // BPE-ish regex tokenization: letter runs / digit runs / single
    // punctuation as separate tokens (the pre-tokenizer shape BPE uses),
    // vs plain whitespace tokens.
    "t5_regex_tokens" -> ((spark, dir) => {
      val pat = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"
      t(spark, dir, "documents")
        .select(col("doc_id"),
          size(split(col("text"), " ")).as("ws_tokens"),
          size(regexp_extract_all(col("text"), lit(pat), lit(0)))
            .as("bpe_tokens"),
          size(array_distinct(regexp_extract_all(col("text"), lit(pat), lit(0))))
            .as("bpe_distinct"))
        .orderBy("doc_id")
    }),

    // Rolling-hash fingerprint via the custom codegen'd KarpRabin
    // expression — oracle replicates the byte fold with list_reduce.
    "t6_kr_fingerprint" -> ((spark, dir) =>
      t(spark, dir, "documents")
        .select(col("doc_id"),
          graft.functions.GraftFunctions.krFingerprint(col("text")).as("kr"))
        .orderBy("doc_id")),

    // TF-IDF: corpus document frequencies → per-doc top-5 terms by
    // tf·ln(N/df), rounded for cross-engine FP parity, term tie-break.
    "t7_tfidf" -> ((spark, dir) => {
      val docs = spread(t(spark, dir, "documents"))
      // tf feeds both the document-frequency aggregation and the final
      // join — cache it so the explode+groupBy runs once.
      val tf = docs
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val df_ = tf.groupBy("term")
        .agg(countDistinct(col("doc_id")).as("df"))
      val n = docs.select(count(lit(1)).as("n_docs"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id")
        .orderBy(col("tfidf").desc, col("term"))
      tf.join(df_, "term").crossJoin(n)
        .withColumn("tfidf",
          round(col("tf") * log(col("n_docs") / col("df")), 6))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 5)
        .select(col("doc_id"), col("rnk").cast("int").as("rnk"),
          col("term"), col("tfidf"))
        .orderBy("doc_id", "rnk")
    }),

    // Gopher-style repetition quality signals: token/type counts, the
    // fraction of tokens belonging to repeated types, and the share of
    // the most frequent adjacent bigram. Both frequency maps fold inside
    // the row via the codegen'd RepStatsOf kernel — a pure map over the
    // corpus (the explode+groupBy formulation would shuffle every token
    // AND every bigram to compute five per-doc longs). All ratios are
    // long/long → IEEE double division, bit-identical in DuckDB.
    "t8_repetition" -> ((spark, dir) => {
      val s = graft.functions.RepStatsOf(split(col("text"), " "))
      spread(t(spark, dir, "documents"))
        .filter(col("text").isNotNull)
        .select(col("doc_id"), s.as("s"))
        .select(col("doc_id"),
          element_at(col("s"), 1).as("n_tokens"),
          element_at(col("s"), 2).as("n_types"),
          round(element_at(col("s"), 3).cast("double") /
            element_at(col("s"), 1), 6).as("rep_token_frac"),
          when(element_at(col("s"), 5) > 0,
            round(element_at(col("s"), 4).cast("double") /
              element_at(col("s"), 5), 6)).as("top_bigram_frac"))
        .orderBy("doc_id")
    }),

    // Unigram log-probability quality score (perplexity-style filter):
    // corpus unigram model p(tok) = cnt/N, per-doc mean of -ln p over its
    // token stream. The vocab aggregate is tiny → broadcast to the token
    // join (map-side, no shuffle of the token stream); per-token -ln p is
    // rounded to 8 decimals and summed in DECIMAL so the per-doc sum is
    // order-independent and replays exactly in DuckDB.
    "t9_unigram_logprob" -> ((spark, dir) => {
      val docs = spread(t(spark, dir, "documents"))
        .filter(col("text").isNotNull)
      val tok = docs.select(col("doc_id"),
        explode(split(col("text"), " ")).as("term"))
      val vocab = tok.groupBy("term").agg(count(lit(1)).as("cnt"))
      val total = vocab.agg(sum(col("cnt")).as("n_total"))
      tok.join(broadcast(vocab), "term")
        .crossJoin(broadcast(total))
        .withColumn("nll",
          round(-log(col("cnt").cast("double") / col("n_total")), 8)
            .cast("decimal(20,8)"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          round(sum(col("nll")).cast("double") / count(lit(1)), 6)
            .as("avg_nll"))
        .orderBy("doc_id")
    }),

    // Document fingerprint: content hash over the sorted distinct-token set
    // (whitespace/order-insensitive near-identity).
    "t4_fingerprint" -> ((spark, dir) =>
      t(spark, dir, "documents")
        .select(col("doc_id"),
          // NULL text → NULL fingerprint: concat_ws would silently turn a
          // NULL token array into "" (md5 of empty), diverging from the
          // oracle's NULL propagation.
          when(col("text").isNull, lit(null).cast("string"))
            .otherwise(md5(concat_ws(" ", array_sort(toks(lower(col("text")))))))
            .as("fingerprint"))
        .orderBy("doc_id")),

    // Multimodal plumbing: text → binary column + typed metadata (the
    // decode/feature steps live in graft.mm with stubbed codecs).
    "m1_binary_meta" -> ((spark, dir) =>
      t(spark, dir, "documents")
        .select(col("doc_id"),
          octet_length(encode(col("text"), "UTF-8")).as("n_bytes"),
          md5(col("text")).as("content_hash"))
        .orderBy("doc_id")),

    // Real binaryFile ingestion, oracle-checked end to end: the query
    // writes one .bin file per doc_id < 50 (payload = UTF-8 text) into a
    // per-SF scratch dir, re-reads them through Multimodal.readBinaryDir
    // (Spark's binaryFile source + pathGlobFilter), and emits
    // path-independent facts — type, size, content md5 — that DuckDB
    // recomputes straight from `documents`. The fixture write is a
    // bounded driver-side loop (50 docs) that exists only to give the
    // binaryFile scan something real to ingest; the scratch dir is wiped
    // first so stale files can't pollute the scan.
    "m5_binary_ingest" -> ((spark, dir) => {
      import java.nio.file.Files
      val base = Tables.freshFwBase("graft_m5", dir)
      t(spark, dir, "documents")
        .filter(col("doc_id") < 50 && col("text").isNotNull)
        .select("doc_id", "text").collect()
        .foreach { r =>
          Files.write(base.resolve(s"doc_${r.getLong(0)}.bin"),
            r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
      graft.mm.Multimodal.readBinaryDir(spark, base.toString, Some("*.bin"))
        .toDF()
        .select(col("media_type"), col("n_bytes"),
          md5(col("content")).as("content_md5"))
        .orderBy("content_md5")
    }),
  )

  private def duckToks(expr: String) = s"list_distinct(string_split($expr, ' '))"
  private val DuckCos =
    """list_dot_product(da, db) /
      |  (sqrt(list_dot_product(da, da)) * sqrt(list_dot_product(db, db)))""".stripMargin

  val oracleSql: Map[String, String] =
    oracleSqlBase ++ recallOracle ++ clusterOracle ++ incrementalOracle

  /** d17's oracle: the d4 pair replay restricted to pairs that CROSS the
    * old/new boundary — band buckets are side-agnostic, so the crossing
    * subset of the all-pairs result equals the asymmetric old↔new join
    * the engine runs (candidates filter before verification; verification
    * is per-pair, so pre- and post-filtering agree exactly).
    */
  private def incrementalOracle: Map[String, String] =
    Map("d17_incremental_dedup" ->
      s"""WITH allpairs AS (
         |  SELECT a_id, b_id, jaccard
         |  FROM (${oracleSqlBase("d4_minhash_pairs")}) t),
         |b AS (SELECT max(doc_id) * 4 // 5 AS bmax FROM documents)
         |SELECT a_id AS old_id, b_id AS new_id, jaccard
         |FROM allpairs CROSS JOIN b
         |WHERE a_id < bmax AND b_id >= bmax
         |ORDER BY old_id, new_id""".stripMargin,

      "d19_containment" ->
        s"""WITH dpairs AS (
           |  SELECT a_id, b_id FROM (${oracleSqlBase("d4_minhash_pairs")}) t),
           |shing AS (
           |  SELECT doc_id, list_distinct(list_transform(range(len(tk)-2),
           |    i -> tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3])) AS sh
           |  FROM (SELECT doc_id, string_split(text, ' ') AS tk
           |        FROM documents)),
           |j AS (
           |  SELECT a_id, b_id,
           |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) AS inter,
           |    len(a.sh) AS sa, len(b.sh) AS sb
           |  FROM dpairs
           |  JOIN shing a ON a.doc_id = a_id
           |  JOIN shing b ON b.doc_id = b_id)
           |SELECT a_id, b_id, round(inter / sa, 6) AS cont_in_a,
           |  round(inter / sb, 6) AS cont_in_b,
           |  greatest(round(inter / sa, 6), round(inter / sb, 6)) >= 0.8
           |    AS quote_like
           |FROM j ORDER BY a_id, b_id""".stripMargin,

      "t22_minhash_calibration" -> {
        val matches = (0 until NumHashes)
          .map(i => s"CASE WHEN a.mh$i = b.mh$i THEN 1 ELSE 0 END")
          .mkString(" + ")
        s"""WITH dpairs AS (
           |  SELECT a_id, b_id, jaccard
           |  FROM (${oracleSqlBase("d4_minhash_pairs")}) t),
           |s AS (SELECT * FROM (${oracleSqlBase("d3_minhash_sig")}) t)
           |SELECT a_id, b_id, round(jaccard, 6) AS true_jaccard,
           |  round(CAST($matches AS DOUBLE) / $NumHashes, 6) AS est_jaccard,
           |  round(abs(CAST($matches AS DOUBLE) / $NumHashes - jaccard), 6)
           |    AS abs_err
           |FROM dpairs
           |JOIN s a ON a.doc_id = a_id
           |JOIN s b ON b.doc_id = b_id
           |ORDER BY a_id, b_id""".stripMargin
      })

  private lazy val oracleSqlBase: Map[String, String] = Map(
    "d1_exact_dedup" ->
      """SELECT md5(lower(text)) AS content_hash,
        |  min(doc_id) AS keeper_doc_id, CAST(count(*) AS BIGINT) AS n_dups
        |FROM documents GROUP BY 1 ORDER BY keeper_doc_id""".stripMargin,

    "d7_edit_distance" ->
      """WITH d AS (
        |  SELECT doc_id, lang, substr(text, 1, 80) AS head
        |  FROM documents WHERE doc_id < 120)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  CAST(levenshtein(a.head, b.head) AS INTEGER) AS edit_dist
        |FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id
        |WHERE levenshtein(a.head, b.head) <= 55
        |ORDER BY a_id, b_id""".stripMargin,

    "m5_binary_ingest" ->
      """SELECT 'file/bin' AS media_type,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  md5(text) AS content_md5
        |FROM documents WHERE doc_id < 50 AND text IS NOT NULL
        |ORDER BY content_md5""".stripMargin,

    "d2_token_jaccard" ->
      s"""WITH d AS (SELECT doc_id, lang, ${duckToks("text")} AS tk
         |           FROM documents WHERE doc_id < 200)
         |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |  len(list_intersect(a.tk, b.tk)) /
         |    (len(a.tk) + len(b.tk) - len(list_intersect(a.tk, b.tk))) AS jaccard
         |FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id
         |WHERE len(list_intersect(a.tk, b.tk)) /
         |    (len(a.tk) + len(b.tk) - len(list_intersect(a.tk, b.tk))) >= 0.6
         |ORDER BY a_id, b_id""".stripMargin,

    "d3_minhash_sig" -> {
      val mins = (0 until NumHashes)
        .map(i => s"  min((h1 + ${i + 1} * h2) % $HashP) AS mh$i").mkString(",\n")
      s"""SELECT doc_id,
         |$mins
         |FROM (
         |  SELECT doc_id,
         |    CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) % $HashP AS h1,
         |    CAST(concat('0x', substr(md5(tok), 16, 15)) AS BIGINT) % $HashP AS h2
         |  FROM (
         |    SELECT doc_id, unnest(list_distinct(list_transform(range(len(tk)-2),
         |      i -> tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3]))) AS tok
         |    FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents)))
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },

    // Full replay of the MinHash+LSH pipeline: signatures (as d3), band
    // buckets on the raw (band, mh, mh) triple with the same 2..100 size
    // cap, distinct candidate pairs, exact-Jaccard verification.
    "d4_minhash_pairs" -> {
      val mins = (0 until NumHashes)
        .map(i => s"    min((h1 + ${i + 1} * h2) % $HashP) AS mh$i")
        .mkString(",\n")
      val bandSelects = (0 until NumHashes / 2)
        .map(b => s"  SELECT doc_id, $b AS band, mh${2 * b} AS ba, mh${2 * b + 1} AS bb FROM sig")
        .mkString("\n  UNION ALL\n")
      s"""WITH shing AS (
         |  SELECT doc_id, list_distinct(list_transform(range(len(tk)-2),
         |    i -> tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3])) AS sh
         |  FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents)),
         |sig AS (
         |  SELECT doc_id,
         |$mins
         |  FROM (
         |    SELECT doc_id,
         |      CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) % $HashP AS h1,
         |      CAST(concat('0x', substr(md5(tok), 16, 15)) AS BIGINT) % $HashP AS h2
         |    FROM (SELECT doc_id, unnest(sh) AS tok FROM shing))
         |  GROUP BY doc_id),
         |bands AS (
         |$bandSelects),
         |buck AS (SELECT band, ba, bb FROM bands
         |         GROUP BY 1, 2, 3 HAVING count(*) BETWEEN 2 AND 100),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM bands a
         |  JOIN bands b ON a.band = b.band AND a.ba = b.ba AND a.bb = b.bb
         |              AND a.doc_id < b.doc_id
         |  JOIN buck ON a.band = buck.band AND a.ba = buck.ba AND a.bb = buck.bb)
         |SELECT a_id, b_id,
         |  len(list_intersect(sa.sh, sb.sh)) /
         |    (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) AS jaccard
         |FROM cand JOIN shing sa ON cand.a_id = sa.doc_id
         |          JOIN shing sb ON cand.b_id = sb.doc_id
         |WHERE len(list_intersect(sa.sh, sb.sh)) /
         |    (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) >= 0.5
         |ORDER BY a_id, b_id""".stripMargin
    },

    // Full replay of the SimHash pipeline with the md5-pack token hash:
    // per-bit integer votes (order-independent sums), signature assembly,
    // 16-bit chunk buckets with the 2..1000 cap, Hamming verification.
    // Bits 62-63 of the 62-bit pack are always 0 -> omitted from votes.
    "d5_simhash_pairs" -> {
      val votes = (0 until 62)
        .map(j => s"    sum(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS b$j")
        .mkString(",\n")
      val sigBits = (0 until 62)
        .map(j => s"CASE WHEN b$j > 0 THEN (CAST(1 AS BIGINT) << $j) ELSE CAST(0 AS BIGINT) END")
        .mkString("\n    + ")
      val chunkSelects = (0 until 4)
        .map(c => s"  SELECT doc_id, sig, $c AS chunk, (sig >> ${c * 16}) & 65535 AS cv FROM sig")
        .mkString("\n  UNION ALL\n")
      s"""WITH shing AS (
         |  SELECT doc_id, list_distinct(list_transform(range(len(tk)-2),
         |    i -> tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3])) AS sh
         |  FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents)),
         |hashes AS (
         |  SELECT doc_id,
         |    (CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) % $HashP) * 2147483648
         |      + (CAST(concat('0x', substr(md5(tok), 16, 15)) AS BIGINT) % $HashP) AS h
         |  FROM (SELECT doc_id, unnest(sh) AS tok FROM shing)),
         |votes AS (
         |  SELECT doc_id,
         |$votes
         |  FROM hashes GROUP BY doc_id),
         |sig AS (
         |  SELECT doc_id, $sigBits AS sig FROM votes),
         |chunks AS (
         |$chunkSelects),
         |buck AS (SELECT chunk, cv FROM chunks GROUP BY 1, 2
         |         HAVING count(*) BETWEEN 2 AND 1000),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
         |    a.sig AS a_sig, b.sig AS b_sig
         |  FROM chunks a
         |  JOIN chunks b ON a.chunk = b.chunk AND a.cv = b.cv
         |               AND a.doc_id < b.doc_id
         |  JOIN buck ON a.chunk = buck.chunk AND a.cv = buck.cv)
         |SELECT a_id, b_id,
         |  CAST(bit_count(xor(a_sig, b_sig)) AS INTEGER) AS hamming
         |FROM cand
         |WHERE bit_count(xor(a_sig, b_sig)) <= 8
         |ORDER BY a_id, b_id""".stripMargin
    },

    "d6_embedding_neardup" ->
      s"""WITH e AS (SELECT vec_id, label,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
         |  FROM embeddings WHERE vec_id < 300)
         |SELECT a_id, b_id, cos FROM (
         |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         |    round(list_dot_product(a.emb, b.emb) /
         |      (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb))), 6) AS cos
         |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id)
         |WHERE cos >= 0.2 ORDER BY a_id, b_id""".stripMargin,

    // Full replay of the LSH ANN pipeline: md5-derived plane table,
    // index-order projections via list_dot_product, sign-bit bucket
    // packing (integer sum, order-free), multi-probe XOR neighbor codes,
    // candidate equi-join, cosine ranking.
    "s2_ann_lsh" -> {
      val w = s"(((${Tables.duckMd5Pack("'plane_' || pp.p || '_' || dd.i")}) % 2001) - 1000) / 1000.0"
      s"""WITH dims AS (
         |  SELECT unnest(range(len(embedding))) AS i
         |  FROM (SELECT embedding FROM embeddings
         |        WHERE embedding IS NOT NULL LIMIT 1)),
         |pl AS (
         |  SELECT p, list(w ORDER BY i) AS wl FROM (
         |    SELECT pp.p, dd.i, $w AS w
         |    FROM (SELECT unnest(range(6)) AS p) pp CROSS JOIN dims dd)
         |  GROUP BY p),
         |vecs AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
         |  FROM embeddings WHERE embedding IS NOT NULL),
         |bucket AS (
         |  SELECT v.vec_id,
         |    CAST(sum(CASE WHEN list_dot_product(v.emb, pl.wl) > 0
         |      THEN (CAST(1 AS BIGINT) << pl.p) ELSE 0 END) AS BIGINT) AS bucket
         |  FROM vecs v CROSS JOIN pl GROUP BY v.vec_id),
         |cand AS (
         |  SELECT v.vec_id AS cand_id, v.emb AS c_emb, b.bucket
         |  FROM vecs v JOIN bucket b ON v.vec_id = b.vec_id),
         |probes AS (
         |  SELECT v.vec_id AS probe_id, v.emb AS p_emb, code.sb AS search_bucket
         |  FROM vecs v JOIN bucket b ON v.vec_id = b.vec_id
         |  CROSS JOIN LATERAL (SELECT unnest([b.bucket,
         |    xor(b.bucket, 1), xor(b.bucket, 2), xor(b.bucket, 4),
         |    xor(b.bucket, 8), xor(b.bucket, 16), xor(b.bucket, 32)]) AS sb) code
         |  WHERE v.vec_id < 10),
         |scored AS (
         |  SELECT p.probe_id, c.cand_id,
         |    round(list_dot_product(p.p_emb, c.c_emb) /
         |      (sqrt(list_dot_product(p.p_emb, p.p_emb)) *
         |       sqrt(list_dot_product(c.c_emb, c.c_emb))), 6) AS cos
         |  FROM probes p JOIN cand c
         |    ON p.search_bucket = c.bucket AND p.probe_id <> c.cand_id)
         |SELECT probe_id, cand_id, cos, rank FROM (
         |  SELECT probe_id, cand_id, cos,
         |    CAST(row_number() OVER (PARTITION BY probe_id
         |      ORDER BY cos DESC, cand_id) AS INTEGER) AS rank
         |  FROM scored)
         |WHERE rank <= 5 ORDER BY probe_id, rank""".stripMargin
    },

    // Full replay of the IVF pipeline: 16 md5-sampled centroids, one
    // Lloyd refinement (decimal-summed component means — exact and
    // order-independent, so they replay), cosine assignment (nearest 1
    // builds inverted lists, nearest 2 routes probes), list join,
    // distinct pairs, cosine ranking.
    "s3_ann_ivf" -> {
      val cosOf = (a: String, b: String) =>
        s"""list_dot_product($a, $b) /
           |      (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)))""".stripMargin
      s"""WITH vecs AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
         |  FROM embeddings WHERE embedding IS NOT NULL),
         |cent AS (
         |  SELECT vec_id AS centroid_id, emb AS c_emb
         |  FROM vecs
         |  ORDER BY ${Tables.duckMd5Pack("CAST(vec_id AS VARCHAR)")} LIMIT 16),
         |assigned0 AS (
         |  SELECT v.vec_id, c.centroid_id,
         |    row_number() OVER (PARTITION BY v.vec_id
         |      ORDER BY ${cosOf("v.emb", "c.c_emb")} DESC, c.centroid_id) AS rn
         |  FROM vecs v CROSS JOIN cent c),
         |memc AS (
         |  SELECT a.centroid_id,
         |    unnest(range(1, len(v.emb) + 1)) AS pos,
         |    unnest(v.emb) AS comp
         |  FROM assigned0 a JOIN vecs v ON a.vec_id = v.vec_id
         |  WHERE a.rn = 1),
         |refined AS (
         |  SELECT centroid_id, pos,
         |    round(CAST(sum(CAST(comp AS DECIMAL(25,10))) AS DOUBLE)
         |      / count(*), 6) AS m
         |  FROM memc GROUP BY centroid_id, pos),
         |rcent AS (
         |  SELECT centroid_id, list(m ORDER BY pos) AS c_emb
         |  FROM refined GROUP BY centroid_id),
         |assigned AS (
         |  SELECT v.vec_id, c.centroid_id,
         |    row_number() OVER (PARTITION BY v.vec_id
         |      ORDER BY ${cosOf("v.emb", "c.c_emb")} DESC, c.centroid_id) AS rn
         |  FROM vecs v CROSS JOIN rcent c),
         |lists AS (
         |  SELECT a.vec_id AS cand_id, a.centroid_id, v.emb AS c_vec
         |  FROM assigned a JOIN vecs v ON a.vec_id = v.vec_id
         |  WHERE a.rn = 1),
         |routed AS (
         |  SELECT a.vec_id AS probe_id, a.centroid_id, v.emb AS p_vec
         |  FROM assigned a JOIN vecs v ON a.vec_id = v.vec_id
         |  WHERE a.rn <= 2 AND a.vec_id < 10),
         |scored AS (
         |  SELECT DISTINCT r.probe_id, l.cand_id,
         |    round(${cosOf("r.p_vec", "l.c_vec")}, 6) AS cos
         |  FROM routed r JOIN lists l ON r.centroid_id = l.centroid_id
         |  WHERE r.probe_id <> l.cand_id)
         |SELECT probe_id, cand_id, cos, rank FROM (
         |  SELECT probe_id, cand_id, cos,
         |    CAST(row_number() OVER (PARTITION BY probe_id
         |      ORDER BY cos DESC, cand_id) AS INTEGER) AS rank
         |  FROM scored)
         |WHERE rank <= 5 ORDER BY probe_id, rank""".stripMargin
    },

    "s1_cosine_topk" ->
      """WITH e AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
        |  FROM embeddings),
        |scored AS (
        |  SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
        |    round(list_dot_product(p.emb, c.emb) /
        |      (sqrt(list_dot_product(p.emb, p.emb)) * sqrt(list_dot_product(c.emb, c.emb))), 6) AS cos
        |  FROM e p JOIN e c ON p.vec_id < 10 AND p.vec_id <> c.vec_id)
        |SELECT probe_id, cand_id, cos, rank FROM (
        |  SELECT probe_id, cand_id, cos,
        |    CAST(row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, cand_id) AS INTEGER) AS rank
        |  FROM scored)
        |WHERE rank <= 5 ORDER BY probe_id, rank""".stripMargin,

    "t1_lang_profile" ->
      """SELECT doc_id, lang, n_tokens, n_stop, n_en_bigrams,
        |  n_stop / n_tokens AS stop_ratio,
        |  n_en_bigrams / n_tokens AS bigram_rate,
        |  (n_stop / n_tokens >= 0.15 OR n_en_bigrams / n_tokens >= 1.0) AS pred_en
        |FROM (
        |  SELECT doc_id, lang,
        |    CAST(len(tk) AS INTEGER) AS n_tokens,
        |    CAST(len(list_filter(tk, x -> list_contains(['the','a','of','and','to','in'], x))) AS INTEGER) AS n_stop,
        |    CAST((length(text) - length(replace(text, 'th', ''))) / 2
        |       + (length(text) - length(replace(text, 'he', ''))) / 2
        |       + (length(text) - length(replace(text, 'in', ''))) / 2
        |       + (length(text) - length(replace(text, 'er', ''))) / 2
        |       + (length(text) - length(replace(text, 'an', ''))) / 2 AS BIGINT) AS n_en_bigrams
        |  FROM (SELECT doc_id, lang, text, string_split(text, ' ') AS tk FROM documents))
        |ORDER BY doc_id""".stripMargin,

    "t2_quality_score" ->
      """SELECT doc_id, n_chars, n_tokens, n_distinct,
        |  n_distinct / n_tokens AS ttr,
        |  (n_chars - (n_tokens - 1)) / n_tokens AS avg_token_len,
        |  round((n_distinct / n_tokens) * 0.6 +
        |    least(n_tokens / 100.0, 1.0) * 0.4, 6) AS quality
        |FROM (
        |  SELECT doc_id,
        |    CAST(length(text) AS INTEGER) AS n_chars,
        |    CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
        |    CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER) AS n_distinct
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin,

    "t3_token_topk" ->
      """SELECT token, CAST(count(*) AS BIGINT) AS n
        |FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |GROUP BY token ORDER BY n DESC, token LIMIT 20""".stripMargin,

    "t5_regex_tokens" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS INTEGER) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS INTEGER) AS bpe_tokens,
        |  CAST(len(list_distinct(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))) AS INTEGER) AS bpe_distinct
        |FROM documents ORDER BY doc_id""".stripMargin,

    // ASCII corpus: byte fold == codepoint fold, so list_reduce over
    // ascii() reproduces the KarpRabin UTF-8 byte fold exactly.
    "t6_kr_fingerprint" ->
      """SELECT doc_id,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
        |    (a, b) -> (a * 256 + b) % 2147483647) AS kr
        |FROM documents ORDER BY doc_id""".stripMargin,

    "t7_tfidf" ->
      """WITH tf AS (
        |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |        FROM documents)
        |  GROUP BY doc_id, term),
        |dfreq AS (
        |  SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
        |  FROM tf GROUP BY term),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents)
        |SELECT doc_id, CAST(rnk AS INTEGER) AS rnk, term, tfidf FROM (
        |  SELECT tf.doc_id, tf.term,
        |    round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / dfreq.df), 6) AS tfidf,
        |    row_number() OVER (PARTITION BY tf.doc_id
        |      ORDER BY round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / dfreq.df), 6) DESC,
        |               tf.term) AS rnk
        |  FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN n)
        |WHERE rnk <= 5 ORDER BY doc_id, rnk""".stripMargin,

    "t8_repetition" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS tk
        |           FROM documents WHERE text IS NOT NULL),
        |tc AS (
        |  SELECT doc_id, term, count(*) AS c
        |  FROM (SELECT doc_id, unnest(tk) AS term FROM d)
        |  GROUP BY doc_id, term),
        |tstats AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |    CAST(count(*) AS BIGINT) AS n_types,
        |    CAST(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT) AS rep_tokens
        |  FROM tc GROUP BY doc_id),
        |bc AS (
        |  SELECT doc_id, b, count(*) AS c
        |  FROM (SELECT doc_id, unnest(list_transform(range(len(tk) - 1),
        |          i -> tk[i + 1] || ' ' || tk[i + 2])) AS b
        |        FROM d WHERE len(tk) >= 2)
        |  GROUP BY doc_id, b),
        |bstats AS (
        |  SELECT doc_id, CAST(max(c) AS BIGINT) AS top_bigram,
        |    CAST(sum(c) AS BIGINT) AS n_bigrams
        |  FROM bc GROUP BY doc_id)
        |SELECT t.doc_id, n_tokens, n_types,
        |  round(CAST(rep_tokens AS DOUBLE) / n_tokens, 6) AS rep_token_frac,
        |  round(CAST(top_bigram AS DOUBLE) / n_bigrams, 6) AS top_bigram_frac
        |FROM tstats t LEFT JOIN bstats b USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "t9_unigram_logprob" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |  FROM documents WHERE text IS NOT NULL),
        |vocab AS (SELECT term, CAST(count(*) AS BIGINT) AS cnt
        |          FROM tok GROUP BY term),
        |n AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total FROM vocab)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  round(CAST(sum(CAST(round(-ln(CAST(cnt AS DOUBLE) / n_total), 8)
        |    AS DECIMAL(20,8))) AS DOUBLE) / count(*), 6) AS avg_nll
        |FROM tok JOIN vocab USING (term) CROSS JOIN n
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "t4_fingerprint" ->
      s"""SELECT doc_id,
         |  md5(array_to_string(list_sort(${duckToks("lower(text)")}), ' ')) AS fingerprint
         |FROM documents ORDER BY doc_id""".stripMargin,

    "m1_binary_meta" ->
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
        |  md5(text) AS content_hash
        |FROM documents ORDER BY doc_id""".stripMargin,

    "m3_frame_sample" ->
      """WITH m AS (
        |  SELECT doc_id AS media_id, octet_length(encode(text)) AS n_bytes,
        |    hex(encode(text)) AS hx
        |  FROM documents WHERE text IS NOT NULL),
        |f AS (
        |  SELECT media_id, n_bytes, hx,
        |    CAST(floor(n_bytes / 4) AS INTEGER) AS flen,
        |    unnest(range(4)) AS fi
        |  FROM m)
        |SELECT media_id, CAST(fi AS INTEGER) AS frame_idx,
        |  CAST(CASE WHEN fi = 3 THEN n_bytes - flen * 3 ELSE flen END AS INTEGER)
        |    AS frame_len,
        |  md5(substr(hx, CAST(fi * flen * 2 + 1 AS BIGINT),
        |    CAST(2 * (CASE WHEN fi = 3 THEN n_bytes - flen * 3 ELSE flen END) AS BIGINT)))
        |    AS frame_hex_md5
        |FROM f ORDER BY media_id, frame_idx""".stripMargin,

    "m4_resized_meta" ->
      """SELECT doc_id AS media_id,
        |  CAST(greatest(1, (octet_length(encode(text)) % 640 + 1) // 2) AS INTEGER) AS width,
        |  CAST(greatest(1, (octet_length(encode(text)) % 480 + 1) // 2) AS INTEGER) AS height,
        |  CAST(3 AS INTEGER) AS channels
        |FROM documents WHERE text IS NOT NULL ORDER BY media_id""".stripMargin,

    // The stub codec's metadata is a pure function of payload length, so
    // even the mapPartitions decode path gets an oracle.
    "m2_decoded_features" ->
      """SELECT doc_id AS media_id, 'image/fake-' || source AS media_type,
        |  CAST(octet_length(encode(text)) % 640 + 1 AS INTEGER) AS width,
        |  CAST(octet_length(encode(text)) % 480 + 1 AS INTEGER) AS height,
        |  CAST(3 AS INTEGER) AS channels
        |FROM documents WHERE text IS NOT NULL ORDER BY media_id""".stripMargin,
  )

  /** d8's oracle splices the d4 pair replay into a recursive-CTE
    * transitive closure: component keeper = min doc_id reachable — the
    * declarative counterpart of the engine's min-label propagation
    * fixpoint.
    */
  private def clusterOracle: Map[String, String] =
    Map("d8_dedup_clusters" ->
      s"""WITH RECURSIVE pairs AS (
         |  SELECT a_id, b_id FROM (${oracleSqlBase("d4_minhash_pairs")}) t),
         |edges AS (
         |  SELECT a_id AS src, b_id AS dst FROM pairs
         |  UNION SELECT b_id, a_id FROM pairs),
         |nodes AS (SELECT DISTINCT src AS node FROM edges),
         |reach AS (
         |  SELECT node AS src, node AS dst FROM nodes
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
         |SELECT src AS doc_id, min(dst) AS cluster_keeper
         |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin)

  /** s4's oracle composes the s1/s2/s3 replays: recall = |approx ∩ exact|
    * / |exact| per method, all three pipelines nested as subqueries.
    * Built after the base map so it can splice those SQL bodies verbatim.
    */
  private def recallOracle: Map[String, String] = {
    def pairs(name: String) = oracleSqlBase(name)
    Map("s4_ann_recall" ->
      s"""WITH exact AS (SELECT probe_id, cand_id FROM (${pairs("s1_cosine_topk")}) t),
         |lsh AS (SELECT probe_id, cand_id FROM (${pairs("s2_ann_lsh")}) t),
         |ivf AS (SELECT probe_id, cand_id FROM (${pairs("s3_ann_ivf")}) t),
         |pq AS (SELECT probe_id, cand_id
         |       FROM (${TextOps5.oracleSql("s5_ann_pq")}) t),
         |ex_n AS (SELECT CAST(count(*) AS BIGINT) AS exact_pairs FROM exact)
         |SELECT method, hits, exact_pairs, hits / exact_pairs AS recall FROM (
         |  SELECT 'ivf' AS method, CAST(count(*) AS BIGINT) AS hits
         |  FROM ivf JOIN exact ON ivf.probe_id = exact.probe_id
         |                     AND ivf.cand_id = exact.cand_id
         |  UNION ALL
         |  SELECT 'lsh', CAST(count(*) AS BIGINT)
         |  FROM lsh JOIN exact ON lsh.probe_id = exact.probe_id
         |                     AND lsh.cand_id = exact.cand_id
         |  UNION ALL
         |  SELECT 'pq', CAST(count(*) AS BIGINT)
         |  FROM pq JOIN exact ON pq.probe_id = exact.probe_id
         |                    AND pq.cand_id = exact.cand_id)
         |CROSS JOIN ex_n ORDER BY method""".stripMargin)
  }
}
