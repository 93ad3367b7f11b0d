package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Deduplication operators over `documents`: exact (hash groupBy), n-gram
  * Jaccard (inverted-index join), MinHash+LSH banding, SimHash with hamming
  * banding. Hot paths are explode + codegen'd hash aggregates (map-side
  * partials); no UDFs, no per-row lambda loops over shingle arrays.
  *
  * Scale notes: exact and minhash/simhash are shuffle-by-hash-key (linear);
  * n-gram Jaccard joins on (block, shingle-hash) so only pairs sharing a
  * shingle materialize; LSH bounds candidate generation to band buckets.
  */
object Dedup {

  /** Word tokens, lowercased alnum runs. */
  private def toks(c: Column): Column =
    regexp_extract_all(lower(c), lit("[a-z0-9]+"), lit(0))

  /** Hashed word 3-gram shingles via graft's native `word_shingle_hash`
    * expression (functions/WordShingleHash.scala): lowercase, tokenize,
    * one xxhash64 per token and the n-gram combine all in ONE fused loop.
    * The earlier `transform` + `zip_with`-over-slices column pipeline was
    * CollapseProject-safe (see SURVEY §5 for the O(n²) trap it dodged)
    * but still interpreted per token/shingle — the hot inner loop of all
    * four shingle-based operators. */
  private def hashedShingles(c: Column): Column = hashedNgrams(c, 3)

  /** Hashed word n-gram shingles for arbitrary n. */
  private[operators] def hashedNgrams(c: Column, n: Int): Column =
    call_function("word_shingle_hash", c, lit(n))

  /** Benchmark decontamination: flag corpus docs sharing any word 5-gram
    * with the benchmark set (docs with doc_id ≡ 0 mod 97 stand in for the
    * eval set — swapping in a real benchmark table changes one filter).
    * The pipeline stage every serious pretraining corpus runs so eval
    * questions don't leak into training data. Same inverted-index shape as
    * dedup_ngram: only (shingle-matching) pairs materialize, the benchmark
    * side is a small fraction so per-shingle fan-out is bounded by its df. */
  def corpusDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val sh = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(array_distinct(hashedNgrams(col("text"), 5))).as("s"))
    val bench = sh.filter(pmod(col("doc_id"), lit(97)) === 0)
      .select(col("s"), col("doc_id").as("bench_doc"))
    val corp = sh.filter(pmod(col("doc_id"), lit(97)) =!= 0)
    corp.join(bench, "s")
      .groupBy(col("doc_id"))
      .agg(count_distinct(col("s")).as("n_hits"),
        count_distinct(col("bench_doc")).as("n_bench_docs"))
      .orderBy(col("doc_id"))
  }

  /** The benchmark-vs-corpus 5-gram shingle CTEs (tk → sh → bench/corp) as
    * a composable fragment — [[corpusDecontaminateSql]] and the
    * corpus_curate oracle embed THIS, so a shingle-rule edit propagates
    * to every consumer (the factored-constant discipline). */
  private[operators] val decontaminateShinglesSqlCte: String =
    """tk AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws FROM documents
      |), sh AS (
      |  SELECT doc_id, list_distinct(CASE WHEN len(ws) >= 5
      |    THEN list_transform(range(1, len(ws) - 3), i -> array_to_string(ws[i:i+4], ' '))
      |    ELSE [] END) AS shs
      |  FROM tk
      |), bench AS (
      |  SELECT doc_id AS bench_doc, unnest(shs) AS s FROM sh WHERE doc_id % 97 = 0
      |), corp AS (
      |  SELECT doc_id, unnest(shs) AS s FROM sh WHERE doc_id % 97 <> 0
      |)""".stripMargin

  val corpusDecontaminateSql: String =
    s"""WITH $decontaminateShinglesSqlCte
      |SELECT c.doc_id, count(DISTINCT c.s) AS n_hits,
      |  count(DISTINCT b.bench_doc) AS n_bench_docs
      |FROM corp c JOIN bench b ON c.s = b.s
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Bloom-filter decontamination — the 100 TB form of
    * [[corpusDecontaminate]]: the benchmark's word 5-gram shingles fold
    * into an m-bit Bloom filter (k=5 xxhash64 probes per shingle, bit
    * words OR-combined by a distributed bit_or aggregate), and the corpus
    * side probes that ~KB artifact as a BROADCAST LITERAL — a pure
    * projection, no join, no shuffle of benchmark shingles at all. At
    * scale this replaces the GB-sized benchmark shingle side of the exact
    * inverted-index join with k array lookups per corpus shingle; the
    * price is false positives, bounded by the classic (1−e^(−kn/m))^k and
    * spec-pinned (BloomDecontaminateSpec): flagged ⊇ exact-contaminated
    * ALWAYS (no false negatives — Bloom guarantee), observed doc-level
    * FPR under 5%. m adapts to the benchmark (≥16 bits/shingle, pow-2).
    *
    * Rows-only gate: xxhash64 is not replayable in DuckDB; the exact
    * sibling [[corpusDecontaminate]] (same shingle pipeline, same
    * benchmark split) is the oracle-gated twin, and the superset spec
    * ties this operator to it on every gate corpus. */
  /** The frozen Bloom artifact (m/64 OR-folded bit words + geometry) —
    * plain data, built once from the benchmark and broadcast as a
    * literal into the [[bloomHit]] probe. */
  final case class BenchBloom(bits: Seq[Long], m: Long, k: Int)

  /** Fold a shingle column's values into the Bloom artifact: k bit
    * positions per shingle, OR-folded into m/64 words by a distributed
    * bit_or aggregate; the collect is the finished KB-sized artifact
    * (the centroid-training driver-traffic discipline). */
  private[graft] def buildBenchBloom(shingles: DataFrame, nBench: Long,
                                     k: Int = 5): BenchBloom = {
    val m = math.max(1 << 14, java.lang.Long.highestOneBit(16 * math.max(nBench, 1L)) << 1)
    val posCols = (0 until k).map(i => pmod(xxhash64(col("s"), lit(i)), lit(m)))
    val words = shingles.select(explode(array(posCols: _*)).as("pos"))
      .select(floor(col("pos") / 64).cast("int").as("w"),
        call_function("shiftleft", lit(1L), pmod(col("pos"), lit(64)).cast("int")).as("mask"))
      .groupBy(col("w")).agg(bit_or(col("mask")).as("bits"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    BenchBloom(Array.tabulate((m / 64).toInt)(i => words.getOrElse(i, 0L)).toSeq, m, k)
  }

  /** All-k-bits-set membership probe of `s` against the broadcast-literal
    * artifact — a pure projection, no join, no shuffle. */
  private def bloomHit(b: BenchBloom, s: Column): Column = {
    val bloomLit = typedLit(b.bits)
    (0 until b.k).map { i =>
      val pos = pmod(xxhash64(s, lit(i)), lit(b.m))
      (element_at(bloomLit, floor(pos / 64).cast("int") + 1)
        .bitwiseAND(call_function("shiftleft", lit(1L), pmod(pos, lit(64)).cast("int")))) =!= 0L
    }.reduce(_ && _)
  }

  /** The frozen benchmark Bloom for a corpus dir's mod-97 benchmark
    * split. */
  def benchBloomFor(spark: SparkSession, dir: String): BenchBloom = {
    val bench = Tables.documents(spark, dir)
      .filter(pmod(col("doc_id"), lit(97)) === 0)
      .select(col("doc_id"), explode(array_distinct(hashedNgrams(col("text"), 5))).as("s"))
    buildBenchBloom(bench, bench.count())
  }

  def corpusBloomDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val sh = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(array_distinct(hashedNgrams(col("text"), 5))).as("s"))
    val bloom = benchBloomFor(spark, dir)
    // probe: a pure projection over the corpus scan — membership never
    // joins, the only exchange is the doc_id agg
    sh.filter(pmod(col("doc_id"), lit(97)) =!= 0)
      .filter(bloomHit(bloom, col("s")))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_flagged_shingles"))
      .orderBy(col("doc_id"))
  }

  /** Hash-gated cross-proof of [[corpusBloomDecontaminate]] against its
    * exact sibling (r13 verdict item 5 — the one untwinned rows-only gate
    * that is neither a sketch estimate nor a recall floor): one summary
    * row whose invariant columns are COMPUTED from the real bloom-vs-exact
    * comparison on this side and pinned as LITERALS in the DuckDB oracle —
    * the floor-gate discipline (TemperedMixSpec class). If the Bloom form
    * ever misses an exactly-contaminated doc (n_missed), under-counts a
    * doc's flagged shingles (n_undercount — impossible by the Bloom
    * no-false-negative guarantee, so any non-zero is a probe bug), or
    * over-flags past the 5% doc-level FPR budget (fp_within_bound), the
    * driver's hash compare fails. n_exact_docs rides along as the one
    * genuinely-recomputed value so the gate can't pass vacuously. */
  def corpusBloomDecontaminateAudit(spark: SparkSession, dir: String): DataFrame = {
    val exact = corpusDecontaminate(spark, dir)
      .select(col("doc_id"), col("n_hits"))
    val bloom = corpusBloomDecontaminate(spark, dir)
    val nCorpus = Tables.documents(spark, dir)
      .filter(pmod(col("doc_id"), lit(97)) =!= 0).count()
    bloomAuditOf(exact, bloom, nCorpus)
  }

  /** The audit aggregate, factored so the spec can feed a DOCTORED bloom
    * side and prove the gate actually detects a miss/undercount (the
    * assert-the-failing-direction-too discipline). */
  private[graft] def bloomAuditOf(exact: DataFrame, bloom: DataFrame,
                                  nCorpus: Long): DataFrame =
    exact.join(bloom, Seq("doc_id"), "full_outer")
      .agg(
        count(col("n_hits")).as("n_exact_docs"),
        count(when(col("n_hits").isNotNull &&
          col("n_flagged_shingles").isNull, 1)).as("n_missed"),
        count(when(col("n_hits").isNotNull &&
          col("n_flagged_shingles") < col("n_hits"), 1)).as("n_undercount"),
        (count(when(col("n_hits").isNull &&
          col("n_flagged_shingles").isNotNull, 1))
          <= lit(0.05) * lit(nCorpus)).as("fp_within_bound"))

  /** DuckDB side of the audit: the exact-contamination count is recomputed
    * from the same shingle CTEs; the Bloom invariants are pinned literals
    * (0 misses, 0 undercounts, FPR within budget) — a violated invariant
    * on the Spark side hash-mismatches. */
  val corpusBloomDecontaminateAuditSql: String =
    s"""WITH $decontaminateShinglesSqlCte,
      |exact AS (
      |  SELECT c.doc_id FROM corp c JOIN bench b ON c.s = b.s GROUP BY 1
      |)
      |SELECT CAST(count(*) AS BIGINT) AS n_exact_docs,
      |  CAST(0 AS BIGINT) AS n_missed,
      |  CAST(0 AS BIGINT) AS n_undercount,
      |  TRUE AS fp_within_bound
      |FROM exact""".stripMargin

  /** The stand-in benchmark "extract": the first ⌈90%⌉ of a doc's word
    * tokens re-joined — models an eval item excerpted from a web page
    * whose full text remains in the training corpus (the contamination
    * an exact n-gram test catches only if the excerpt is verbatim AND
    * aligned; the fuzzy test below catches it whenever the set overlap
    * stays high). Integer ceil((9n+9)/10) is identical in both engines. */
  private[operators] def benchExtract(c: Column): Column = {
    val ws = toks(c)
    array_join(
      slice(ws, lit(1), floor((size(ws) * 9 + 9) / lit(10.0)).cast("int")), " ")
  }

  /** Fuzzy (MinHash-band) benchmark decontamination — the similarity rung
    * above [[corpusDecontaminate]]'s exact 5-gram test: corpus docs whose
    * MinHash band signature collides with any benchmark extract's are
    * flagged, catching paraphrased / partially-copied contamination whose
    * individual 5-grams all differ. Benchmark side = the doc_id ≡ 0
    * (mod 97) docs truncated by [[benchExtract]] (their sources stay in
    * the corpus — swapping in a real benchmark table changes one select).
    *
    * Plan shape: the corpus runs the SAME 16-band signature pipeline as
    * `dedup_minhash` (one doc_id exchange for the 64 min-aggregates); the
    * benchmark side is benchmark-sized and joins as a BROADCAST on
    * (band_id, band_hash), and the final per-doc rollup reuses the
    * signature aggregate's doc_id partitioning — so the whole operator
    * costs ONE data exchange regardless of corpus size, and the
    * benchmark never shuffles anything corpus-sized. Rows-only gate
    * (xxhash64); the neutral-family twin `corpus_fuzzy_decontaminate
    * _oracle` hash-proves the identical pipeline in DuckDB. */
  def corpusFuzzyDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val bench = bandSignatures(
        docs.filter(pmod(col("doc_id"), lit(97)) === 0)
          .select(col("doc_id"), benchExtract(col("text")).as("text")))
      .select(col("band_id"), col("band_hash"), col("doc_id").as("bench_doc"))
    bandSignatures(docs)
      .join(broadcast(bench), Seq("band_id", "band_hash"))
      .groupBy(col("doc_id"))
      .agg(count_distinct(col("band_id")).as("n_bands_hit"),
        count_distinct(col("bench_doc")).as("n_bench_docs"))
      .orderBy(col("doc_id"))
  }

  /** Exact dedup: md5 groupBy, keep the smallest doc_id of each clone set. */
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(md5(col("text").cast("binary")).as("text_hash"))
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keep_id"))
      .orderBy(col("keep_id"))

  val dedupExactSql: String =
    """SELECT md5(text) AS text_hash, count(*) AS n_copies, min(doc_id) AS keep_id
      |FROM documents GROUP BY 1 ORDER BY keep_id""".stripMargin

  /** Block-local document-frequency cap on shingles: a shingle occurring in
    * k docs of one block emits k² rows out of the inverted-index self-join,
    * so boilerplate text (headers, licenses) makes the join quadratic at
    * corpus scale. Standard practice is to drop shingles with df above a
    * threshold before the join — they carry no near-dup signal (everything
    * shares them) and removing them bounds per-shingle fan-out at maxDf². */
  val DefaultMaxShingleDf = 1000

  /** N-gram (word 3-gram) Jaccard near-dup pairs, blocked by (lang, source).
    * Jaccard over distinct shingle sets; pairs above 0.2 are emitted. */
  def dedupNgram(spark: SparkSession, dir: String): DataFrame =
    dedupNgramCapped(spark, dir, DefaultMaxShingleDf)

  def dedupNgramCapped(spark: SparkSession, dir: String, maxDf: Int): DataFrame =
    dedupNgramCappedOf(Tables.documents(spark, dir), maxDf)

  private[graft] def dedupNgramCappedOf(docs: DataFrame, maxDf: Int): DataFrame = {
    // inverted-index formulation: explode hashed shingles, equi-join on
    // (block, shingle-hash), count matches per pair = |A∩B|, then
    // |A∪B| = |A|+|B|−|A∩B|. Only pairs that share ≥1 shingle ever
    // materialize (they're the only ones that can clear the threshold) and
    // nothing carries whole shingle arrays through the join — this is the
    // shape that survives 100 TB, unlike a pairwise array-intersect join.
    val d = docs
      .select(col("doc_id"), col("lang"), col("source"),
        array_distinct(hashedShingles(col("text"))).as("sh"))
    // each exploded row carries its doc's set size, so |A∪B| needs no
    // separate sizes join (which would re-evaluate the tokenize+shingle
    // pipeline once per broadcast — the self-join's shuffle is reused by
    // Spark, but differently-keyed side joins are not)
    val exAll = d.select(col("lang"), col("source"), col("doc_id"),
      size(col("sh")).as("n"), explode(col("sh")).as("h"))
    // hot-shingle cap as a WINDOW over the same (block, shingle) keys the
    // self-join shuffles on — not a separate groupBy+anti-join, which would
    // re-run the tokenize+shingle pipeline in a second scan (measured 1.5×
    // slower). This way the cap rides the join's own shuffle, the filtered
    // subtree is identical on both join sides, and Spark reuses the exchange:
    // one tokenization, one shuffle, total.
    val wDf = Window.partitionBy(col("lang"), col("source"), col("h"))
    val ex = exAll
      .withColumn("df", count(lit(1)).over(wDf))
      .filter(col("df") <= maxDf)
      .drop("df")
    ex.as("a")
      .join(ex.as("b"),
        col("a.lang") === col("b.lang") && col("a.source") === col("b.source") &&
          col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        col("a.n").as("n_a"), col("b.n").as("n_b"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard",
        round(col("inter").cast("double") /
          greatest(col("n_a") + col("n_b") - col("inter"), lit(1)).cast("double"), 4))
      .filter(col("jaccard") > 0.2)
      .select(col("id_a"), col("id_b"), col("jaccard"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Cross-SOURCE near-dup pairs — syndication/mirror detection: the same
    * Jaccard test as [[dedupNgram]] but blocked by language ONLY and
    * restricted to pairs from DIFFERENT sources. dedup_ngram can never
    * surface these (its (lang, source) blocking is exactly what keeps its
    * join fan-out down, and exactly what hides a wire story republished
    * across ten domains — the highest-volume duplication class in web
    * corpora). The wider lang-only block pays a broader join, so the
    * df cap rides the (lang, shingle) keys the join shuffles on — same
    * exchange-reuse discipline, one tokenization; a shingle hot across
    * many sources (boilerplate) is precisely what the cap drops. */
  def dedupCrossSource(spark: SparkSession, dir: String): DataFrame =
    dedupCrossSourceCapped(spark, dir, DefaultMaxShingleDf)

  def dedupCrossSourceCapped(spark: SparkSession, dir: String, maxDf: Int): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"),
        array_distinct(hashedShingles(col("text"))).as("sh"))
    val exAll = d.select(col("lang"), col("source"), col("doc_id"),
      size(col("sh")).as("n"), explode(col("sh")).as("h"))
    val wDf = Window.partitionBy(col("lang"), col("h"))
    val ex = exAll
      .withColumn("df", count(lit(1)).over(wDf))
      .filter(col("df") <= maxDf)
      .drop("df")
    ex.as("a")
      .join(ex.as("b"),
        col("a.lang") === col("b.lang") && col("a.h") === col("b.h") &&
          col("a.doc_id") < col("b.doc_id") &&
          col("a.source") =!= col("b.source"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        col("a.source").as("source_a"), col("b.source").as("source_b"),
        col("a.n").as("n_a"), col("b.n").as("n_b"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard",
        round(col("inter").cast("double") /
          greatest(col("n_a") + col("n_b") - col("inter"), lit(1)).cast("double"), 4))
      .filter(col("jaccard") > 0.2)
      .select(col("id_a"), col("id_b"), col("source_a"), col("source_b"), col("jaccard"))
      .orderBy(col("id_a"), col("id_b"))
  }

  val dedupCrossSourceSql: String =
    s"""WITH d AS (
      |  SELECT doc_id, lang, source,
      |    list_distinct(CASE WHEN len(regexp_extract_all(lower(text), '[a-z0-9]+')) >= 3
      |      THEN list_transform(
      |        range(1, len(regexp_extract_all(lower(text), '[a-z0-9]+')) - 1),
      |        i -> array_to_string(regexp_extract_all(lower(text), '[a-z0-9]+')[i:i+2], ' '))
      |      ELSE [] END) AS sh
      |  FROM documents
      |), ex AS (
      |  SELECT doc_id, lang, source, len(sh) AS n, unnest(sh) AS s FROM d
      |), capped AS (
      |  SELECT * FROM (
      |    SELECT *, count(*) OVER (PARTITION BY lang, s) AS df FROM ex
      |  ) WHERE df <= $DefaultMaxShingleDf
      |), ipairs AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |    a.source AS source_a, b.source AS source_b,
      |    a.n AS n_a, b.n AS n_b, count(*) AS inter
      |  FROM capped a JOIN capped b
      |    ON a.lang = b.lang AND a.s = b.s
      |       AND a.doc_id < b.doc_id AND a.source <> b.source
      |  GROUP BY 1, 2, 3, 4, 5, 6
      |)
      |SELECT id_a, id_b, source_a, source_b,
      |  round(inter::DOUBLE / greatest(n_a + n_b - inter, 1)::DOUBLE, 4) AS jaccard
      |FROM ipairs
      |WHERE round(inter::DOUBLE / greatest(n_a + n_b - inter, 1)::DOUBLE, 4) > 0.2
      |ORDER BY 1, 2""".stripMargin

  /** Mirrors the SHIPPED semantics including the df≤1000 hot-shingle cap:
    * same inverted-index formulation (explode → window df filter → equi-join
    * → |A∩B| count) with the PRE-cap set size in the union denominator, so
    * the gate proves the cap's behavior at any df — a pairwise
    * list_intersect oracle would silently diverge the first time a real
    * shingle crosses the cap. */
  val dedupNgramSql: String = dedupNgramPairsSqlCte +
    """
      |SELECT id_a, id_b, jaccard FROM npairs ORDER BY 1, 2""".stripMargin

  /** Shared CTE prologue ending in `npairs(id_a, id_b, jaccard)` — reused by
    * the clusters oracle so both gates prove one pair semantics. */
  private def dedupNgramPairsSqlCte: String =
    s"""WITH d AS (
      |  SELECT doc_id, lang, source,
      |    list_distinct(CASE WHEN len(regexp_extract_all(lower(text), '[a-z0-9]+')) >= 3
      |      THEN list_transform(
      |        range(1, len(regexp_extract_all(lower(text), '[a-z0-9]+')) - 1),
      |        i -> array_to_string(regexp_extract_all(lower(text), '[a-z0-9]+')[i:i+2], ' '))
      |      ELSE [] END) AS sh
      |  FROM documents
      |), ex AS (
      |  SELECT doc_id, lang, source, len(sh) AS n, unnest(sh) AS s FROM d
      |), capped AS (
      |  SELECT * FROM (
      |    SELECT *, count(*) OVER (PARTITION BY lang, source, s) AS df FROM ex
      |  ) WHERE df <= $DefaultMaxShingleDf
      |), ipairs AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n AS n_a, b.n AS n_b,
      |    count(*) AS inter
      |  FROM capped a JOIN capped b
      |    ON a.lang = b.lang AND a.source = b.source AND a.s = b.s
      |       AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2, 3, 4
      |), npairs AS (
      |  SELECT id_a, id_b,
      |    round(inter::DOUBLE / greatest(n_a + n_b - inter, 1)::DOUBLE, 4) AS jaccard
      |  FROM ipairs
      |  WHERE round(inter::DOUBLE / greatest(n_a + n_b - inter, 1)::DOUBLE, 4) > 0.2
      |)""".stripMargin

  /** Near-dup CLUSTERING: connected components over the union of exact-dup
    * edges (doc ↔ its md5-group root) and n-gram near-dup pair edges, with
    * one row per document: its component id (min reachable doc_id) and
    * whether it is the component's keep representative. This is the step a
    * training pipeline actually runs — pairs alone don't say which docs to
    * drop when duplicates chain (A≈B, B≈C ⇒ one cluster even if A̸≈C).
    *
    * Algorithm: iterative min-label propagation to fixpoint — labels start
    * as doc_id, each round every doc takes the min of its own label and its
    * neighbors', until nothing changes. Each round is ONE shuffle of
    * (labels ∪ edge-carried labels) on doc_id; rounds needed = component
    * diameter (dup clusters are near-cliques, so 2-3 in practice). The
    * driver sees only the per-round change count and the final labels are
    * localCheckpoint'ed so lineage stays bounded — the standard large-graph
    * CC shape, no driver-side graph. */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame =
    clusterLabels(spark, dir).orderBy(col("doc_id"))

  // ---- persisted cluster-label artifact -------------------------------
  // The dedup pass runs ONCE per corpus and its labels feed every
  // downstream consumer (cluster report, leakage-safe splitting, recall
  // audits) — the trade-graph/knn-graph artifact discipline: fingerprinted
  // parquet, atomic temp+rename write, _SUCCESS-gated probe, same-corpus
  // orphan GC. Any refreshed documents file forces a re-derivation.

  /** The corpus's dedup-cluster labels (doc_id, cluster_id, keep), loaded
    * from the fingerprint-matched artifact when one exists and derived +
    * persisted otherwise (StorePaths.cachedArtifact owns the probe/write/
    * GC discipline). */
  def clusterLabels(spark: SparkSession, dir: String): DataFrame =
    graft.serving.StorePaths.cachedArtifact(spark,
      "graft.dedup.dir", "graft_dedup_clusters",
      graft.serving.StorePaths.corpusKey(dir) + "-",
      graft.serving.StorePaths.tableFingerprint(spark, Seq(s"$dir/documents.parquet")))(
      dedupClustersOf(Tables.documents(spark, dir)))

  /** Warm the persisted label artifact (bench/offline hook). */
  def warmClusterLabels(spark: SparkSession, dir: String): Unit =
    clusterLabels(spark, dir).count(): Unit

  /** Soft deduplication — REWEIGHT instead of remove: every doc keeps a
    * training weight 1/|cluster| in exact bp (the SoftDedup knob: hard
    * removal throws away benign paraphrase diversity, raw duplicates
    * over-weight; 1/n makes every near-dup FAMILY contribute one doc's
    * worth of loss mass, preserving Σ weights = #clusters exactly).
    * Rides the persisted [[clusterLabels]] artifact — the dedup pass
    * runs once per corpus; this is one cluster-grain count joined back
    * on the label exchange. weight_bp = 10⁴ DIV csize truncating,
    * engine-exact. */
  def corpusSoftDedup(spark: SparkSession, dir: String): DataFrame = {
    val labels = clusterLabels(spark, dir).select(col("doc_id"), col("cluster_id"))
    corpusSoftDedupLabeled(labels)
  }

  private[graft] def corpusSoftDedupLabeled(labels: DataFrame): DataFrame = {
    val sizes = labels.groupBy(col("cluster_id")).agg(count(lit(1)).as("csize"))
    labels.join(sizes, Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"), col("csize"),
        expr("10000 DIV csize").as("weight_bp"))
      .orderBy(col("doc_id"))
  }

  // lazy: dedupClustersSqlCte initializes further down the object — an
  // eager val here reads null (Scala top-to-bottom val init order)
  lazy val corpusSoftDedupSql: String = dedupClustersSqlCte +
    """, sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS csize
      |  FROM cl GROUP BY 1)
      |SELECT doc_id, cluster_id, csize,
      |  CAST(10000 // csize AS BIGINT) AS weight_bp
      |FROM cl JOIN sz USING (cluster_id) ORDER BY doc_id""".stripMargin

  /** Quality-weighted soft dedup — the production variant of
    * [[corpusSoftDedup]]: instead of splitting a cluster's mass uniformly
    * (1/n, which down-weights the BEST copy as hard as the worst), rank
    * the cluster's members by quality and decay geometrically from the
    * top — the best copy keeps FULL weight (10⁴ bp), each next rank
    * halves (truncating shift, zero past rank 14). Total cluster mass is
    * bounded by 2 docs' worth (Σ 10⁴/2^i < 2·10⁴, conservation
    * spec-pinned), so duplication still can't over-weight a family while
    * the copy actually worth training on is not penalized for having
    * been duplicated.
    *
    * Quality = the number of gopher rules passed
    * ([[CorpusStats.gopherRules]] — the SAME predicate list the filter
    * gate conjoins, one threshold source), ties to the lower doc_id.
    * Rides the persisted [[clusterLabels]] artifact + one map-side
    * signal scan; the rank window partitions by cluster (dup-family
    * sized). Weights are integer-exact in both engines
    * (`shiftright`/`>>`), so the gate is hash-proven end to end. */
  def corpusSoftDedupQuality(spark: SparkSession, dir: String): DataFrame = {
    val labels = clusterLabels(spark, dir).select(col("doc_id"), col("cluster_id"))
    val score = CorpusStats.gopherRules
      .map(p => when(p, 1L).otherwise(0L)).reduce(_ + _)
    val scored = CorpusStats.corpusGopherFilterOf(Tables.documents(spark, dir))
      .select(col("doc_id"), score.as("quality_rules"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id"))
      .orderBy(col("quality_rules").desc, col("doc_id").asc)
    labels.join(scored, Seq("doc_id"))
      .withColumn("qrank", row_number().over(w).cast("long"))
      .withColumn("weight_bp",
        expr("shiftright(10000, CAST(least(qrank - 1, 20) AS INT))").cast("long"))
      .select(col("doc_id"), col("cluster_id"), col("quality_rules"),
        col("qrank"), col("weight_bp"))
      .orderBy(col("doc_id"))
  }

  // lazy: composes dedupClustersSqlCte (defined further down) — see
  // corpusSoftDedupSql
  lazy val corpusSoftDedupQualitySql: String = {
    val scoreSql = CorpusStats.gopherRulesSql
      .map(p => s"(CASE WHEN $p THEN 1 ELSE 0 END)").mkString(" + ")
    dedupClustersSqlCte + ",\n" + CorpusStats.gopherCtesSql +
      s""", scored AS (
        |  SELECT doc_id, CAST($scoreSql AS BIGINT) AS quality_rules FROM bp
        |), rk AS (
        |  SELECT cl.doc_id, cl.cluster_id, s.quality_rules,
        |    CAST(row_number() OVER (PARTITION BY cl.cluster_id
        |      ORDER BY s.quality_rules DESC, cl.doc_id) AS BIGINT) AS qrank
        |  FROM cl JOIN scored s USING (doc_id)
        |)
        |SELECT doc_id, cluster_id, quality_rules, qrank,
        |  CAST(10000 >> least(qrank - 1, 20) AS BIGINT) AS weight_bp
        |FROM rk ORDER BY doc_id""".stripMargin
  }

  private[graft] def dedupClustersOf(docs: DataFrame): DataFrame = {
    val withHash = docs.select(col("doc_id"), md5(col("text").cast("binary")).as("h"))
    val roots = withHash.groupBy(col("h")).agg(min(col("doc_id")).as("root"))
    val exactEdges = withHash.join(roots, "h")
      .filter(col("doc_id") =!= col("root"))
      .select(col("doc_id").as("a"), col("root").as("b"))
    val ngramEdges = dedupNgramCappedOf(docs, DefaultMaxShingleDf)
      .select(col("id_a").as("a"), col("id_b").as("b"))
    // min-label fixpoint over docs that HAVE an edge — see [[Components]]
    val labels = Components.minLabel(exactEdges.unionByName(ngramEdges))
    val clustered = labels.select(col("doc_id"), col("lbl").as("cluster_id"),
      (col("doc_id") === col("lbl")).as("keep"))
    val singletons = docs.select(col("doc_id"))
      .join(labels.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("doc_id").as("cluster_id"), lit(true).as("keep"))
    clustered.unionByName(singletons).orderBy(col("doc_id"))
  }

  private val NumPerms = 64
  private val Bands    = 16 // 16 bands × 4 rows

  /** Permutation `i`'s hash from the base shingle hash: native xxhash64 over
    * (hash, perm-id) — overflow-free under ANSI mode, codegen'd, and one
    * string hash per shingle total instead of one per (shingle, perm). */
  private def permHash(h: Column, i: Int): Column = xxhash64(h, lit(i))

  /** MinHash + LSH banding: candidate near-dup pairs sharing ≥1 of 16 bands
    * (4 minhashes per band). Returns (id_a, id_b, n_shared_bands).
    *
    * Shape: explode shingles → xxhash64 once → groupBy(doc) with 64 `min`
    * aggregates (whole-stage codegen, map-side partials) — NOT a per-row
    * lambda over a shingle array, which runs interpreted and recomputes
    * string hashes per permutation. */
  /** The 16 LSH band hashes per document — the signature both the batch
    * pair join ([[dedupMinhash]]) and the incremental index
    * ([[dedupIncrementalBatch]]) are built from, factored so the two
    * paths can never diverge. */
  private[operators] def bandSignatures(docs: DataFrame): DataFrame = {
    val ex = docs
      .select(col("doc_id"), explode(array_distinct(hashedShingles(col("text")))).as("h"))
    val minAggs = (0 until NumPerms).map(i => min(permHash(col("h"), i)).as(s"m$i"))
    ex.groupBy(col("doc_id"))
      .agg(minAggs.head, minAggs.tail: _*)
      .select(col("doc_id"),
        array((0 until NumPerms).map(i => col(s"m$i")): _*).as("sig"))
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), lit(Bands - 1)),
          b => xxhash64(concat_ws(",", slice(col("sig"), b * lit(NumPerms / Bands) + 1, lit(NumPerms / Bands)))))
        ).as(Seq("band_id", "band_hash")))
  }

  def dedupMinhash(spark: SparkSession, dir: String): DataFrame = {
    val banded = bandSignatures(Tables.documents(spark, dir))
    val l = banded.select(col("band_id"), col("band_hash"), col("doc_id").as("id_a"))
    val r = banded.select(col("band_id"), col("band_hash"), col("doc_id").as("id_b"))
    l.join(r, Seq("band_id", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared_bands"))
      .orderBy(col("id_a"), col("id_b"))
  }

  // ------------------------------------------------------ incremental dedup

  /** One batch of INCREMENTAL near-dedup against a persisted band index —
    * the operation a 100 TB corpus actually runs: new documents dedup
    * against everything ever seen WITHOUT re-reading history; history is
    * a band index that only ever appends.
    *
    * Contract (first-seen wins): a document DROPS iff one of its LSH
    * bands was already seen — in the index (any earlier batch) or on a
    * smaller-id document of this batch. EVERY seen document's bands are
    * appended to the index, dropped ones included (the crawler
    * Bloom-filter discipline), so all later members of a duplicate
    * cluster drop rather than resurrecting when their nearest match was
    * itself dropped. Under an append-only id discipline this makes the
    * keep-set INDEPENDENT of how the stream is batched (= the global
    * "no band shared with any smaller id" rule) — spec-pinned, and
    * hash-proven cross-engine by the `dedup_incremental_oracle` twin
    * whose DuckDB side computes the global rule in one pass.
    *
    * Scale shape: the INDEX NEVER SHUFFLES AND NEVER BROADCASTS — it is
    * the side that grows without bound, so the probe is an inner
    * broadcast-hash join that streams the index once map-side against
    * the broadcast DELTA bands (bounded by the batch, 16 longs per doc);
    * a left-semi the other way around would hash-exchange the whole
    * index every batch. The within-batch first-seen rule rides the
    * delta's one (band_id, band_hash) window shuffle. Decisions are
    * pinned eagerly (localCheckpoint) BEFORE the append so the returned
    * frame cannot observe its own batch's writes. (A production index
    * additionally lays files out by band-hash prefix so a batch probes
    * only matching files; the join shape is already the streaming one.) */
  def dedupIncrementalBatch(docs: DataFrame, indexPath: String): DataFrame =
    dedupIncrementalBatch(docs, indexPath, appendIndex = true)

  def dedupIncrementalBatch(docs: DataFrame, indexPath: String,
                            appendIndex: Boolean): DataFrame =
    dedupIncrementalFold(docs, bandSignatures(docs), indexPath, appendIndex)

  /** The fold body, generic in the signature source so the engine-neutral
    * `dedup_incremental_oracle` twin runs the IDENTICAL pipeline over its
    * own hash family. `sigsRaw` must be (doc_id, band_id, band_hash).
    * `appendIndex = false` skips the index write — a batch's DECISIONS
    * never read its own append, so the terminal batch of a bounded fold
    * (gate/backfill runs, not the open-ended crawler) can drop the write
    * and halve the run's index write amplification. */
  private[graft] def dedupIncrementalFold(docs: DataFrame, sigsRaw: DataFrame,
                                          indexPath: String,
                                          appendIndex: Boolean = true): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val sigs = sigsRaw.localCheckpoint()
    val hitIndex =
      if (graft.serving.StorePaths.exists(spark, indexPath))
        spark.read.parquet(indexPath)
          .join(broadcast(sigs), Seq("band_id", "band_hash"))
          .select(col("doc_id")).distinct()
      else Seq.empty[Long].toDF("doc_id")
    val wMin = Window.partitionBy(col("band_id"), col("band_hash"))
    val hitBatch = sigs
      .withColumn("min_id", min(col("doc_id")).over(wMin))
      .filter(col("doc_id") > col("min_id"))
      .select(col("doc_id"))
    val dropped = hitIndex.unionByName(hitBatch).distinct()
      .withColumn("hit", lit(1))
    val decisions = docs.select(col("doc_id"))
      .join(dropped, Seq("doc_id"), "left")
      .select(col("doc_id"), col("hit").isNull.as("keep"))
      .localCheckpoint()
    if (appendIndex)
      // few-file layout: a batch's bands are ≤16 longs/doc — 32 shuffle-
      // partition shards of that are footer-dominated; the production
      // index additionally lays files out by band-hash prefix
      sigs.select(col("band_id"), col("band_hash"))
        .coalesce(4).write.mode("append").parquet(indexPath)
    decisions
  }

  /** Gate form: the corpus split into two id-ordered batches folded
    * through [[dedupIncrementalBatch]] with a fresh index — deterministic
    * per call, and (by the batching-invariance contract) equal to the
    * one-pass global rule the oracle twin hash-proves. */
  def dedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val mid = docs.agg(coalesce(max(col("doc_id")), lit(0L))).head().getLong(0) / 2
    val idx = java.nio.file.Files.createTempDirectory("graft_dedup_idx")
      .toString + "/bands"
    val r1 = dedupIncrementalBatch(docs.filter(col("doc_id") <= mid), idx)
    val r2 = dedupIncrementalBatch(docs.filter(col("doc_id") > mid), idx,
      appendIndex = false) // terminal batch: nothing reads its append
    r1.unionByName(r2).orderBy(col("doc_id"))
  }

  /** SimHash 64-bit fingerprints + 4×16-bit-band blocking; emits candidate
    * pairs with exact hamming distance ≤ 6. */
  def dedupSimhash(spark: SparkSession, dir: String): DataFrame = {
    // explode tokens → one xxhash64 per token → 64 codegen'd signed-bit-vote
    // sums per doc (same explode+agg shape as minhash, for the same reason)
    val ex = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(toks(col("text"))).as("t"))
      .select(col("doc_id"), xxhash64(col("t")).as("h"))
    val voteAggs = (0 until 64).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L)).as(s"b$b")
    }
    val fp = ex.groupBy(col("doc_id"))
      .agg(voteAggs.head, voteAggs.tail: _*)
      .select(col("doc_id"),
        (0 until 64).map(b => when(col(s"b$b") > 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
    val banded = fp.select(col("doc_id"), col("simhash"),
      posexplode(expr("transform(sequence(0, 3), b -> shiftright(simhash, b * 16) & 65535L)"))
        .as(Seq("band_id", "band_val")))
    val l = banded.select(col("band_id"), col("band_val"),
      col("doc_id").as("id_a"), col("simhash").as("sim_a"))
    val r = banded.select(col("band_id"), col("band_val"),
      col("doc_id").as("id_b"), col("simhash").as("sim_b"))
    l.join(r, Seq("band_id", "band_val"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= 6)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Driver-visible dedup quality gate — the knn_recall sibling for the
    * fingerprint family: candidate-pair recall of the minhash-band and
    * simhash-band pipelines against the exact n-gram Jaccard pairs at
    * the strong-duplicate threshold (jaccard ≥ 0.5, the region LSH
    * banding is tuned for). One row per method meeting its spec floor —
    * a healthy pipeline reports 2 rows; a recall regression DROPS its
    * row in the driver's rows count. rows-only: it scores xxhash64
    * pipelines that are themselves deliberately rows-only.
    *
    * Scale shape: the exact truth sets load from persisted fingerprinted
    * artifacts ([[ngramTruth]]/[[containmentTruth]]/[[fuzzyTruth]] —
    * derived once per corpus, warmed in Bench), then per method one
    * pair-keyed left-semi join and single-row aggregates. */
  def dedupRecall(spark: SparkSession, dir: String): DataFrame = {
    // shared row shape: recall of `got` vs `truth` on `keys`, floor-gated —
    // a healthy pipeline emits the row, a regression drops it
    def recallRow(nm: String, truth: DataFrame, got: DataFrame,
        keys: Seq[String], floor: Long): DataFrame = {
      val tTot = truth.agg(count(lit(1)).as("n_truth"))
      got.join(truth, keys, "left_semi")
        .agg(count(lit(1)).as("n_hit"))
        .crossJoin(broadcast(tTot))
        .select(lit(nm).as("method"),
          when(col("n_truth") > 0,
            round(col("n_hit") * 100.0 / col("n_truth")).cast("long"))
            .as("recall_e2"),
          lit(floor).as("floor_e2"))
        .filter(col("recall_e2") >= col("floor_e2"))
    }
    val truth = ngramTruth(spark, dir)
    val bandRows = Seq(
      ("minhash", dedupMinhash(spark, dir), 70L),
      ("simhash", dedupSimhash(spark, dir), 40L)).map { case (nm, df, floor) =>
      recallRow(nm, truth, df.select(col("id_a"), col("id_b")),
        Seq("id_a", "id_b"), floor)
    }
    // containment's only approximation is the hot-shingle df cap — its
    // floor is pair recall vs the UNCAPPED (definitionally exact) form,
    // read from the persisted truth artifact like every exact baseline.
    val contRow = recallRow("containment",
      containmentTruth(spark, dir),
      dedupContainment(spark, dir).select(col("contained_id"), col("container_id")),
      Seq("contained_id", "container_id"), 70L)
    // fuzzy decontamination's approximation is the band collision — its
    // floor is flagged-DOC recall vs the exact shingle-set Jaccard ≥ 0.5
    // (the banding's design threshold, see [[fuzzyTruth]]).
    val fuzzyRow = recallRow("fuzzy_decon",
      fuzzyTruth(spark, dir),
      corpusFuzzyDecontaminate(spark, dir).select(col("doc_id")),
      Seq("doc_id"), 70L)
    (bandRows :+ contRow :+ fuzzyRow)
      .reduce(_ unionByName _).orderBy(col("method"))
  }

  // ---- persisted exact-truth baselines for the recall gate -------------
  // At a real corpus these exact passes (uncapped containment, full n-gram
  // Jaccard, exact shingle-set decontamination) are the most expensive
  // computation in the suite — the gate must audit against them, not
  // re-pay them per run. Same cachedArtifact discipline as clusterLabels;
  // warmed by [[warmTruths]]; a refreshed documents file re-derives.

  private def docTruth(spark: SparkSession, dir: String, tag: String)(
      derive: => DataFrame): DataFrame =
    graft.serving.StorePaths.cachedArtifact(spark,
      "graft.truth.dir", "graft_truth",
      tag + "-" + graft.serving.StorePaths.corpusKey(dir) + "-",
      graft.serving.StorePaths.tableFingerprint(spark, Seq(s"$dir/documents.parquet")))(
      derive)

  private[graft] def ngramTruth(spark: SparkSession, dir: String): DataFrame =
    docTruth(spark, dir, "tngram")(
      dedupNgram(spark, dir).filter(col("jaccard") >= 0.5)
        .select(col("id_a"), col("id_b")))

  private[graft] def containmentTruth(spark: SparkSession, dir: String): DataFrame =
    docTruth(spark, dir, "tcont")(
      dedupContainmentCapped(spark, dir, Int.MaxValue)
        .select(col("contained_id"), col("container_id")))

  /** Exact fuzzy-decontamination truth: docs whose 3-gram shingle-set
    * Jaccard with any benchmark extract reaches the banding's 0.5 design
    * threshold (3·inter ≥ n_c + n_b is the exact integer form). */
  private[graft] def fuzzyTruth(spark: SparkSession, dir: String): DataFrame =
    docTruth(spark, dir, "tfuzzy") {
      val docs = Tables.documents(spark, dir)
      val corpEx = docs
        .select(col("doc_id"), array_distinct(hashedNgrams(col("text"), 3)).as("sh"))
        .select(col("doc_id"), size(col("sh")).cast("long").as("n_c"),
          explode(col("sh")).as("h"))
      val benchEx = docs.filter(pmod(col("doc_id"), lit(97)) === 0)
        .select(col("doc_id").as("bench_doc"),
          array_distinct(hashedNgrams(benchExtract(col("text")), 3)).as("bsh"))
        .select(col("bench_doc"), size(col("bsh")).cast("long").as("n_b"),
          explode(col("bsh")).as("h"))
      corpEx.join(broadcast(benchEx), "h")
        .groupBy(col("doc_id"), col("bench_doc"), col("n_c"), col("n_b"))
        .agg(count(lit(1)).as("inter"))
        .filter(col("inter") * 3 >= col("n_c") + col("n_b"))
        .select(col("doc_id")).distinct()
    }

  /** Warm the persisted recall-truth artifacts (bench/offline hook). */
  def warmTruths(spark: SparkSession, dir: String): Unit = {
    ngramTruth(spark, dir).count()
    containmentTruth(spark, dir).count()
    fuzzyTruth(spark, dir).count(): Unit
  }

  /** Oracle for dedup_clusters: same edge set (md5-root stars + the ngram
    * oracle's pair formulation), connected components via a recursive
    * closure — min reachable doc_id per doc. Components are tiny (dup
    * clusters), so the closure is cheap for DuckDB even though the Spark
    * side uses fixpoint propagation instead. */
  /** The full cluster-label CTE chain (edges + recursive closure +
    * per-doc min label as `cl(doc_id, cluster_id)`) — shared verbatim by
    * [[dedupClustersSql]] and the leakage-safe split oracle, so the edge
    * set can never silently diverge between them. */
  private[operators] val dedupClustersSqlCte: String =
    dedupNgramPairsSqlCte.replaceFirst("^WITH ", "WITH RECURSIVE ") +
    """, eh AS (
      |  SELECT doc_id, md5(text) AS h FROM documents
      |), eroots AS (
      |  SELECT h, min(doc_id) AS root FROM eh GROUP BY 1
      |), eedges AS (
      |  SELECT eh.doc_id AS a, er.root AS b FROM eh JOIN eroots er USING (h)
      |  WHERE eh.doc_id <> er.root
      |), edges AS (
      |  SELECT a, b FROM eedges UNION SELECT b, a FROM eedges
      |  UNION SELECT id_a, id_b FROM npairs UNION SELECT id_b, id_a FROM npairs
      |), reach(doc_id, lbl) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT e.a, r.lbl FROM edges e JOIN reach r ON r.doc_id = e.b
      |), cl AS (
      |  SELECT doc_id, min(lbl) AS cluster_id FROM reach GROUP BY 1
      |)""".stripMargin

  val dedupClustersSql: String = dedupClustersSqlCte +
    """
      |SELECT doc_id, cluster_id, doc_id = cluster_id AS keep
      |FROM cl ORDER BY 1""".stripMargin

  /** Directed containment near-dup pairs: doc A is flagged as contained in
    * doc B when ≥80% of A's distinct word 5-gram shingles also occur in B
    * (|A∩B| / |A| — the asymmetric cousin of dedup_ngram's Jaccard).
    * Jaccard misses the quote/subset case entirely: a paragraph pasted
    * into a 100× longer page has tiny union-normalized similarity but
    * containment ≈ 1, and dropping such contained docs is a standard
    * dedup rung (Lee et al. §2 discuss substring containment as the case
    * set-similarity misses). Small docs (<10 distinct shingles) are
    * exempt — everything "contains" a one-line doc.
    *
    * Plan shape: the SAME capped inverted-index discipline as dedup_ngram
    * — explode distinct shingles, window-df cap on the join's own
    * (block, shingle) shuffle keys (exchange reused, one tokenization),
    * equi-join materializes only shingle-sharing pairs, |A∩B| by count.
    * Both directions derive from ONE unordered pair aggregate (two
    * selects over the tiny pair table, not a second corpus pass).
    * Threshold is the exact integer cross-multiply 5·inter ≥ 4·n, so the
    * gate never touches a float. */
  def dedupContainment(spark: SparkSession, dir: String): DataFrame =
    dedupContainmentCapped(spark, dir, DefaultMaxShingleDf)

  def dedupContainmentCapped(spark: SparkSession, dir: String, maxDf: Int): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"),
        array_distinct(hashedNgrams(col("text"), 5)).as("sh"))
    val exAll = d.select(col("lang"), col("source"), col("doc_id"),
      size(col("sh")).cast("long").as("n"), explode(col("sh")).as("h"))
    val wDf = Window.partitionBy(col("lang"), col("source"), col("h"))
    val ex = exAll
      .withColumn("df", count(lit(1)).over(wDf))
      .filter(col("df") <= maxDf)
      .drop("df")
    val pairs = ex.as("a")
      .join(ex.as("b"),
        col("a.lang") === col("b.lang") && col("a.source") === col("b.source") &&
          col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        col("a.n").as("n_a"), col("b.n").as("n_b"))
      .agg(count(lit(1)).as("inter"))
    val aInB = pairs.select(col("id_a").as("contained_id"), col("id_b").as("container_id"),
      col("inter").as("n_shared"), col("n_a").as("n_contained"))
    val bInA = pairs.select(col("id_b").as("contained_id"), col("id_a").as("container_id"),
      col("inter").as("n_shared"), col("n_b").as("n_contained"))
    aInB.unionByName(bInA)
      .filter(col("n_contained") >= 10 &&
        col("n_shared") * 5 >= col("n_contained") * 4)
      .orderBy(col("contained_id"), col("container_id"))
  }

  val dedupContainmentSql: String =
    s"""WITH tk AS (
      |  SELECT doc_id, lang, source,
      |    regexp_extract_all(lower(text), '[a-z0-9]+') AS ws FROM documents
      |), d AS (
      |  SELECT doc_id, lang, source, list_distinct(CASE WHEN len(ws) >= 5
      |    THEN list_transform(range(1, len(ws) - 3), i -> array_to_string(ws[i:i+4], ' '))
      |    ELSE [] END) AS sh
      |  FROM tk
      |), ex AS (
      |  SELECT doc_id, lang, source, len(sh) AS n, unnest(sh) AS s FROM d
      |), capped AS (
      |  SELECT * FROM (
      |    SELECT *, count(*) OVER (PARTITION BY lang, source, s) AS df FROM ex
      |  ) WHERE df <= $DefaultMaxShingleDf
      |), pairs AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n AS n_a, b.n AS n_b,
      |    count(*) AS inter
      |  FROM capped a JOIN capped b
      |    ON a.lang = b.lang AND a.source = b.source AND a.s = b.s
      |       AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2, 3, 4
      |), directed AS (
      |  SELECT id_a AS contained_id, id_b AS container_id,
      |    CAST(inter AS BIGINT) AS n_shared, n_a AS n_contained FROM pairs
      |  UNION ALL
      |  SELECT id_b, id_a, CAST(inter AS BIGINT), n_b FROM pairs
      |)
      |SELECT * FROM directed
      |WHERE n_contained >= 10 AND n_shared * 5 >= n_contained * 4
      |ORDER BY contained_id, container_id""".stripMargin

  /** Cross-document repeated-LINE removal — the CCNet/RefinedWeb
    * line-dedup pass (Wenzek et al. LREC'20 §3.1; Penedo et al. 2023):
    * navigation chrome, cookie banners and footer boilerplate repeat
    * VERBATIM as lines across pages, and removing them beats any
    * doc-level quality score at cleaning web text. A line occurrence is
    * removed when the exact line appears in ≥ 3 DISTINCT docs and is ≥ 10
    * chars (short separators always keep — removing every "" would glue
    * paragraphs). Gate: per doc, line/removed counts and the md5 of the
    * kept text reassembled in original order (the corpus_chunk /
    * dedup_spans kept-hash discipline — content-exact cross-engine
    * without shipping the text).
    *
    * Plan: the distinct-doc line count is a (line, doc) distinct +
    * line-keyed rollup, joined back onto occurrences on the SAME line
    * key (position-preserving reassembly plus a DISTINCT-doc count can't
    * ride one window the way text_memorization's count-only pass does);
    * per-doc reassembly is a sort-within-group aggregate. Hot boilerplate
    * lines concentrate on their line-hash partitions exactly as their
    * occurrence mass demands — no pair fan-out anywhere. */
  def corpusLineDedup(spark: SparkSession, dir: String): DataFrame =
    corpusLineDedupOf(Tables.documents(spark, dir))

  def corpusLineDedupOf(docs: DataFrame): DataFrame = {
    val occ = docs.select(col("doc_id"),
      posexplode(split(col("text"), "\n", -1)).as(Seq("pos", "line")))
    val dcount = occ.select(col("line"), col("doc_id")).distinct()
      .groupBy(col("line")).agg(count(lit(1)).as("docs_with"))
    occ.join(dcount, "line")
      .withColumn("removed",
        (col("docs_with") >= 3L && length(col("line")) >= 10).cast("long"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_lines"), sum(col("removed")).as("n_removed"),
        md5(array_join(transform(
          array_sort(collect_list(
            when(col("removed") === 0L, struct(col("pos"), col("line"))))),
          x => x.getField("line")), "\n")).as("kept_md5"))
      .orderBy(col("doc_id"))
  }

  val corpusLineDedupSql: String =
    """WITH l AS (
      |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, ls[i] AS line
      |  FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM documents),
      |    unnest(range(1, len(ls) + 1)) AS t(i)
      |), dcount AS (
      |  SELECT line, CAST(count(DISTINCT doc_id) AS BIGINT) AS docs_with
      |  FROM l GROUP BY 1
      |), m AS (
      |  SELECT l.doc_id, l.pos, l.line,
      |    CASE WHEN d.docs_with >= 3 AND length(l.line) >= 10
      |      THEN 1 ELSE 0 END AS removed
      |  FROM l JOIN dcount d ON l.line = d.line
      |)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines,
      |  CAST(sum(removed) AS BIGINT) AS n_removed,
      |  md5(coalesce(string_agg(line, chr(10) ORDER BY pos)
      |    FILTER (WHERE removed = 0), '')) AS kept_md5
      |FROM m GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------ edit-distance

  /** Edit-distance near-dup pairs over normalized title keys — EXACT
    * (zero false negatives) at corpus scale via PassJoin segment
    * blocking (Li, Deng, Feng, VLDB'11): partition each string into
    * τ+1 segments; ≤ τ edit operations cannot touch every segment
    * (pigeonhole), so two strings within distance τ share at least one
    * segment EXACTLY, position-shifted by at most τ. Candidates are
    * therefore an equi-join on (source-length, segment-index, segment)
    * — the index side cuts each title by its own length, the probe side
    * emits each title's substrings for every candidate source length
    * within ±τ and every shift within ±τ: a BOUNDED ≤ (τ+1)·(2τ+1)²
    * ≈ 75-key fan-out per title, never an all-pairs or length-bucket
    * cross join. Survivors pay one codegen'd `levenshtein` each.
    *
    * The title key: lower-cased, non-[a-z0-9 ] stripped, whitespace
    * collapsed, first 40 chars, min length 9 (titles shorter than
    * 3·(τ+1) cannot fill 3 non-empty segments; they belong to exact
    * dedup). Engine-exact normalization — the DuckDB oracle computes
    * the BRUTE-FORCE quadratic answer and must agree row-for-row
    * precisely because the segment scheme is exact, making this gate an
    * algorithmic-correctness proof, not a replay. */
  def dedupEdit(spark: SparkSession, dir: String): DataFrame =
    dedupEditOf(Tables.documents(spark, dir), tau = 2)

  private def titleCol: Column =
    substring(trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), "\\s+", " ")), 1, 40)

  def dedupEditOf(docs: DataFrame, tau: Int): DataFrame = {
    val s = tau + 1 // segment count
    val titles = docs.select(col("doc_id"), titleCol.as("title"))
      .withColumn("n", length(col("title")).cast("int"))
      .filter(col("n") >= 3 * s)
      .localCheckpoint() // two consumers (index + probe) of one tiny projection
    val js = explode(array((0 until s).map(lit): _*))
    // index side: each title segmented by ITS OWN length
    val idx = titles
      .withColumn("j", js)
      .withColumn("p", (col("j") * col("n") / s).cast("int") + 1)
      .withColumn("l", ((col("j") + 1) * col("n") / s).cast("int")
        - (col("j") * col("n") / s).cast("int"))
      .select(col("n").as("m"), col("j"), expr("substring(title, p, l)").as("seg"),
        col("doc_id").as("id_a"), col("title").as("title_a"))
    // probe side: substrings at every source length m ∈ n±τ, shift δ ∈ ±τ
    val probe = titles
      .withColumn("m", explode(sequence(col("n") - tau, col("n") + tau)))
      .filter(col("m") >= 3 * s)
      .withColumn("j", js)
      .withColumn("pj", (col("j") * col("m") / s).cast("int") + 1)
      .withColumn("lj", ((col("j") + 1) * col("m") / s).cast("int")
        - (col("j") * col("m") / s).cast("int"))
      .withColumn("p", explode(sequence(col("pj") - tau, col("pj") + tau)))
      .filter(col("p") >= 1 && col("p") + col("lj") - 1 <= col("n"))
      .select(col("m"), col("j"), expr("substring(title, p, lj)").as("seg"),
        col("doc_id").as("id_b"), col("title").as("title_b"))
    idx.join(probe, Seq("m", "j", "seg"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("title_a"), col("title_b"))
      .distinct() // a pair may collide on several (j, shift) keys
      .withColumn("dist", levenshtein(col("title_a"), col("title_b")).cast("long"))
      .filter(col("dist") <= tau)
      .select(col("id_a"), col("id_b"), col("dist"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** The normalized-title key and brute-force pair CTEs as ONE shared
    * constant — both edit oracles compose these, so a normalization or
    * threshold edit cannot silently leave one copy stale. */
  private val editTitleCtesSql: String =
    """t AS (
      |  SELECT doc_id,
      |    substring(trim(regexp_replace(
      |      regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
      |      '\s+', ' ', 'g')), 1, 40) AS title
      |  FROM documents
      |), k AS (SELECT doc_id, title FROM t WHERE length(title) >= 9
      |), p AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |    CAST(levenshtein(a.title, b.title) AS BIGINT) AS dist
      |  FROM k a JOIN k b
      |    ON a.doc_id < b.doc_id
      |    AND abs(length(a.title) - length(b.title)) <= 2
      |  WHERE levenshtein(a.title, b.title) <= 2
      |)""".stripMargin

  val dedupEditSql: String =
    s"""WITH $editTitleCtesSql
      |SELECT id_a, id_b, dist FROM p ORDER BY id_a, id_b""".stripMargin

  /** Cluster/keep-rule form of [[dedupEdit]] — the massive-duplication
    * scale path the pair form is the wrong shape for (k copies of a
    * title are k(k−1)/2 pairs but ONE cluster row each; ScaleProbe r9b):
    * connected components over the edit-pair edges, keep = component-min,
    * every doc labeled (out-of-domain/unique titles keep themselves).
    * Fully hash-gated: exact pairs (PassJoin) + exact components vs the
    * oracle's brute-force pairs + recursive-CTE reachability. */
  def dedupEditClusters(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val edges = dedupEditOf(docs, tau = 2)
      .select(col("id_a").as("a"), col("id_b").as("b"))
    val labels = Components.minLabel(edges)
    val clustered = labels.select(col("doc_id"), col("lbl").as("cluster_id"),
      (col("doc_id") === col("lbl")).as("keep"))
    val singles = docs.select(col("doc_id"))
      .join(labels.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("doc_id").as("cluster_id"), lit(true).as("keep"))
    clustered.unionByName(singles).orderBy(col("doc_id"))
  }

  val dedupEditClustersSql: String =
    s"""WITH RECURSIVE $editTitleCtesSql, edges AS (
      |  SELECT id_a AS a, id_b AS b FROM p UNION SELECT id_b, id_a FROM p
      |), reach(doc_id, lbl) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT e.a, r.lbl FROM edges e JOIN reach r ON r.doc_id = e.b
      |)
      |SELECT doc_id, min(lbl) AS cluster_id, doc_id = min(lbl) AS keep
      |FROM reach GROUP BY 1 ORDER BY 1""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_edit"     -> (dedupEdit _),
    "dedup_edit_clusters" -> (dedupEditClusters _),
    "corpus_line_dedup" -> (corpusLineDedup _),
    "dedup_recall"   -> (dedupRecall _),
    "dedup_containment" -> (dedupContainment _),
    "dedup_exact"    -> (dedupExact _),
    "dedup_ngram"    -> (dedupNgram _),
    "dedup_cross_source" -> (dedupCrossSource _),
    "dedup_minhash"  -> (dedupMinhash _),
    "dedup_simhash"  -> (dedupSimhash _),
    "dedup_clusters" -> (dedupClusters _),
    "corpus_soft_dedup" -> (corpusSoftDedup _),
    "corpus_soft_dedup_quality" -> (corpusSoftDedupQuality _),
    "dedup_incremental" -> (dedupIncremental _),
    "corpus_decontaminate" -> (corpusDecontaminate _),
    "corpus_bloom_decontaminate" -> (corpusBloomDecontaminate _),
    "corpus_bloom_decontaminate_audit" -> (corpusBloomDecontaminateAudit _),
    "corpus_fuzzy_decontaminate" -> (corpusFuzzyDecontaminate _))

  val oracle: Map[String, String] = Map(
    "dedup_edit"     -> dedupEditSql,
    "dedup_edit_clusters" -> dedupEditClustersSql,
    "corpus_line_dedup" -> corpusLineDedupSql,
    "dedup_containment" -> dedupContainmentSql,
    "dedup_exact"    -> dedupExactSql,
    "dedup_ngram"    -> dedupNgramSql,
    "dedup_cross_source" -> dedupCrossSourceSql,
    "dedup_clusters" -> dedupClustersSql,
    "corpus_soft_dedup" -> corpusSoftDedupSql,
    "corpus_soft_dedup_quality" -> corpusSoftDedupQualitySql,
    "corpus_decontaminate" -> corpusDecontaminateSql,
    "corpus_bloom_decontaminate_audit" -> corpusBloomDecontaminateAuditSql)
}
