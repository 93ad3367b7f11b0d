package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Text-analysis operators over the `documents` table: token counting,
  * quality scoring, language ID, fingerprinting. All pure `functions._`
  * column expressions (whole-stage codegen; no UDFs), with regex kept to the
  * Java∩RE2 common subset so the DuckDB oracle computes the identical value.
  */
object TextAnalysis {

  private val wsTok  = "\\S+"
  private val bpeTok = " ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+"
  private val stopEn = "\\b(the|and|of|to|in|is|a)\\b"

  /** Engine-portable deterministic id hash shared by corpus_split /
    * corpus_sample / corpus_mix / corpus_pack: h(id) = (A·(id mod p) + B)
    * mod p with p = 1e9+7 — NOT rng sampling (reproducible across engines,
    * runs, and partitionings) and NOT xxhash64 (the oracle must recompute
    * it in SQL).
    *
    * Wide-id safety: the former raw form `id * 2654435761` ANSI-aborts at
    * id ≥ 2⁶³/A ≈ 3.47e9 — exactly the snowflake-style 64-bit id scale a
    * 100 TB corpus carries. Reducing mod p FIRST bounds the product by
    * A·(p−1) ≈ 2.66e18 < 2⁶³, so the ladder is overflow-free for EVERY
    * non-negative long id (spec-pinned at 10¹⁸ and Long.MaxValue) while
    * staying a one-line DuckDB mirror. The affine map is a bijection on
    * [0, p), so bucket uniformity is unchanged; ids differing by a
    * multiple of p collide, which a split/sample cares nothing about. */
  private val HashP = 1000000007L
  private val HashA = 2654435761L
  private val HashB = 97531L
  def idHash(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    pmod(lit(HashA) * pmod(id, lit(HashP)) + lit(HashB), lit(HashP))
  /** DuckDB mirror of [[idHash]] over a column rendering `ref`. */
  def idHashSql(ref: String): String = s"(($HashA * ($ref % $HashP) + $HashB) % $HashP)"

  /** Epoch-keyed variant of [[idHash]]: shifts the mod-p residue by
    * epoch·K before the affine mix, so each epoch is an independent
    * pseudo-random priority over the same ids. Same overflow discipline —
    * the residue is reduced mod p FIRST, the shift keeps the operand
    * < 2p + 2³¹·K ≪ 2⁶³, and the A·(p−1) product bound is unchanged. */
  private val EpochK = 999983L
  def epochHash(id: org.apache.spark.sql.Column, epoch: Int): org.apache.spark.sql.Column =
    pmod(lit(HashA) * pmod(pmod(id, lit(HashP)) + lit(epoch * EpochK), lit(HashP)) + lit(HashB), lit(HashP))
  /** DuckDB mirror of [[epochHash]]. */
  def epochHashSql(ref: String, epoch: Int): String =
    s"(($HashA * ((($ref % $HashP) + ${epoch * EpochK}) % $HashP) + $HashB) % $HashP)"

  /** Token counting: whitespace tokens + a BPE-ish segmentation. */
  def textTokens(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        size(regexp_extract_all(col("text"), lit(wsTok), lit(0))).cast("long").as("ws_tokens"),
        size(regexp_extract_all(col("text"), lit(bpeTok), lit(0))).cast("long").as("bpe_tokens"))
      .orderBy(col("doc_id"))

  val textTokensSql: String =
    s"""SELECT doc_id, length(text) AS n_chars,
      | len(regexp_extract_all(text, '$wsTok')) AS ws_tokens,
      | len(regexp_extract_all(text, '$bpeTok')) AS bpe_tokens
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Quality scoring: character-class ratios + stopword density + a
    * deterministic combined score. */
  def textQuality(spark: SparkSession, dir: String): DataFrame = {
    val n     = length(col("text")).cast("double")
    val alpha = (n - length(regexp_replace(col("text"), "[A-Za-z]", ""))).cast("double")
    val upper = (n - length(regexp_replace(col("text"), "[A-Z]", ""))).cast("double")
    val digit = (n - length(regexp_replace(col("text"), "[0-9]", ""))).cast("double")
    val punct = (n - length(regexp_replace(col("text"), "[^A-Za-z0-9\\s]", ""))).cast("double")
    val toks  = size(regexp_extract_all(col("text"), lit(wsTok), lit(0))).cast("double")
    val stops = size(regexp_extract_all(lower(col("text")), lit(stopEn), lit(0))).cast("double")
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        round(alpha / n, 4).as("alpha_ratio"),
        round(upper / n, 4).as("upper_ratio"),
        round(digit / n, 4).as("digit_ratio"),
        round(punct / n, 4).as("punct_ratio"),
        round(stops / greatest(toks, lit(1.0)), 4).as("stop_ratio"),
        round(alpha / greatest(toks, lit(1.0)), 4).as("avg_token_len"),
        round(lit(0.4) * (alpha / n)
          + lit(0.3) * least(lit(1.0), toks / lit(100.0))
          + lit(0.3) * (lit(1.0) - punct / n), 4).as("quality_score"))
      .orderBy(col("doc_id"))
  }

  val textQualitySql: String = {
    val n     = "length(text)::DOUBLE"
    val alpha = s"($n - length(regexp_replace(text, '[A-Za-z]', '', 'g')))"
    val upper = s"($n - length(regexp_replace(text, '[A-Z]', '', 'g')))"
    val digit = s"($n - length(regexp_replace(text, '[0-9]', '', 'g')))"
    val punct = s"($n - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')))"
    val toks  = s"len(regexp_extract_all(text, '$wsTok'))::DOUBLE"
    val stops = s"len(regexp_extract_all(lower(text), '$stopEn'))::DOUBLE"
    s"""SELECT doc_id,
      | round($alpha / $n, 4) AS alpha_ratio,
      | round($upper / $n, 4) AS upper_ratio,
      | round($digit / $n, 4) AS digit_ratio,
      | round($punct / $n, 4) AS punct_ratio,
      | round($stops / greatest($toks, 1.0), 4) AS stop_ratio,
      | round($alpha / greatest($toks, 1.0), 4) AS avg_token_len,
      | round(0.4 * ($alpha / $n) + 0.3 * least(1.0, $toks / 100.0)
      |   + 0.3 * (1.0 - $punct / $n), 4) AS quality_score
      |FROM documents ORDER BY doc_id""".stripMargin
  }

  private val stopwords: Seq[(String, String)] = Seq(
    "en" -> "\\b(the|and|is|of|to|you|that|it|was|for)\\b",
    "fr" -> "\\b(le|la|les|et|de|un|une|est|que|dans)\\b",
    "de" -> "\\b(der|die|das|und|ist|nicht|ein|zu|mit|auf)\\b",
    "es" -> "\\b(el|los|las|es|y|un|una|que|en|por)\\b")
  private val cjk = "[\\x{4e00}-\\x{9fff}]"

  /** Language ID: CJK-script detection + per-language stopword votes with a
    * fixed precedence (en > fr > de > es) for ties. */
  def textLangid(spark: SparkSession, dir: String): DataFrame = {
    val lowered = lower(col("text"))
    val score: Map[String, org.apache.spark.sql.Column] = stopwords.toMap.map {
      case (l, re) => l -> size(regexp_extract_all(lowered, lit(re), lit(0)))
    }
    val nCjk = size(regexp_extract_all(col("text"), lit(cjk), lit(0)))
    val pred = when(nCjk > 0, "zh")
      .when(score("en") >= score("fr") && score("en") >= score("de") && score("en") >= score("es"), "en")
      .when(score("fr") >= score("de") && score("fr") >= score("es"), "fr")
      .when(score("de") >= score("es"), "de")
      .otherwise("es")
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), pred.as("pred_lang"))
      .withColumn("correct", (col("lang") === col("pred_lang")).cast("int"))
      .orderBy(col("doc_id"))
  }

  val textLangidSql: String = {
    def s(l: String) =
      s"len(regexp_extract_all(lower(text), '${stopwords.toMap.apply(l)}'))"
    s"""SELECT doc_id, lang,
      | CASE WHEN len(regexp_extract_all(text, '$cjk')) > 0 THEN 'zh'
      |      WHEN ${s("en")} >= ${s("fr")} AND ${s("en")} >= ${s("de")} AND ${s("en")} >= ${s("es")} THEN 'en'
      |      WHEN ${s("fr")} >= ${s("de")} AND ${s("fr")} >= ${s("es")} THEN 'fr'
      |      WHEN ${s("de")} >= ${s("es")} THEN 'de'
      |      ELSE 'es' END AS pred_lang,
      | CASE WHEN lang = (CASE WHEN len(regexp_extract_all(text, '$cjk')) > 0 THEN 'zh'
      |      WHEN ${s("en")} >= ${s("fr")} AND ${s("en")} >= ${s("de")} AND ${s("en")} >= ${s("es")} THEN 'en'
      |      WHEN ${s("fr")} >= ${s("de")} AND ${s("fr")} >= ${s("es")} THEN 'fr'
      |      WHEN ${s("de")} >= ${s("es")} THEN 'de'
      |      ELSE 'es' END) THEN 1 ELSE 0 END AS correct
      |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** Positional rolling-hash fingerprint over alnum tokens (engine-neutral
    * arithmetic hash — no engine-specific hash functions, so the oracle can
    * recompute it exactly). Docs with no alnum tokens fingerprint to 0. */
  def textFingerprint(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val toks = docs.select(col("doc_id"),
      regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0)).as("ws"))
    val fp = toks
      .select(col("doc_id"), posexplode(col("ws")).as(Seq("pos", "w")))
      .groupBy(col("doc_id"))
      .agg((sum((col("pos") + 1) *
        (length(col("w")) * 31 + ascii(substring(col("w"), 1, 1)))) % 1000000007L)
        .as("fingerprint"))
    docs.select(col("doc_id"), col("n_chars"))
      .join(fp, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chars"), coalesce(col("fingerprint"), lit(0L)).as("fingerprint"))
      .orderBy(col("doc_id"))
  }

  val textFingerprintSql: String =
    """WITH toks AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws FROM documents
      |), ex AS (
      |  SELECT doc_id, unnest(ws) AS w,
      |         unnest(range(1, len(ws) + 1)) AS pos
      |  FROM toks
      |), fp AS (
      |  SELECT doc_id,
      |    (sum(pos * (length(w) * 31 + ascii(substr(w, 1, 1)))) % 1000000007)::BIGINT AS fingerprint
      |  FROM ex GROUP BY 1
      |)
      |SELECT d.doc_id, d.n_chars, coalesce(f.fingerprint, 0) AS fingerprint
      |FROM documents d LEFT JOIN fp f USING (doc_id) ORDER BY d.doc_id""".stripMargin

  /** End-to-end corpus cleaning: quality threshold + token-count bounds +
    * exact-dedup keep-list (min doc_id per md5 clone set) — the composition
    * a training-data pipeline runs before tokenization. Each stage is one
    * of this module's operators; composed they still plan as one job
    * (filter → broadcast semi-join on the keep list). */
  def corpusClean(spark: SparkSession, dir: String): DataFrame = {
    val n     = length(col("text")).cast("double")
    val alpha = (n - length(regexp_replace(col("text"), "[A-Za-z]", ""))).cast("double")
    val punct = (n - length(regexp_replace(col("text"), "[^A-Za-z0-9\\s]", ""))).cast("double")
    val toks  = size(regexp_extract_all(col("text"), lit(wsTok), lit(0))).cast("double")
    val quality = round(lit(0.4) * (alpha / n)
      + lit(0.3) * least(lit(1.0), toks / lit(100.0))
      + lit(0.3) * (lit(1.0) - punct / n), 4)
    val docs = Tables.documents(spark, dir)
    val keep = docs
      .groupBy(md5(col("text").cast("binary")).as("h"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    docs
      .withColumn("quality_score", quality)
      .withColumn("ws_tokens", toks.cast("long"))
      .filter(col("quality_score") >= 0.72)
      .filter(col("ws_tokens").between(15, 2000))
      .join(keep, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("lang"), col("ws_tokens"), col("quality_score"))
      .orderBy(col("doc_id"))
  }

  val corpusCleanSql: String = {
    val n     = "length(text)::DOUBLE"
    val alpha = s"($n - length(regexp_replace(text, '[A-Za-z]', '', 'g')))"
    val punct = s"($n - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')))"
    val toks  = s"len(regexp_extract_all(text, '$wsTok'))::DOUBLE"
    s"""WITH scored AS (
      |  SELECT doc_id, lang,
      |    ($toks)::BIGINT AS ws_tokens,
      |    round(0.4 * ($alpha / $n) + 0.3 * least(1.0, $toks / 100.0)
      |      + 0.3 * (1.0 - $punct / $n), 4) AS quality_score
      |  FROM documents
      |), keep AS (
      |  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
      |)
      |SELECT s.doc_id, s.lang, s.ws_tokens, s.quality_score
      |FROM scored s SEMI JOIN keep k ON s.doc_id = k.doc_id
      |WHERE s.quality_score >= 0.72 AND s.ws_tokens BETWEEN 15 AND 2000
      |ORDER BY s.doc_id""".stripMargin
  }

  /** Deterministic train/val/test split via [[idHash]] of the stable doc_id
    * (reproducible across engines, runs and cluster sizes, and stable under
    * re-partitioning; the property a training pipeline needs for
    * leakage-free splits). 80/10/10. */
  def corpusSplit(spark: SparkSession, dir: String): DataFrame =
    corpusSplitOf(Tables.documents(spark, dir))

  def corpusSplitOf(docs: DataFrame): DataFrame = {
    val bucket = pmod(idHash(col("doc_id")), lit(100L))
    val split = when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    docs
      .withColumn("split", split)
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("n_chars")), 2).as("avg_chars"))
      .orderBy(col("split"), col("lang"))
  }

  val corpusSplitSql: String = {
    val b = s"${idHashSql("doc_id")} % 100"
    s"""WITH assigned AS (
      |  SELECT lang, n_chars,
      |    CASE WHEN $b < 80 THEN 'train'
      |         WHEN $b < 90 THEN 'val'
      |         ELSE 'test' END AS split
      |  FROM documents
      |)
      |SELECT split, lang, count(*) AS n_docs, round(avg(n_chars), 2) AS avg_chars
      |FROM assigned GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  /** Leakage-safe train/val/test split: assignment at DEDUP-CLUSTER
    * grain. A doc-grain hash split cannot prevent the classic eval-
    * contamination bug — a near-duplicate of a training document landing
    * in the test set (the duplication→memorization→inflated-eval chain
    * Lee et al. ACL'22 measure directly). Here the unit of assignment is
    * the [[Dedup.dedupClusters]] component (exact-hash + n-gram-Jaccard
    * edges; log-round CC at scale), hashed into 80/10/10, so every member
    * of a near-dup cluster shares fate BY CONSTRUCTION. The naive
    * doc-grain assignment ships beside it, with `leak_fixed` marking the
    * docs whose naive split differs inside a multi-doc cluster — the
    * measured contamination this op removes. Cost over the naive split is
    * exactly the dedup pass the pipeline already runs; the split itself
    * adds one map-side hash and a cluster-sized count window. */
  def corpusSplitSafe(spark: SparkSession, dir: String): DataFrame =
    // labels via the persisted artifact: the dedup pass runs once per
    // corpus; split assignment is a downstream consumer of it, not a
    // second derivation (was the round's slowest non-baseline gate)
    corpusSplitSafeLabeled(
      Dedup.clusterLabels(spark, dir).select(col("doc_id"), col("cluster_id")))

  def corpusSplitSafeOf(docs: DataFrame): DataFrame =
    corpusSplitSafeLabeled(
      Dedup.dedupClustersOf(docs).select(col("doc_id"), col("cluster_id")))

  private def corpusSplitSafeLabeled(cl: DataFrame): DataFrame = {
    def splitOf(c: Column): Column = {
      val b = pmod(idHash(c), lit(100L))
      when(b < 80, "train").when(b < 90, "val").otherwise("test")
    }
    // cluster-sized window: dup clusters are small by construction
    val wc = Window.partitionBy(col("cluster_id"))
    cl.withColumn("split", splitOf(col("cluster_id")))
      .withColumn("naive_split", splitOf(col("doc_id")))
      .withColumn("leak_fixed",
        count(lit(1)).over(wc) > 1 && col("naive_split") =!= col("split"))
      .select(col("doc_id"), col("cluster_id"), col("split"),
        col("naive_split"), col("leak_fixed"))
      .orderBy(col("doc_id"))
  }

  val corpusSplitSafeSql: String = {
    def splitSql(ref: String) = {
      val b = s"${idHashSql(ref)} % 100"
      s"CASE WHEN $b < 80 THEN 'train' WHEN $b < 90 THEN 'val' ELSE 'test' END"
    }
    Dedup.dedupClustersSqlCte +
      s""", sz AS (
         |  SELECT cluster_id, count(*) AS csize FROM cl GROUP BY 1
         |), asg AS (
         |  SELECT c.doc_id, c.cluster_id,
         |    ${splitSql("c.cluster_id")} AS split,
         |    ${splitSql("c.doc_id")} AS naive_split,
         |    s.csize
         |  FROM cl c JOIN sz s USING (cluster_id)
         |)
         |SELECT doc_id, cluster_id, split, naive_split,
         |  (csize > 1 AND naive_split <> split) AS leak_fixed
         |FROM asg ORDER BY doc_id""".stripMargin
  }

  // PII patterns kept to the Java∩RE2 common subset so the oracle computes
  // identical matches (no lookbehind, no backreferences).
  private val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val urlRe   = "https?://[^\\s]+"
  private val ipRe    = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  private val phoneRe = "\\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\\b"

  /** PII scrub: count and redact emails/URLs/IPs/phone-shaped strings —
    * the redaction pass a training corpus runs before tokenization. The
    * redacted text is emitted as an md5 (the gate hashes it; carrying the
    * full redacted text through the compare adds nothing). Replacement
    * order is fixed (email → url → ip → phone) and identical in the
    * oracle, so the hash is deterministic cross-engine. */
  def corpusRedact(spark: SparkSession, dir: String): DataFrame = {
    val redacted =
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(col("text"), emailRe, "<EMAIL>"),
            urlRe, "<URL>"),
          ipRe, "<IP>"),
        phoneRe, "<PHONE>")
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        size(regexp_extract_all(col("text"), lit(emailRe), lit(0))).cast("long").as("n_emails"),
        size(regexp_extract_all(col("text"), lit(urlRe), lit(0))).cast("long").as("n_urls"),
        size(regexp_extract_all(col("text"), lit(ipRe), lit(0))).cast("long").as("n_ips"),
        size(regexp_extract_all(col("text"), lit(phoneRe), lit(0))).cast("long").as("n_phones"),
        md5(redacted.cast("binary")).as("redacted_hash"))
      .orderBy(col("doc_id"))
  }

  val corpusRedactSql: String =
    s"""SELECT doc_id,
      | len(regexp_extract_all(text, '$emailRe')) AS n_emails,
      | len(regexp_extract_all(text, '$urlRe')) AS n_urls,
      | len(regexp_extract_all(text, '$ipRe')) AS n_ips,
      | len(regexp_extract_all(text, '$phoneRe')) AS n_phones,
      | md5(regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
      |   '$emailRe', '<EMAIL>', 'g'),
      |   '$urlRe', '<URL>', 'g'),
      |   '$ipRe', '<IP>', 'g'),
      |   '$phoneRe', '<PHONE>', 'g')) AS redacted_hash
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Balanced stratified downsampling: each language keeps a deterministic
    * hash-selected subset sized to the SMALLEST language's count — the
    * rebalancing step a multilingual training mix runs so one dominant
    * language doesn't drown the rest. Selection is the same engine-portable
    * [[idHash]] as corpus_split (reproducible across engines, runs, and
    * partitionings); per-language counts are a tiny aggregate broadcast
    * back onto the scan, not a global sort. */
  def corpusSample(spark: SparkSession, dir: String): DataFrame =
    corpusSampleOf(Tables.documents(spark, dir))

  def corpusSampleOf(docs: DataFrame): DataFrame = {
    val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
    val minCnt = counts.agg(min(col("n_docs")).as("min_docs"))
    val bucket = pmod(idHash(col("doc_id")), lit(1000000L))
    docs
      .join(broadcast(counts), "lang")
      .crossJoin(broadcast(minCnt))
      .withColumn("keep",
        bucket < col("min_docs") * lit(1000000L) / col("n_docs"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_sampled"))
      .orderBy(col("lang"))
  }

  val corpusSampleSql: String =
    s"""WITH counts AS (
      |  SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1
      |), mn AS (SELECT min(n_docs) AS min_docs FROM counts)
      |SELECT d.lang, count(*) AS n_docs,
      |  CAST(sum(CASE WHEN ${idHashSql("d.doc_id")} % 1000000
      |             < mn.min_docs * 1000000 / c.n_docs
      |      THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
      |FROM documents d JOIN counts c ON d.lang = c.lang CROSS JOIN mn
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Corpus card: per (lang, source) document/token/char statistics with
    * ROLLUP subtotals (per lang, and the corpus total) — the standard
    * reporting rollup a dataset release ships. One pass: the rollup's
    * grouping sets partial-aggregate before the single shuffle like any
    * groupBy; token counts ride the same whitespace tokenizer as
    * corpus_pack. Gate columns are integral sums (count/sum of BIGINT) so
    * the cross-engine hash is exact. */
  def corpusStats(spark: SparkSession, dir: String): DataFrame = {
    val toks = size(regexp_extract_all(col("text"), lit(wsTok), lit(0))).cast("long")
    Tables.documents(spark, dir)
      .select(col("lang"), col("source"), toks.as("n_toks"),
        length(col("text")).cast("long").as("n_chars"))
      .rollup(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("n_tokens"),
        sum(col("n_chars")).as("n_chars"))
      .select(coalesce(col("lang"), lit("ALL")).as("lang"),
        coalesce(col("source"), lit("ALL")).as("source"),
        col("n_docs"), col("n_tokens"), col("n_chars"))
      .orderBy(col("lang"), col("source"))
  }

  val corpusStatsSql: String =
    s"""SELECT coalesce(lang, 'ALL') AS lang, coalesce(source, 'ALL') AS source,
      |  count(*) AS n_docs,
      |  CAST(sum(len(regexp_extract_all(text, '$wsTok'))) AS BIGINT) AS n_tokens,
      |  CAST(sum(len(text)) AS BIGINT) AS n_chars
      |FROM documents
      |GROUP BY ROLLUP(lang, source)
      |ORDER BY 1, 2""".stripMargin

  /** Temperature-scaled source mixture (α = 0.5): the standard rebalancing
    * a multi-source training mix runs — each source's share of the output
    * is proportional to n_s^α, so dominant sources are downsampled and
    * small ones upweighted RELATIVELY without exploding their absolute
    * count (α = 1 keeps raw proportions, α = 0 forces uniform). Target
    * size is half the corpus. Selection is the same engine-portable
    * [[idHash]] as corpus_split/corpus_sample.
    *
    * Cross-engine determinism: source weights are rounded to INTEGRAL
    * sqrt·1000 units so their total is an order-independent integer sum
    * (a Σ of raw sqrt doubles would depend on summation order); the few
    * remaining float ops (two divisions, one multiply) are IEEE-exact on
    * identical inputs with an identical evaluation tree in both engines. */
  def corpusMix(spark: SparkSession, dir: String): DataFrame =
    corpusMixOf(Tables.documents(spark, dir))

  def corpusMixOf(docs: DataFrame): DataFrame = {
    val counts = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("w", round(sqrt(col("n_docs").cast("double")) * 1000).cast("long"))
    val tot = counts.agg(sum(col("n_docs")).as("n_total"), sum(col("w")).as("w_total"))
    val rate = least(lit(1.0),
      col("w").cast("double") / col("w_total").cast("double") *
        (col("n_total").cast("double") / lit(2.0)) / col("n_docs").cast("double"))
    docs
      .join(broadcast(counts), "source")
      .crossJoin(broadcast(tot))
      .withColumn("keep",
        pmod(idHash(col("doc_id")), lit(1000000L)).cast("double")
          < rate * lit(1000000.0))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_sampled"))
      .orderBy(col("source"))
  }

  val corpusMixSql: String =
    s"""WITH counts AS (
      |  SELECT source, count(*) AS n_docs,
      |    CAST(round(sqrt(count(*)::DOUBLE) * 1000, 0) AS BIGINT) AS w
      |  FROM documents GROUP BY 1
      |), tot AS (
      |  SELECT CAST(sum(n_docs) AS BIGINT) AS n_total,
      |         CAST(sum(w) AS BIGINT) AS w_total
      |  FROM counts
      |)
      |SELECT d.source, count(*) AS n_docs,
      |  CAST(sum(CASE WHEN ${idHashSql("d.doc_id")} % 1000000
      |         < least(1.0, c.w::DOUBLE / t.w_total::DOUBLE
      |                      * (t.n_total::DOUBLE / 2.0) / c.n_docs::DOUBLE)
      |           * 1000000.0
      |       THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
      |FROM documents d JOIN counts c USING (source) CROSS JOIN tot t
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Temperature-scaled mixture generalized over α AND the mixing key:
    * real mixing sweeps α and rebalances per (lang × source) cell, not per
    * source alone — a web-heavy English corpus and a web-heavy French one
    * are different cells with different depths. Cell shares ∝ n_g^α toward
    * a half-corpus target, rates capped at availability; same plan shape
    * as [[corpusMixOf]] (two tiny broadcast aggregates over one corpus
    * stream), so the 1×→10× sub-linear ScaleProbe measurement carries.
    *
    * α arrives in TENTHS (3 → 0.3) so gate keys stay integral. Weights
    * are integral round(n^α·1000) units like the α=0.5 form; n^α for
    * α ∉ {0, 0.5, 1} needs pow(), which unlike sqrt is not guaranteed
    * correctly-rounded identically across engines — a weight is only at
    * risk when pow(n,α)·1000 lands within an ulp of a .5 boundary, and
    * TemperedMixSpec pins a ≥1e-6 margin for every gate-corpus cell count
    * (the gate data is fixed; the margin makes the cross-engine hash a
    * property, not luck). */
  def corpusMixTempered(docs: DataFrame, alphaTenths: Int,
                        groupCols: Seq[String] = Seq("lang", "source")): DataFrame = {
    require(alphaTenths >= 0 && alphaTenths <= 10, "alphaTenths in [0, 10]")
    val alpha = alphaTenths / 10.0
    val gcols = groupCols.map(col)
    val counts = docs.groupBy(gcols: _*)
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("w",
        round(pow(col("n_docs").cast("double"), lit(alpha)) * 1000).cast("long"))
    val tot = counts.agg(sum(col("n_docs")).as("n_total"), sum(col("w")).as("w_total"))
    val rate = least(lit(1.0),
      col("w").cast("double") / col("w_total").cast("double") *
        (col("n_total").cast("double") / lit(2.0)) / col("n_docs").cast("double"))
    docs
      .join(broadcast(counts), groupCols)
      .crossJoin(broadcast(tot))
      .withColumn("keep",
        pmod(idHash(col("doc_id")), lit(1000000L)).cast("double")
          < rate * lit(1000000.0))
      .groupBy(gcols: _*)
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_sampled"))
      .orderBy(gcols: _*)
  }

  def corpusMixTemperedSql(alphaTenths: Int): String = {
    val alpha = alphaTenths / 10.0
    s"""WITH counts AS (
      |  SELECT lang, source, count(*) AS n_docs,
      |    CAST(round(pow(count(*)::DOUBLE, $alpha) * 1000, 0) AS BIGINT) AS w
      |  FROM documents GROUP BY 1, 2
      |), tot AS (
      |  SELECT CAST(sum(n_docs) AS BIGINT) AS n_total,
      |         CAST(sum(w) AS BIGINT) AS w_total
      |  FROM counts
      |)
      |SELECT d.lang, d.source, count(*) AS n_docs,
      |  CAST(sum(CASE WHEN ${idHashSql("d.doc_id")} % 1000000
      |         < least(1.0, c.w::DOUBLE / t.w_total::DOUBLE
      |                      * (t.n_total::DOUBLE / 2.0) / c.n_docs::DOUBLE)
      |           * 1000000.0
      |       THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
      |FROM documents d JOIN counts c USING (lang, source) CROSS JOIN tot t
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  /** Sequence packing: assign docs to fixed token-budget bins (4096) the
    * way a training pipeline packs documents into context windows. Packing
    * is greedy by doc_id WITHIN deterministic hash shards — per-shard
    * running sums parallelize across shards (a single global order would
    * serialize the cumsum), which is how packing actually runs at corpus
    * scale: pack per shard, feed shards to loaders independently. */
  def corpusPack(spark: SparkSession, dir: String): DataFrame =
    corpusPackSharded(spark, dir, numShards = 64L)

  /** `numShards` bounds cumsum parallelism — the gate uses 64; a 100 TB
    * corpus raises it (e.g. ~1 shard per few hundred MB) since shards are
    * fully independent. */
  def corpusPackSharded(spark: SparkSession, dir: String, numShards: Long): DataFrame = {
    val budget = 4096L
    val toks = size(regexp_extract_all(col("text"), lit(wsTok), lit(0))).cast("long")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        pmod(idHash(col("doc_id")), lit(numShards)).as("shard"),
        toks.as("n_toks"))
      .withColumn("cum", sum(col("n_toks")).over(w))
      .select(col("doc_id"), col("shard"), col("n_toks"),
        floor((col("cum") - col("n_toks")) / budget).as("bin_id"))
      .orderBy(col("doc_id"))
  }

  val corpusPackSql: String =
    s"""SELECT doc_id, shard, n_toks,
      |  CAST(floor((cum - n_toks) / 4096) AS BIGINT) AS bin_id
      |FROM (
      |  SELECT doc_id, ${idHashSql("doc_id")} % 64 AS shard,
      |    len(regexp_extract_all(text, '$wsTok')) AS n_toks,
      |    sum(len(regexp_extract_all(text, '$wsTok')))
      |      OVER (PARTITION BY ${idHashSql("doc_id")} % 64
      |            ORDER BY doc_id) AS cum
      |  FROM documents
      |) ORDER BY doc_id""".stripMargin

  /** Per-doc readability signals — the cheap fluency-complexity rung next
    * to text_quality's surface ratios (corpus curation mixes by reading
    * level; boilerplate and keyword-stuffed spam score degenerate here):
    * sentence count (terminator runs), word count, long-word count (≥7
    * chars, the LIX convention), vowel-group count (the classic syllable
    * proxy), and the LIX readability index in exact integer centi-units —
    * words/sentence + 100·longwords/words, both terms integer-divided so
    * the gate never touches a float. All regexes in the Java∩RE2 common
    * subset; one narrow no-shuffle pass. */
  def textReadability(spark: SparkSession, dir: String): DataFrame =
    textReadabilityOf(Tables.documents(spark, dir))

  def textReadabilityOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0))).cast("long").as("n_sentences"),
        size(regexp_extract_all(col("text"), lit(wsTok), lit(0))).cast("long").as("n_words"),
        size(regexp_extract_all(col("text"), lit("\\S{7,}"), lit(0))).cast("long").as("n_long_words"),
        size(regexp_extract_all(lower(col("text")), lit("[aeiou]+"), lit(0))).cast("long").as("n_vowel_groups"))
      .withColumn("lix_e2",
        expr("n_words * 100 DIV greatest(1L, n_sentences) " +
          "+ n_long_words * 10000 DIV greatest(1L, n_words)"))
      .orderBy(col("doc_id"))

  val textReadabilitySql: String =
    s"""SELECT doc_id,
      |  len(regexp_extract_all(text, '[.!?]+'))::BIGINT AS n_sentences,
      |  len(regexp_extract_all(text, '$wsTok'))::BIGINT AS n_words,
      |  len(regexp_extract_all(text, '\\S{7,}'))::BIGINT AS n_long_words,
      |  len(regexp_extract_all(lower(text), '[aeiou]+'))::BIGINT AS n_vowel_groups,
      |  CAST(len(regexp_extract_all(text, '$wsTok')) * 100
      |       // greatest(1, len(regexp_extract_all(text, '[.!?]+')))
      |     + len(regexp_extract_all(text, '\\S{7,}')) * 10000
      |       // greatest(1, len(regexp_extract_all(text, '$wsTok'))) AS BIGINT) AS lix_e2
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Token-window document chunking — the pass that turns documents into
    * model-sized pieces for pretraining ingestion or retrieval indexing:
    * sliding windows of `window` tokens at `stride` (overlap = window −
    * stride, so no boundary context is lost), short docs one whole-doc
    * chunk, every doc covered end-to-end (chunk i covers [i·stride,
    * i·stride + window); the last chunk is the first to reach the end).
    * Emits (doc_id, chunk_id, start_tok, n_chunk_toks, chunk_hash) — the
    * md5 of the re-joined token slice hash-gates the actual chunk CONTENT
    * cross-engine, not just the arithmetic (the corpus_dedup_spans
    * kept-hash discipline).
    *
    * Scale shape: one narrow corpus scan, chunk fan-out bounded by
    * n_toks/stride per doc, no shuffle until the gate ORDER BY (which
    * production drops) — chunking is embarrassingly doc-local, which is
    * why it belongs BEFORE any exchange in an ingestion DAG. */
  def corpusChunk(spark: SparkSession, dir: String): DataFrame =
    corpusChunkOf(Tables.documents(spark, dir), window = 512L, stride = 384L)

  def corpusChunkOf(docs: DataFrame, window: Long, stride: Long): DataFrame = {
    require(stride > 0 && stride <= window, "0 < stride <= window")
    docs
      .select(col("doc_id"),
        regexp_extract_all(col("text"), lit(wsTok), lit(0)).as("ws"))
      .withColumn("n_toks", size(col("ws")).cast("long"))
      .withColumn("n_chunks", expr(
        s"CASE WHEN n_toks <= $window THEN 1L " +
        s"ELSE (n_toks - $window + ${stride - 1}L) DIV ${stride}L + 1L END"))
      .select(col("doc_id"), col("ws"), col("n_toks"),
        explode(sequence(lit(0L), col("n_chunks") - 1L)).as("chunk_id"))
      .withColumn("start_tok", col("chunk_id") * lit(stride))
      .withColumn("n_chunk_toks", least(lit(window), col("n_toks") - col("start_tok")))
      .select(col("doc_id"), col("chunk_id"), col("start_tok"), col("n_chunk_toks"),
        md5(array_join(
          slice(col("ws"), (col("start_tok") + 1L).cast("int"),
            col("n_chunk_toks").cast("int")), " ").cast("binary")).as("chunk_hash"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  val corpusChunkSql: String =
    s"""WITH tk AS (
      |  SELECT doc_id, regexp_extract_all(text, '$wsTok') AS ws FROM documents
      |), b AS (
      |  SELECT doc_id, ws, len(ws)::BIGINT AS n_toks,
      |    CASE WHEN len(ws) <= 512 THEN 1
      |         ELSE (len(ws)::BIGINT - 512 + 383) // 384 + 1 END AS n_chunks
      |  FROM tk
      |), c AS (
      |  SELECT doc_id, ws, n_toks, unnest(range(0, n_chunks)) AS chunk_id FROM b
      |)
      |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
      |  CAST(chunk_id * 384 AS BIGINT) AS start_tok,
      |  CAST(least(512, n_toks - chunk_id * 384) AS BIGINT) AS n_chunk_toks,
      |  md5(array_to_string(
      |    ws[(chunk_id * 384 + 1):(chunk_id * 384 + least(512, n_toks - chunk_id * 384))],
      |    ' ')) AS chunk_hash
      |FROM c ORDER BY doc_id, chunk_id""".stripMargin

  /** Cross-document duplicated-span removal: every token position covered
    * by a word 8-gram that also appears in ANOTHER document is removed —
    * the fixed-granularity distributed form of exact-substring train-data
    * dedup (suffix-array substring dedup needs a global order; corpus-scale
    * pipelines run precisely this n-gram-keyed approximation instead).
    * Output per doc: token counts, duplicated-span starts, covered-token
    * count, and the md5 of the kept (uncovered) token sequence.
    *
    * Scale shape — linear, never pairwise: span keys are md5'd 8-gram
    * strings built with 7 `lead`s in ONE per-doc window pass; corpus doc
    * frequency is a (key, doc) distinct + count (shuffles by key hash);
    * flags join back by key; coverage is a bounded running `max` window
    * ([pos−7, pos]) over the same per-doc sort. No candidate pairs
    * materialize anywhere — duplicate detection rides counts, so one
    * boilerplate 8-gram shared by k docs costs k rows, not k². */
  def corpusDedupSpans(spark: SparkSession, dir: String): DataFrame =
    corpusDedupSpansOf(Tables.documents(spark, dir))

  def corpusDedupSpansOf(docs: DataFrame): DataFrame = {
    val NGram = 8
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    val tok = docs.select(col("doc_id"),
      posexplode(regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0)))
        .as(Seq("pos", "w")))
    val gramParts = col("w") +: (1 until NGram).map(i => lead(col("w"), i).over(wOrd))
    val withGram = tok.withColumn("gram",
      when(lead(col("w"), NGram - 1).over(wOrd).isNotNull,
        md5(concat_ws(" ", gramParts: _*).cast("binary"))))
    val gdf = withGram.filter(col("gram").isNotNull)
      .select(col("gram"), col("doc_id")).distinct()
      .groupBy(col("gram")).agg(count(lit(1)).as("gdf"))
    val wCov = wOrd.rowsBetween(-(NGram - 1), 0)
    val covered = withGram.join(gdf, Seq("gram"), "left")
      .withColumn("dup_start", when(col("gdf") > 1, 1).otherwise(0))
      .withColumn("covered", max(col("dup_start")).over(wCov))
    val agg = covered.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_toks"),
        sum(col("dup_start")).cast("long").as("n_dup_starts"),
        sum(col("covered")).cast("long").as("n_covered"),
        md5(concat_ws(" ",
          transform(
            array_sort(collect_list(
              when(col("covered") === 0, struct(col("pos"), col("w"))))),
            s => s.getField("w"))).cast("binary")).as("kept_hash"))
    docs.select(col("doc_id"))
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_toks"), lit(0L)).as("n_toks"),
        coalesce(col("n_dup_starts"), lit(0L)).as("n_dup_starts"),
        coalesce(col("n_covered"), lit(0L)).as("n_covered"),
        coalesce(col("kept_hash"), md5(lit("").cast("binary"))).as("kept_hash"))
      .orderBy(col("doc_id"))
  }

  val corpusDedupSpansSql: String = {
    val leads = (1 to 7).map(i => s"lead(w, $i) OVER wd").mkString(", ")
    s"""WITH tk AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws FROM documents
      |), tok AS (
      |  SELECT doc_id, unnest(ws) AS w, unnest(range(0, len(ws))) AS pos FROM tk
      |), gram AS (
      |  SELECT doc_id, pos, w,
      |    CASE WHEN lead(w, 7) OVER wd IS NOT NULL
      |         THEN md5(concat_ws(' ', w, $leads)) END AS gram
      |  FROM tok WINDOW wd AS (PARTITION BY doc_id ORDER BY pos)
      |), gdf AS (
      |  SELECT gram, count(DISTINCT doc_id) AS gdf
      |  FROM gram WHERE gram IS NOT NULL GROUP BY 1
      |), cov AS (
      |  SELECT g.doc_id, g.pos, g.w,
      |    CASE WHEN d.gdf > 1 THEN 1 ELSE 0 END AS dup_start,
      |    max(CASE WHEN d.gdf > 1 THEN 1 ELSE 0 END) OVER (
      |      PARTITION BY g.doc_id ORDER BY g.pos
      |      ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS covered
      |  FROM gram g LEFT JOIN gdf d ON g.gram = d.gram
      |), agg AS (
      |  SELECT doc_id, count(*) AS n_toks,
      |    CAST(sum(dup_start) AS BIGINT) AS n_dup_starts,
      |    CAST(sum(covered) AS BIGINT) AS n_covered,
      |    md5(coalesce(string_agg(w, ' ' ORDER BY pos) FILTER (covered = 0), ''))
      |      AS kept_hash
      |  FROM cov GROUP BY 1
      |)
      |SELECT d.doc_id,
      |  coalesce(a.n_toks, 0) AS n_toks,
      |  coalesce(a.n_dup_starts, 0) AS n_dup_starts,
      |  coalesce(a.n_covered, 0) AS n_covered,
      |  coalesce(a.kept_hash, md5('')) AS kept_hash
      |FROM documents d LEFT JOIN agg a USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin
  }

  /** Unigram log-probability score per document: average ln(corpus
    * frequency) of a doc's tokens — the language-model-proxy quality signal
    * (CCNet-style) that flags gibberish/rare-token documents without an
    * actual LM. Two aggregations: corpus term frequencies (shuffle by
    * token), then a per-doc sum over the token↔frequency join. Each token's
    * log-probability is rounded to integral 1e-4 units BEFORE the sum
    * (integer sums are order-independent and exact in both engines; rounding
    * after a float aggregation can flip the last unit on a .5 boundary under
    * a different summation order). The per-doc average = sum_logprob_e4 /
    * n_toks / 1e4. */
  def textUnigramLogprob(spark: SparkSession, dir: String): DataFrame = {
    val tok = Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0))).as("w"))
    val freq = tok.groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    val total = freq.agg(sum(col("cnt")).cast("double").as("total"))
    tok.join(freq, "w")
      .crossJoin(broadcast(total))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_toks"),
        sum(round(log(col("cnt") / col("total")) * 10000).cast("long"))
          .as("sum_logprob_e4"))
      .orderBy(col("doc_id"))
  }

  val textUnigramLogprobSql: String =
    """WITH tok AS (
      |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
      |  FROM documents
      |), freq AS (
      |  SELECT w, count(*) AS cnt FROM tok GROUP BY 1
      |), tot AS (
      |  SELECT sum(cnt)::DOUBLE AS total FROM freq
      |)
      |SELECT doc_id, count(*) AS n_toks,
      |  CAST(sum(CAST(round(ln(cnt / total) * 10000, 0) AS BIGINT)) AS BIGINT)
      |    AS sum_logprob_e4
      |FROM tok JOIN freq USING (w) CROSS JOIN tot
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Bigram-LM fluency score per document (the KenLM-filter signal one
    * rung up from [[textUnigramLogprob]]): Σ ln p(w₂|w₁) over the doc's
    * adjacent token pairs, with p(w₂|w₁) = corpus bigram count / count of
    * bigrams starting with w₁ — gibberish has plausible unigrams but
    * improbable transitions, so this separates shuffled-word noise the
    * unigram score cannot see. No smoothing: only observed bigrams are
    * scored, so every ratio is a positive rational of two corpus counts
    * (cross-engine exact before the ln; the per-element e4 rounding +
    * LogGateMarginSpec margin discipline covers the ln itself).
    *
    * Shape: the classic two-pass LM scoring. Pass 1 builds the corpus
    * bigram count table and PINS it (localCheckpoint — it is the "model"
    * artifact of this query; left as lineage, the w₁-denominator branch
    * and the scoring join would each rebuild it, and the plan would scan
    * and re-window the token stream three times instead of two). The w₁
    * denominators are then a cheap partial aggregate OF the pinned
    * counts, and pass 2 rescans the documents once, joining both count
    * sides (broadcast-able while the bigram vocabulary is small; Catalyst
    * demotes to a shuffle join when it is not). Pairing is a lead(1)
    * window per (doc_id, pos). Docs under 2 tokens have no bigrams and
    * drop out in both engines. */
  def textBigramLogprob(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    val bg = Tables.documents(spark, dir)
      .select(col("doc_id"),
        posexplode(regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0)))
          .as(Seq("pos", "w")))
      .withColumn("w2", lead(col("w"), 1).over(w))
      .filter(col("w2").isNotNull)
    val freq2 = bg.groupBy(col("w"), col("w2")).agg(count(lit(1)).as("cnt2"))
      .localCheckpoint()
    val freq1 = freq2.groupBy(col("w")).agg(sum(col("cnt2")).as("cnt1"))
    bg.join(freq2, Seq("w", "w2")).join(freq1, Seq("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(round(log(col("cnt2").cast("double") / col("cnt1")) * 10000).cast("long"))
          .as("sum_logprob_e4"))
      .orderBy(col("doc_id"))
  }

  val textBigramLogprobSql: String =
    """WITH tok AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
      |  FROM documents
      |), bg AS (
      |  SELECT doc_id,
      |    unnest(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])) AS b
      |  FROM tok WHERE len(ws) >= 2
      |), freq2 AS (
      |  SELECT b, count(*) AS cnt2 FROM bg GROUP BY 1
      |), freq1 AS (
      |  SELECT split_part(b, ' ', 1) AS w1, CAST(sum(cnt2) AS BIGINT) AS cnt1
      |  FROM freq2 GROUP BY 1
      |)
      |SELECT doc_id, count(*) AS n_bigrams,
      |  CAST(sum(CAST(round(ln(cnt2::DOUBLE / cnt1) * 10000, 0) AS BIGINT)) AS BIGINT)
      |    AS sum_logprob_e4
      |FROM bg JOIN freq2 USING (b)
      |JOIN freq1 ON split_part(b, ' ', 1) = w1
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Hashed-feature importance weight per document (DSIR-style data
    * selection): score(d) = Σ_tokens ln(p_target(bucket) / p_raw(bucket)),
    * where token buckets are a 512-bucket hash of the word and the two
    * distributions are Laplace-smoothed bucket frequencies of the TARGET
    * domain (here: lang = 'en') vs the whole corpus. High scores = "looks
    * like the target domain"; the weight drives importance resampling of a
    * raw crawl toward a curated distribution.
    *
    * Plan shape: ONE aggregation computes both distributions (rcnt +
    * conditional tcnt per bucket — no second corpus pass for the target),
    * the 512-row score table broadcasts back onto the token stream, and the
    * per-doc sum shuffles by doc_id. Bucket hashing is the native
    * codegen'd `char_poly_hash` (DuckDB-mirrored). Smoothed ratios are
    * formed in DOUBLE before multiplying (identical IEEE tree in both
    * engines; BIGINT products would overflow at corpus-scale counts), and
    * each token's log-ratio is rounded to integral 1e-4 units BEFORE the
    * per-doc sum — order-independent integer sums, the unigram-logprob
    * gate discipline. */
  def corpusDsir(spark: SparkSession, dir: String): DataFrame =
    corpusDsirOf(Tables.documents(spark, dir))

  def corpusDsirOf(docs: DataFrame): DataFrame = {
    val B = 512L
    val tok = docs.select(col("doc_id"), col("lang"),
      explode(regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0))).as("w"))
      .select(col("doc_id"), col("lang"),
        pmod(call_function("char_poly_hash", col("w")), lit(B)).as("b"))
    val bstats = tok.groupBy(col("b")).agg(
      count(lit(1)).as("rcnt"),
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("tcnt"))
    val tot = bstats.agg(sum(col("rcnt")).as("rtot"), sum(col("tcnt")).as("ttot"))
    val scores = bstats.crossJoin(broadcast(tot))
      .select(col("b"),
        round(log(
          ((col("tcnt") + lit(1L)).cast("double") * (col("rtot") + lit(B)).cast("double")) /
          ((col("rcnt") + lit(1L)).cast("double") * (col("ttot") + lit(B)).cast("double")))
          * 10000).cast("long").as("s_e4"))
    val perDoc = tok.join(broadcast(scores), "b")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_toks"), sum(col("s_e4")).as("dsir_e4"))
    docs.select(col("doc_id"), col("lang"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"),
        coalesce(col("n_toks"), lit(0L)).as("n_toks"),
        coalesce(col("dsir_e4"), lit(0L)).as("dsir_e4"))
      .orderBy(col("doc_id"))
  }

  val corpusDsirSql: String = {
    val tokHash =
      "list_reduce(list_prepend(7::BIGINT, list_transform(string_split_regex(w, ''), c -> ascii(c)::BIGINT)), (acc, x) -> (acc*31 + x) % 1000000007)"
    s"""WITH tok AS (
      |  SELECT doc_id, lang, $tokHash % 512 AS b
      |  FROM (SELECT doc_id, lang,
      |          unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
      |        FROM documents)
      |), bstats AS (
      |  SELECT b, count(*) AS rcnt,
      |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS tcnt
      |  FROM tok GROUP BY 1
      |), tot AS (
      |  SELECT CAST(sum(rcnt) AS BIGINT) AS rtot,
      |         CAST(sum(tcnt) AS BIGINT) AS ttot
      |  FROM bstats
      |), scores AS (
      |  SELECT b,
      |    CAST(round(ln(((tcnt + 1)::DOUBLE * (rtot + 512)::DOUBLE)
      |                / ((rcnt + 1)::DOUBLE * (ttot + 512)::DOUBLE)) * 10000, 0)
      |         AS BIGINT) AS s_e4
      |  FROM bstats CROSS JOIN tot
      |), per_doc AS (
      |  SELECT doc_id, count(*) AS n_toks, CAST(sum(s_e4) AS BIGINT) AS dsir_e4
      |  FROM tok JOIN scores USING (b) GROUP BY 1
      |)
      |SELECT d.doc_id, d.lang,
      |  coalesce(p.n_toks, 0) AS n_toks,
      |  coalesce(p.dsir_e4, 0) AS dsir_e4
      |FROM documents d LEFT JOIN per_doc p USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin
  }

  /** Repetition signals per document (the Gopher-style quality gates a
    * training pipeline filters on: templated/spammy docs repeat n-grams):
    * duplicate-bigram fraction (1 − distinct/total) and top-bigram
    * fraction (most frequent bigram's share). Bigram strings exist only
    * inside the aggregation (explode → two stacked partial-aggregating
    * groupBys — no per-doc array carried through a shuffle). Gate columns
    * are integral: counts as BIGINT, ratios as round(a·10⁴/b) with exact
    * integer numerators, so the cross-engine hash is boundary-safe. */
  def textRepetition(spark: SparkSession, dir: String): DataFrame = {
    val ws = regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0))
    val bigrams = zip_with(ws, slice(ws, lit(2), greatest(size(ws) - 1, lit(0))),
      (a, b) => concat_ws(" ", a, b))
    val valid = when(size(ws) >= 2, slice(bigrams, lit(1), size(ws) - 1))
      .otherwise(array().cast("array<string>"))
    val docs = Tables.documents(spark, dir)
    val stats = docs
      .select(col("doc_id"), explode(valid).as("bigram"))
      .groupBy(col("doc_id"), col("bigram"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_bigrams"),
        count(lit(1)).as("n_distinct"),
        max(col("cnt")).as("top_cnt"))
    docs.select(col("doc_id"))
      .join(stats, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_distinct"), lit(0L)).as("n_distinct"),
        coalesce(round((col("n_bigrams") - col("n_distinct")) * lit(10000.0)
          / col("n_bigrams")).cast("long"), lit(0L)).as("dup_frac_e4"),
        coalesce(round(col("top_cnt") * lit(10000.0)
          / col("n_bigrams")).cast("long"), lit(0L)).as("top_frac_e4"))
      .orderBy(col("doc_id"))
  }

  val textRepetitionSql: String =
    """WITH tk AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws FROM documents
      |), bg AS (
      |  SELECT doc_id, unnest(CASE WHEN len(ws) >= 2
      |    THEN list_transform(range(1, len(ws)), i -> array_to_string(ws[i:i+1], ' '))
      |    ELSE [] END) AS bigram
      |  FROM tk
      |), cnts AS (
      |  SELECT doc_id, bigram, count(*) AS cnt FROM bg GROUP BY 1, 2
      |), stats AS (
      |  SELECT doc_id,
      |    CAST(sum(cnt) AS BIGINT) AS n_bigrams,
      |    count(*) AS n_distinct,
      |    CAST(max(cnt) AS BIGINT) AS top_cnt
      |  FROM cnts GROUP BY 1
      |)
      |SELECT d.doc_id,
      |  coalesce(s.n_bigrams, 0) AS n_bigrams,
      |  coalesce(s.n_distinct, 0) AS n_distinct,
      |  coalesce(CAST(round((s.n_bigrams - s.n_distinct) * 10000.0 / s.n_bigrams, 0) AS BIGINT), 0) AS dup_frac_e4,
      |  coalesce(CAST(round(s.top_cnt * 10000.0 / s.n_bigrams, 0) AS BIGINT), 0) AS top_frac_e4
      |FROM documents d LEFT JOIN stats s USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin

  /** Top-10 word bigrams per language — the corpus statistic a tokenizer/
    * vocab build starts from. Bigram strings exist only inside the
    * aggregation (explode → groupBy count with map-side partials); ties
    * break lexicographically so the top-k is deterministic.
    *
    * Two-phase top-k: a single rank window partitioned by `lang` would
    * sort an ENTIRE language's bigram vocabulary in one task (corpus-scale
    * at 100×). Phase 1 ranks within (lang, xxhash64(bigram) % 1024)
    * buckets — each bigram lives in exactly one bucket, so any global
    * top-10 bigram has at most 9 bucket-mates ordered above it and
    * provably survives the per-bucket top-10. Phase 2 ranks the ≤10·1024
    * candidates per language — a bounded sort at any corpus size. */
  def textNgramTopk(spark: SparkSession, dir: String): DataFrame =
    textNgramTopkOf(Tables.documents(spark, dir))

  def textNgramTopkOf(docs: DataFrame): DataFrame = {
    val ws = regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0))
    val bigrams = zip_with(ws, slice(ws, lit(2), greatest(size(ws) - 1, lit(0))),
      (a, b) => concat_ws(" ", a, b))
    val valid = when(size(ws) >= 2, slice(bigrams, lit(1), size(ws) - 1))
      .otherwise(array().cast("array<string>"))
    val counts = docs
      .select(col("lang"), explode(valid).as("bigram"))
      .groupBy(col("lang"), col("bigram"))
      .agg(count(lit(1)).as("cnt"))
    val wBucket = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"), col("bucket"))
      .orderBy(col("cnt").desc, col("bigram"))
    val candidates = counts
      .withColumn("bucket", pmod(xxhash64(col("bigram")), lit(1024L)))
      .withColumn("brank", row_number().over(wBucket))
      .filter(col("brank") <= 10)
      .drop("bucket", "brank")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("cnt").desc, col("bigram"))
    candidates
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select(col("lang"), col("rank"), col("bigram"), col("cnt"))
      .orderBy(col("lang"), col("rank"))
  }

  val textNgramTopkSql: String =
    """WITH tk AS (
      |  SELECT lang, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws FROM documents
      |), bg AS (
      |  SELECT lang, unnest(CASE WHEN len(ws) >= 2
      |    THEN list_transform(range(1, len(ws)), i -> array_to_string(ws[i:i+1], ' '))
      |    ELSE [] END) AS bigram
      |  FROM tk
      |), cnts AS (
      |  SELECT lang, bigram, count(*) AS cnt FROM bg GROUP BY 1, 2
      |), ranked AS (
      |  SELECT lang, bigram, cnt,
      |    row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, bigram) AS "rank"
      |  FROM cnts
      |)
      |SELECT lang, "rank", bigram, cnt FROM ranked
      |WHERE "rank" <= 10 ORDER BY lang, "rank"""".stripMargin

  /** Gopher-style composite quality gate (Rae et al. 2021, public
    * arXiv:2112.11446 — rule family, thresholds tuned to this corpus):
    * every document is scored against all rules at once and the verdict
    * carries a per-rule fail bitmask, so a pipeline can both hard-filter
    * (keep = 1) and audit WHICH rule fired without a second pass.
    *   bit 0 (1): fewer than 30 words      bit 1 (2): over 100k words
    *   bit 2 (4): mean word length outside [3.0, 4.5]
    *   bit 3 (8): alphabetic-character fraction below 0.81
    * All signals are exact-integer counts; the two ratio comparisons
    * divide identical exact integers in both engines, so the branch taken
    * is deterministic cross-engine. One narrow projection pass, no
    * shuffle until the final ORDER BY. */
  def corpusFilter(spark: SparkSession, dir: String): DataFrame =
    corpusFilterOf(Tables.documents(spark, dir))

  def corpusFilterOf(docs: DataFrame): DataFrame = {
    val n     = greatest(length(col("text")).cast("double"), lit(1.0))
    val alpha = (length(col("text"))
      - length(regexp_replace(col("text"), "[A-Za-z]", ""))).cast("double")
    val nw    = size(regexp_extract_all(col("text"), lit(wsTok), lit(0))).cast("long")
    val mwl   = alpha / greatest(nw.cast("double"), lit(1.0))
    val mask  =
      when(nw < 30, lit(1L)).otherwise(lit(0L)) +
      when(nw > 100000, lit(2L)).otherwise(lit(0L)) +
      when(mwl < 3.0 || mwl > 4.5, lit(4L)).otherwise(lit(0L)) +
      when(alpha / n < 0.81, lit(8L)).otherwise(lit(0L))
    docs.select(col("doc_id"), nw.as("n_words"), mask.as("fail_mask"))
      .withColumn("keep", when(col("fail_mask") === 0L, 1).otherwise(0))
      .orderBy(col("doc_id"))
  }

  val corpusFilterSql: String =
    s"""WITH s AS (
      |  SELECT doc_id,
      |    len(regexp_extract_all(text, '$wsTok'))::BIGINT AS nw,
      |    greatest(length(text)::DOUBLE, 1.0) AS n,
      |    (length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')))::DOUBLE AS alpha
      |  FROM documents
      |)
      |SELECT doc_id, nw AS n_words,
      |  (CASE WHEN nw < 30 THEN 1 ELSE 0 END
      |   + CASE WHEN nw > 100000 THEN 2 ELSE 0 END
      |   + CASE WHEN alpha / greatest(nw::DOUBLE, 1.0) < 3.0
      |          OR alpha / greatest(nw::DOUBLE, 1.0) > 4.5 THEN 4 ELSE 0 END
      |   + CASE WHEN alpha / n < 0.81 THEN 8 ELSE 0 END)::BIGINT AS fail_mask,
      |  CASE WHEN (CASE WHEN nw < 30 THEN 1 ELSE 0 END
      |   + CASE WHEN nw > 100000 THEN 2 ELSE 0 END
      |   + CASE WHEN alpha / greatest(nw::DOUBLE, 1.0) < 3.0
      |          OR alpha / greatest(nw::DOUBLE, 1.0) > 4.5 THEN 4 ELSE 0 END
      |   + CASE WHEN alpha / n < 0.81 THEN 8 ELSE 0 END) = 0 THEN 1 ELSE 0 END AS keep
      |FROM s ORDER BY doc_id""".stripMargin

  /** Quality-tiered downsampling — the standard pretraining-mix lever
    * (keep everything that clears the quality bar, hash-sample the middle
    * at 50%, the tail at 10%) applied per doc in ONE narrow no-shuffle
    * pass: tiers come from exact integer signals (token count;
    * alpha-fraction as the cross-multiplied integer comparison
    * alpha·10⁴ ≥ chars·8200, so no double threshold can straddle engines)
    * and the sampling decision is the [[idHash]] bucket against an
    * integer rate — reproducible across engines, runs, partitionings, and
    * corpus growth (a doc's keep decision never depends on other docs,
    * unlike [[corpusSample]]'s corpus-relative balancing — that's what
    * makes this the incremental-ingest-safe variant). */
  def corpusQualitySample(spark: SparkSession, dir: String): DataFrame =
    corpusQualitySampleOf(Tables.documents(spark, dir))

  def corpusQualitySampleOf(docs: DataFrame): DataFrame = {
    val n     = length(col("text")).cast("long")
    val alpha = n - length(regexp_replace(col("text"), "[A-Za-z]", "")).cast("long")
    val toks  = size(regexp_extract_all(col("text"), lit(wsTok), lit(0))).cast("long")
    val tier  = when(toks >= 55 && alpha * 10000L >= n * 8200L, "high")
      .when(toks >= 40, "mid")
      .otherwise("low")
    val bucket = pmod(idHash(col("doc_id")), lit(1000000L))
    docs
      .select(col("doc_id"), tier.as("tier"), bucket.as("bucket"))
      .withColumn("rate_ppm",
        when(col("tier") === "high", 1000000L)
          .when(col("tier") === "mid", 500000L).otherwise(100000L))
      .withColumn("keep", (col("bucket") < col("rate_ppm")).cast("int"))
      .orderBy(col("doc_id"))
  }

  val corpusQualitySampleSql: String = {
    val n     = "length(text)::BIGINT"
    val alpha = s"($n - length(regexp_replace(text, '[A-Za-z]', '', 'g'))::BIGINT)"
    val toks  = s"len(regexp_extract_all(text, '$wsTok'))::BIGINT"
    s"""WITH t AS (
      |  SELECT doc_id,
      |    CASE WHEN $toks >= 55 AND $alpha * 10000 >= $n * 8200 THEN 'high'
      |         WHEN $toks >= 40 THEN 'mid' ELSE 'low' END AS tier,
      |    ${idHashSql("doc_id")} AS bucket
      |  FROM documents
      |)
      |SELECT doc_id, tier, bucket % 1000000 AS bucket,
      |  CASE tier WHEN 'high' THEN 1000000 WHEN 'mid' THEN 500000
      |    ELSE 100000 END::BIGINT AS rate_ppm,
      |  CASE WHEN bucket % 1000000 <
      |    CASE tier WHEN 'high' THEN 1000000 WHEN 'mid' THEN 500000
      |      ELSE 100000 END THEN 1 ELSE 0 END::INT AS keep
      |FROM t ORDER BY doc_id""".stripMargin
  }

  /** Language-ID confusion matrix: labeled lang × predicted lang with doc
    * counts and per-label recall — the audit every corpus pipeline runs
    * before TRUSTING a classifier enough to filter on it. Rides the
    * [[textLangid]] per-doc pass and partial-aggregates to ≤ |langs|²
    * rows; recall is a per-row round of a ratio of two exact integers
    * (the [[eventsTransitions]]-proven e4 gate pattern). */
  def corpusLangConfusion(spark: SparkSession, dir: String): DataFrame = {
    val wLang = org.apache.spark.sql.expressions.Window.partitionBy(col("lang"))
    textLangid(spark, dir)
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("recall_e4",
        round(col("n_docs") * lit(10000.0) / sum(col("n_docs")).over(wLang))
          .cast("long"))
      .orderBy(col("lang"), col("pred_lang"))
  }

  val corpusLangConfusionSql: String =
    s"""WITH l AS ($textLangidSql)
      |SELECT lang, pred_lang, count(*) AS n_docs,
      |  CAST(round(count(*) * 10000.0 /
      |    sum(count(*)) OVER (PARTITION BY lang), 0) AS BIGINT) AS recall_e4
      |FROM l GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Token-budgeted sampling: per language, keep documents in ascending
    * [[idHash]]-priority order until a token budget (half the language's
    * whitespace tokens) fills — the "give me exactly N tokens of X" cut a
    * training-mix recipe specifies, where rate-based sampling
    * (corpus_mix) only hits the budget in expectation. Greedy-prefix
    * semantics: the doc whose cumulative count first exceeds the budget is
    * dropped along with everything after it.
    *
    * Scale shape: the textbook formulation is one running-sum window
    * PARTITION BY lang ORDER BY priority — a per-language global sort
    * whose parallelism is |langs| (5 reducers for a 100 TB corpus). Here
    * the priority space is range-bucketed (bucket = h·1024/p, monotone in
    * h, so bucket order IS priority order), per-bucket token subtotals
    * ride a tiny partial-aggregated groupBy, the cross-bucket running
    * offset is a window over that ≤|langs|×1024-row aggregate, and each
    * doc's exact global running sum = broadcast bucket offset + a
    * within-bucket window — 1024-way parallelism per language (carry-in
    * sharding: per-shard summaries, a running offset over them, then
    * the in-shard window). Docs
    * with equal priority share a bucket (bucket is a function of h), so
    * the sharded sum equals the naive window unconditionally; the DuckDB
    * oracle deliberately computes the NAIVE form, cross-proving the
    * sharding. All gate columns exact integers. */
  def corpusTokenBudget(spark: SparkSession, dir: String): DataFrame =
    corpusTokenBudgetOf(Tables.documents(spark, dir))

  def corpusTokenBudgetOf(docs: DataFrame): DataFrame = {
    val t = docs.select(
      col("doc_id"), col("lang"),
      size(regexp_extract_all(col("text"), lit(wsTok), lit(0))).cast("long").as("n_toks"),
      idHash(col("doc_id")).as("h"))
      .withColumn("bucket", expr(s"(h * 1024) div $HashP"))
    // per-(lang, bucket) subtotals: partial-aggregates map-side, ≤1024
    // rows per language reach the exchange regardless of corpus size
    val wLang = Window.partitionBy(col("lang")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = t.groupBy(col("lang"), col("bucket"))
      .agg(sum(col("n_toks")).as("bsum"))
      .withColumn("bstart", coalesce(sum(col("bsum")).over(wLang), lit(0L)))
      .withColumn("budget",
        call_function("shiftright",
          sum(col("bsum")).over(Window.partitionBy(col("lang"))), lit(1)))
      .select(col("lang"), col("bucket"), col("bstart"), col("budget"))
    // fine pass: the ONLY corpus-sized exchange, keyed (lang, bucket) —
    // 1024-way parallel cumsum with the broadcast carry-in offset
    val wIn = Window.partitionBy(col("lang"), col("bucket"))
      .orderBy(col("h"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t.join(broadcast(offsets), Seq("lang", "bucket"))
      .withColumn("run", col("bstart") + sum(col("n_toks")).over(wIn))
      .select(col("doc_id"), col("lang"), col("n_toks"),
        (col("run") <= col("budget")).as("keep"))
      .orderBy(col("doc_id"))
  }

  val corpusTokenBudgetSql: String =
    s"""WITH t AS (
      |  SELECT doc_id, lang,
      |    CAST(len(regexp_extract_all(text, '$wsTok')) AS BIGINT) AS n_toks,
      |    ${idHashSql("doc_id")} AS h
      |  FROM documents
      |), b AS (
      |  SELECT lang, CAST(sum(n_toks) AS BIGINT) // 2 AS budget FROM t GROUP BY 1
      |), r AS (
      |  SELECT t.*, sum(n_toks) OVER (PARTITION BY lang ORDER BY h, doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
      |  FROM t
      |)
      |SELECT r.doc_id, r.lang, r.n_toks, (r.run <= b.budget) AS keep
      |FROM r JOIN b ON r.lang = b.lang ORDER BY r.doc_id""".stripMargin

  /** Deterministic epoch shuffle: a reproducible pseudo-random global
    * permutation of the corpus for training-order randomization — every
    * doc gets (shard, pos) where pos is its 0-based position in the
    * epoch's permutation, and re-running the same epoch on the same
    * corpus yields the SAME order (restartable training jobs), while a
    * different epoch yields an independent order (see [[epochHash]]).
    *
    * Scale shape: a global permutation cannot avoid ordering, but it can
    * avoid a global sort. Shard = h·S/p is monotone in the hash, so
    * shard-major + within-shard (h, doc_id) order IS the global hash
    * order: per-shard counts ride a tiny S-row aggregate, the cross-shard
    * offsets are a window over that aggregate (broadcast back), and the
    * only corpus-sized exchange is the shard partitioning with a LOCAL
    * within-shard sort — S-way parallelism, the corpus_token_budget
    * carry-in discipline. The DuckDB oracle deliberately computes the
    * naive single-window global row_number, cross-proving the sharding. */
  val ShuffleShards = 64
  def corpusEpochShuffle(spark: SparkSession, dir: String): DataFrame =
    corpusEpochShuffleOf(Tables.documents(spark, dir), epoch = 1)

  def corpusEpochShuffleOf(docs: DataFrame, epoch: Int): DataFrame = {
    val t = docs.select(col("doc_id"), epochHash(col("doc_id"), epoch).as("h"))
      .withColumn("shard", expr(s"(h * $ShuffleShards) div $HashP"))
    val wOff = Window.orderBy(col("shard")).rowsBetween(Window.unboundedPreceding, -1)
    val offs = t.groupBy(col("shard")).agg(count(lit(1)).as("cnt"))
      .withColumn("off", coalesce(sum(col("cnt")).over(wOff), lit(0L)))
      .select(col("shard"), col("off"))
    val wIn = Window.partitionBy(col("shard")).orderBy(col("h"), col("doc_id"))
    t.join(broadcast(offs), Seq("shard"))
      .withColumn("pos", col("off") + row_number().over(wIn).cast("long") - 1L)
      .select(col("doc_id"), col("shard"), col("pos"))
      .orderBy(col("doc_id"))
  }

  val corpusEpochShuffleSql: String = {
    val eh = epochHashSql("doc_id", 1)
    s"""WITH t AS (
      |  SELECT doc_id, $eh AS h,
      |    CAST(($eh * $ShuffleShards) // $HashP AS BIGINT) AS shard
      |  FROM documents
      |)
      |SELECT doc_id, shard,
      |  CAST(row_number() OVER (ORDER BY h, doc_id) - 1 AS BIGINT) AS pos
      |FROM t ORDER BY doc_id""".stripMargin
  }

  /** Output-shard manifest: the plan for the LAST step of a training-data
    * pipeline — writing the curated corpus as fixed-token-budget shards in
    * the deterministic hash order ([[corpusEpochShuffle]]'s order at epoch
    * 0, i.e. [[idHash]] priority): each doc is assigned the shard where
    * its cumulative token offset begins (shard = floor(offset / size) —
    * docs are atomic, a doc straddling a boundary belongs to the shard it
    * starts in), and the manifest reports per shard the doc count, token
    * sum, and the [min_h, max_h] priority range a writer needs to claim
    * its slice. The gate derives shard size from a pinned shard COUNT
    * (total DIV 64) so output is SF-stable; the production form takes the
    * byte/token size as the parameter and emits one row per written shard.
    *
    * Scale shape: the [[corpusTokenBudgetOf]] carry-in discipline on the
    * GLOBAL (no lang partition) cumsum — 1024 hash-range buckets whose
    * subtotals ride a tiny aggregate, cross-bucket offsets a window over
    * ≤1024 rows broadcast back, within-bucket windows 1024-way parallel;
    * the manifest reduction partial-aggregates to ≤|shards|+1 rows. The
    * DuckDB oracle computes the NAIVE single-window global cumsum,
    * cross-proving the sharding. All exact integers. */
  def corpusShardManifest(spark: SparkSession, dir: String): DataFrame =
    corpusShardManifestOf(Tables.documents(spark, dir), targetShards = 64)

  def corpusShardManifestOf(docs: DataFrame, targetShards: Int): DataFrame = {
    val t = docs.select(col("doc_id"),
        size(regexp_extract_all(col("text"), lit(wsTok), lit(0))).cast("long").as("n_toks"),
        idHash(col("doc_id")).as("h"))
      .withColumn("bucket", expr(s"(h * 1024) div $HashP"))
    val wB = Window.orderBy(col("bucket")).rowsBetween(Window.unboundedPreceding, -1)
    // ≤1024 rows reach this aggregate; the unpartitioned windows over it
    // are bounded by construction (the token_budget carry-in discipline)
    val offs = t.groupBy(col("bucket")).agg(sum(col("n_toks")).as("bsum"))
      .withColumn("bstart", coalesce(sum(col("bsum")).over(wB), lit(0L)))
      .withColumn("ssize",
        greatest(expr(s"sum(bsum) OVER () div $targetShards"), lit(1L)))
      .select(col("bucket"), col("bstart"), col("ssize"))
    val wIn = Window.partitionBy(col("bucket")).orderBy(col("h"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t.join(broadcast(offs), Seq("bucket"))
      .withColumn("run", col("bstart") + sum(col("n_toks")).over(wIn))
      .withColumn("shard_id", expr("(run - n_toks) div ssize"))
      .groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("tok_sum"),
        min(col("h")).as("min_h"), max(col("h")).as("max_h"))
      .orderBy(col("shard_id"))
  }

  val corpusShardManifestSql: String =
    s"""WITH t AS (
      |  SELECT doc_id,
      |    CAST(len(regexp_extract_all(text, '$wsTok')) AS BIGINT) AS n_toks,
      |    ${idHashSql("doc_id")} AS h
      |  FROM documents
      |), tot AS (
      |  SELECT greatest(CAST(sum(n_toks) AS BIGINT) // 64, 1) AS ssize FROM t
      |), r AS (
      |  SELECT t.*, CAST(sum(n_toks) OVER (ORDER BY h, doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run
      |  FROM t
      |)
      |SELECT CAST((run - n_toks) // ssize AS BIGINT) AS shard_id,
      |  count(*) AS n_docs, CAST(sum(n_toks) AS BIGINT) AS tok_sum,
      |  CAST(min(h) AS BIGINT) AS min_h, CAST(max(h) AS BIGINT) AS max_h
      |FROM r CROSS JOIN tot GROUP BY 1 ORDER BY 1""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "corpus_epoch_shuffle" -> (corpusEpochShuffle _),
    "corpus_shard_manifest" -> (corpusShardManifest _),
    "corpus_token_budget" -> (corpusTokenBudget _),
    "corpus_quality_sample" -> (corpusQualitySample _),
    "corpus_lang_confusion" -> (corpusLangConfusion _),
    "corpus_filter"    -> (corpusFilter _),
    "text_ngram_topk"  -> (textNgramTopk _),
    "text_repetition"  -> (textRepetition _),
    "corpus_dedup_spans" -> (corpusDedupSpans _),
    "corpus_dsir"      -> (corpusDsir _),
    "text_unigram_logprob" -> (textUnigramLogprob _),
    "text_bigram_logprob" -> (textBigramLogprob _),
    "corpus_sample"    -> (corpusSample _),
    "corpus_mix"       -> (corpusMix _),
    "corpus_mix_a3"    -> ((s, d) => corpusMixTempered(Tables.documents(s, d), 3)),
    "corpus_mix_a5"    -> ((s, d) => corpusMixTempered(Tables.documents(s, d), 5)),
    "corpus_mix_a7"    -> ((s, d) => corpusMixTempered(Tables.documents(s, d), 7)),
    "corpus_stats"     -> (corpusStats _),
    "corpus_pack"      -> (corpusPack _),
    "corpus_chunk"     -> (corpusChunk _),
    "text_readability" -> (textReadability _),
    "corpus_clean"     -> (corpusClean _),
    "corpus_split"     -> (corpusSplit _),
    "corpus_split_safe" -> (corpusSplitSafe _),
    "corpus_redact"    -> (corpusRedact _),
    "text_tokens"      -> (textTokens _),
    "text_quality"     -> (textQuality _),
    "text_langid"      -> (textLangid _),
    "text_fingerprint" -> (textFingerprint _))

  val oracle: Map[String, String] = Map(
    "corpus_epoch_shuffle" -> corpusEpochShuffleSql,
    "corpus_shard_manifest" -> corpusShardManifestSql,
    "corpus_token_budget" -> corpusTokenBudgetSql,
    "corpus_quality_sample" -> corpusQualitySampleSql,
    "corpus_lang_confusion" -> corpusLangConfusionSql,
    "corpus_filter"    -> corpusFilterSql,
    "text_ngram_topk"  -> textNgramTopkSql,
    "text_repetition"  -> textRepetitionSql,
    "corpus_dedup_spans" -> corpusDedupSpansSql,
    "corpus_dsir"      -> corpusDsirSql,
    "text_unigram_logprob" -> textUnigramLogprobSql,
    "text_bigram_logprob" -> textBigramLogprobSql,
    "corpus_sample"    -> corpusSampleSql,
    "corpus_mix"       -> corpusMixSql,
    "corpus_mix_a3"    -> corpusMixTemperedSql(3),
    "corpus_mix_a5"    -> corpusMixTemperedSql(5),
    "corpus_mix_a7"    -> corpusMixTemperedSql(7),
    "corpus_stats"     -> corpusStatsSql,
    "corpus_pack"      -> corpusPackSql,
    "corpus_chunk"     -> corpusChunkSql,
    "text_readability" -> textReadabilitySql,
    "corpus_clean"     -> corpusCleanSql,
    "corpus_split"     -> corpusSplitSql,
    "corpus_split_safe" -> corpusSplitSafeSql,
    "corpus_redact"    -> corpusRedactSql,
    "text_tokens"      -> textTokensSql,
    "text_quality"     -> textQualitySql,
    "text_langid"      -> textLangidSql,
    "text_fingerprint" -> textFingerprintSql)
}
