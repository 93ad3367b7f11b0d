package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Mergeable distinct-count sketches (Flajolet et al., AofA 2007 —
  * HyperLogLog) in ENGINE-EXACT integer arithmetic: the one aggregate a
  * 100 TB pipeline cannot run exactly (distinct tokens/users per slice
  * needs a corpus-sized shuffle per query) becomes 64 small integers per
  * slice that merge by element-wise MAX — shards sketch independently,
  * partial aggregation is the merge, and historical sketches fold with
  * new ones without re-reading anything.
  *
  * Everything the gate emits is exact BIGINT algebra both engines
  * replay bit-for-bit (unlike `q_percentiles_approx`'s rows-only
  * sketches): the token hash is graft's portable char-polynomial
  * (native `char_poly_hash` ↔ DuckDB list_reduce), bucket = h mod 64,
  * rank ρ = 1 + trailing-zeros(h div 64) expressed as Σ [v mod 2^k = 0]
  * (v = 0 saturates to the cap automatically), the register sum rides
  * the dyadic scaling S = Σ 2^(cap − M_b) as a plain integer, and the
  * raw HLL estimate α·m²/Σ2^(−M) becomes the exact integer division
  * (709·m²·2^cap) DIV (1000·S). The bias-corrected small/large-range
  * forms need ln(), which is NOT cross-engine-reproducible — the gate
  * ships the raw statistics (v_zero makes the linear-counting
  * correction a consumer-side one-liner), and the spec applies the
  * correction driver-side to pin accuracy against the exact count. */
object Sketches {

  /** Register count (m = 2^6). */
  val M = 64
  /** Rank cap: h div 64 < p/64 ≈ 2^24, so 20 trailing-zero tests saturate
    * every value; empty/zero registers read cap = 21. */
  val RMax = 21
  private val P = 1000000007L

  private def tokHash(w: Column): Column = mix(call_function("char_poly_hash", w))

  /** Quadratic scramble on top of the polynomial hash: the poly hash is
    * LINEAR in the last characters, so a numbered vocabulary ("w0".."w799")
    * lands on arithmetic progressions whose trailing-zero profile is the
    * ruler sequence — bounded, no geometric tail, and HLL's estimator
    * reads ~half the true cardinality (measured). Squaring mod p breaks
    * the linearity (h < p ≈ 2³⁰ so h² < 2⁶⁰ — exact BIGINT in both
    * engines); the +h term keeps the map injective-ish in practice and
    * the spec pins estimator accuracy across cardinality regimes. */
  private def mix(h: Column): Column =
    pmod(pmod(h * h, lit(P)) * lit(31L) + h, lit(P))

  private def mixSql(h: String): String =
    s"((($h) * ($h)) % $P * 31 + ($h)) % $P"

  /** Scrambled portable id hash (WideIdSpec pins it at Long.MaxValue). */
  private[graft] def mixedIdHash(id: Column): Column = mix(TextAnalysis.idHash(id))

  /** The raw-estimate arithmetic as ONE shared pair of constants — every
    * consumer (three oracles, both engine sides) composes THESE, so an
    * α/m/cap retune cannot silently leave a copy stale (the r8 advisory's
    * regex-surgery lesson applied preemptively). */
  private val EstNum = 709L * M * M * (1L << RMax)
  private def rawEstCol(sCol: String): Column =
    expr(s"${EstNum}L DIV (1000 * $sCol)")
  private def rawEstSql(sRef: String): String =
    s"CAST($EstNum // (1000 * ($sRef)) AS BIGINT)"
  private def sScaledCol(reg: String): Column =
    sum(expr(s"shiftleft(CAST(1 AS BIGINT), CAST($RMax - $reg AS INT))"))
  private def sScaledSql(reg: String): String =
    s"CAST(sum(1::BIGINT << ($RMax - $reg)) AS BIGINT)"

  /** ρ(v) = 1 + Σ_{k=1..20} [v mod 2^k = 0] — trailing-zero rank with the
    * v = 0 case saturating to [[RMax]] with no special-casing. */
  private def rho(v: Column): Column =
    lit(1L) + (1 until RMax).map(k =>
      when(pmod(v, lit(1L << k)) === 0L, 1L).otherwise(0L)).reduce(_ + _)

  private def rhoSql(v: String): String =
    "1 + " + (1 until RMax).map(k =>
      s"(CASE WHEN ($v) % ${1L << k} = 0 THEN 1 ELSE 0 END)").mkString(" + ")

  /** Per-group (`keys`) HLL registers over a token column: one row per
    * (keys, bucket) with the max rank. Exposed at register grain so
    * consumers can MERGE sketches (element-wise max) before estimating. */
  def registersOf(df: DataFrame, keys: Seq[String], tok: Column): DataFrame = {
    val h = tokHash(tok)
    // h ∈ [0, p): bucket = low 6 bits, v = the remaining ~24 — integer
    // ops only (Column `/` is DOUBLE division; shiftright keeps it exact)
    df.select(keys.map(col) :+ pmod(h, lit(M.toLong)).as("bucket")
        :+ rho(shiftright(h, 6)).as("rho"): _*)
      .groupBy((keys :+ "bucket").map(col): _*)
      .agg(max(col("rho")).as("m_reg"))
  }

  /** Gate: per-language distinct-token sketch over `documents` — built at
    * (lang, SOURCE) grain first and max-MERGED to lang (the property that
    * makes the sketch an artifact: per-shard/per-day sketches fold), then
    * densified over all 64 buckets and reduced to the exact-integer
    * summary plus the exact distinct count for comparison (gate-scale
    * only; at 100 TB the exact column is precisely what you no longer
    * compute). */
  def corpusDistinctSketch(spark: SparkSession, dir: String): DataFrame =
    corpusDistinctSketchOf(Tables.documents(spark, dir))

  def corpusDistinctSketchOf(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("lang"), col("source"),
      explode(expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")).as("w"))
    // per-(lang, source) sketches, merged to lang by element-wise max —
    // the merge IS an aggregate, so it rides one exchange
    val perSource = registersOf(toks, Seq("lang", "source"), col("w"))
    val merged = perSource.groupBy(col("lang"), col("bucket"))
      .agg(max(col("m_reg")).as("m_reg"))
    // densify: empty buckets are REAL zeros in the estimator
    val langs = docs.select(col("lang")).distinct()
    val grid = langs.select(col("lang"),
      explode(sequence(lit(0L), lit(M - 1L))).as("bucket"))
    val dense = grid.join(merged, Seq("lang", "bucket"), "left")
      .select(col("lang"), col("bucket"),
        coalesce(col("m_reg"), lit(0L)).as("m_reg"))
    val summary = dense.groupBy(col("lang"))
      .agg(sum(when(col("m_reg") === 0L, 1L).otherwise(0L)).as("v_zero"),
        // dyadic scaling as a SHIFT — pow() is not cross-engine territory
        sScaledCol("m_reg").as("s_scaled"))
      .withColumn("est_raw", rawEstCol("s_scaled"))
    val exact = toks.groupBy(col("lang"))
      .agg(countDistinct(col("w")).as("n_exact"))
    summary.join(exact, Seq("lang"), "left")
      .select(col("lang"), lit(M.toLong).as("m"), col("v_zero"),
        col("s_scaled"), col("est_raw"),
        coalesce(col("n_exact"), lit(0L)).as("n_exact"))
      .orderBy(col("lang"))
  }

  private val tokHashSqlW: String =
    s"list_reduce(list_prepend(7::BIGINT, list_transform(string_split_regex(w, ''), c -> ascii(c)::BIGINT)), (acc, x) -> (acc*31 + x) % $P)"

  val corpusDistinctSketchSql: String =
    s"""WITH tok AS (
       |  SELECT lang, source,
       |    unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
       |  FROM documents
       |), h0 AS (
       |  SELECT lang, source, $tokHashSqlW AS hp FROM tok
       |), h AS (
       |  SELECT lang, source, ${mixSql("hp")} AS hv FROM h0
       |), regs AS (
       |  SELECT lang, source, hv % $M AS bucket,
       |    CAST(max(${rhoSql(s"hv // $M")}) AS BIGINT) AS m_reg
       |  FROM h GROUP BY 1, 2, 3
       |), merged AS (
       |  SELECT lang, bucket, max(m_reg) AS m_reg FROM regs GROUP BY 1, 2
       |), grid AS (
       |  SELECT l.lang, g.bucket
       |  FROM (SELECT DISTINCT lang FROM documents) l,
       |       (SELECT unnest(range(0, $M)) AS bucket) g
       |), dense AS (
       |  SELECT grid.lang, grid.bucket, coalesce(m.m_reg, 0) AS m_reg
       |  FROM grid LEFT JOIN merged m
       |    ON grid.lang = m.lang AND grid.bucket = m.bucket
       |), summary AS (
       |  SELECT lang,
       |    CAST(sum(CASE WHEN m_reg = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v_zero,
       |    ${sScaledSql("m_reg")} AS s_scaled
       |  FROM dense GROUP BY 1
       |), exact AS (
       |  SELECT lang, CAST(count(DISTINCT w) AS BIGINT) AS n_exact FROM tok GROUP BY 1
       |)
       |SELECT s.lang, CAST($M AS BIGINT) AS m, s.v_zero, s.s_scaled,
       |  ${rawEstSql("s.s_scaled")} AS est_raw,
       |  coalesce(e.n_exact, 0) AS n_exact
       |FROM summary s LEFT JOIN exact e ON s.lang = e.lang
       |ORDER BY s.lang""".stripMargin

  /** Gate: trailing-7-day distinct users (WAU) BY SKETCH MERGE — the
    * demonstration of why the registers are the artifact: count-distinct
    * does NOT decompose over sliding windows (every window re-scans its
    * events; `events_active_users` pays a coverage trick to avoid it),
    * but registers do — per-DAY registers merge into any window by
    * element-wise max, so the whole WAU curve is one window-max over a
    * (days × 64)-row grid after one event-grain aggregate. The exact WAU
    * ships beside the estimate for comparison (gate-scale only — at
    * 100 TB the exact column is the thing the sketch replaces). */
  def eventsWauSketch(spark: SparkSession, dir: String): DataFrame =
    eventsWauSketchOf(Tables.events(spark, dir))

  def eventsWauSketchOf(ev: DataFrame): DataFrame = {
    val h = mixedIdHash(col("user_id"))
    val perDay = ev
      .select(floor(unix_micros(col("ts")) / lit(86400000000L)).cast("long").as("day"),
        pmod(h, lit(M.toLong)).as("bucket"), rho(shiftright(h, 6)).as("rho"))
      .groupBy(col("day"), col("bucket")).agg(max(col("rho")).as("m_reg"))
    val summary = wauCurveFromRegisters(perDay)
    // exact trailing distinct for comparison: each (user, day) sighting
    // covers the 7 windows it falls in
    val exact = ev
      .select(col("user_id"),
        floor(unix_micros(col("ts")) / lit(86400000000L)).cast("long").as("day"))
      .distinct()
      .select(col("user_id"), explode(sequence(col("day"), col("day") + 6)).as("wday"))
      .groupBy(col("wday")).agg(countDistinct(col("user_id")).as("exact_wau"))
    summary.join(exact, summary("day") === exact("wday"), "left")
      .select(col("day"), col("v_zero"), col("s_scaled"), col("est_raw"),
        coalesce(col("exact_wau"), lit(0L)).as("exact_wau"))
      .orderBy(col("day"))
  }

  /** Trailing-7-day WAU curve read out of a per-day REGISTER TABLE
    * (day, bucket, m_reg) — the read-out half of [[eventsWauSketchOf]].
    * Densify the day grid first (a silent day is REAL zero registers in
    * every window covering it), window-max per bucket over the trailing
    * 7 days — calendar × 64 rows, the bounded-grain window class — then
    * the summary/estimate algebra. */
  private def wauCurveFromRegisters(perDay: DataFrame): DataFrame = {
    val span = perDay.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val grid = span.select(explode(sequence(col("d0"), col("d1"))).as("day"))
      .select(col("day"), explode(sequence(lit(0L), lit(M - 1L))).as("bucket"))
    val dense = grid.join(perDay, Seq("day", "bucket"), "left")
      .select(col("day"), col("bucket"), coalesce(col("m_reg"), lit(0L)).as("m_reg"))
    val w7 = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bucket")).orderBy(col("day")).rangeBetween(-6, 0)
    dense.withColumn("m7", max(col("m_reg")).over(w7))
      .groupBy(col("day"))
      .agg(sum(when(col("m7") === 0L, 1L).otherwise(0L)).as("v_zero"),
        sScaledCol("m7").as("s_scaled"))
      .withColumn("est_raw", rawEstCol("s_scaled"))
  }

  val eventsWauSketchSql: String =
    s"""WITH pd AS (
       |  SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
       |    ${mixSql(TextAnalysis.idHashSql("user_id"))} AS hv
       |  FROM events
       |), regs AS (
       |  SELECT day, hv % $M AS bucket,
       |    CAST(max(${rhoSql(s"hv // $M")}) AS BIGINT) AS m_reg
       |  FROM pd GROUP BY 1, 2
       |), span AS (SELECT min(day) AS d0, max(day) AS d1 FROM regs
       |), grid AS (
       |  SELECT d.day, b.bucket
       |  FROM (SELECT unnest(range(d0, d1 + 1)) AS day FROM span) d,
       |       (SELECT unnest(range(0, $M)) AS bucket) b
       |), dense AS (
       |  SELECT grid.day, grid.bucket, coalesce(r.m_reg, 0) AS m_reg
       |  FROM grid LEFT JOIN regs r ON grid.day = r.day AND grid.bucket = r.bucket
       |), w AS (
       |  SELECT day, bucket,
       |    max(m_reg) OVER (PARTITION BY bucket ORDER BY day
       |      RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS m7
       |  FROM dense
       |), summary AS (
       |  SELECT day,
       |    CAST(sum(CASE WHEN m7 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v_zero,
       |    ${sScaledSql("m7")} AS s_scaled
       |  FROM w GROUP BY 1
       |), ud AS (
       |  SELECT DISTINCT user_id, CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day
       |  FROM events
       |), exact AS (
       |  SELECT t.wday, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_wau
       |  FROM ud, unnest(range(ud.day, ud.day + 7)) AS t(wday)
       |  GROUP BY 1
       |)
       |SELECT s.day, s.v_zero, s.s_scaled,
       |  ${rawEstSql("s.s_scaled")} AS est_raw,
       |  coalesce(e.exact_wau, 0) AS exact_wau
       |FROM summary s LEFT JOIN exact e ON s.day = e.wday
       |ORDER BY s.day""".stripMargin

  /** Gate: pairwise SOURCE vocabulary overlap by sketch set-algebra —
    * the cross-corpus contamination/similarity estimator that runs
    * without ever joining token sets: |A∩B| ≈ est(A) + est(B) −
    * est(A∪B), where est(A∪B) comes from max-merging the two sources'
    * registers (unions are exact on registers; only the cardinality
    * estimate is approximate). Per-source registers build once and
    * every pair is 64-row arithmetic — S sources cost S sketches +
    * S²/2 tiny merges, never S²/2 token-set joins. Estimates are the
    * raw integer form (the [[corpusDistinctSketch]] contract); the
    * exact overlap ships beside them at gate scale. Inclusion-exclusion
    * can go negative on near-disjoint sets — clamped at 0, the standard
    * reading — and compounds three ±1.04/√m estimators, so at m = 64 it
    * resolves DOMINANT overlaps (mirrored dumps, syndicated feeds), not
    * slivers; the spec pins exactly that contract. Production tuning is
    * one knob (m), at 8 bytes a register. */
  def corpusSourceOverlap(spark: SparkSession, dir: String): DataFrame =
    corpusSourceOverlapOf(Tables.documents(spark, dir))

  def corpusSourceOverlapOf(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("source"),
      explode(expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")).as("w"))
    val regs = registersOf(toks, Seq("source"), col("w")).localCheckpoint()
    // densify per source over all 64 buckets
    val grid = docs.select(col("source")).distinct()
      .select(col("source"), explode(sequence(lit(0L), lit(M - 1L))).as("bucket"))
    val dense = grid.join(regs, Seq("source", "bucket"), "left")
      .select(col("source"), col("bucket"),
        coalesce(col("m_reg"), lit(0L)).as("m_reg"))
      .localCheckpoint()
    def estOf(grouped: org.apache.spark.sql.RelationalGroupedDataset,
              keys: Seq[String], out: String): DataFrame =
      grouped
        .agg(sScaledCol("m_reg").as("s"))
        .select(keys.map(col) :+ rawEstCol("s").as(out): _*)
    val single = estOf(dense.groupBy(col("source")), Seq("source"), "est")
    // every unordered pair: registers of the union = element-wise max
    val a = dense.select(col("source").as("src_a"), col("bucket"), col("m_reg").as("ra"))
    val b = dense.select(col("source").as("src_b"), col("bucket"), col("m_reg").as("rb"))
    val unionRegs = a.join(b, Seq("bucket")).filter(col("src_a") < col("src_b"))
      .select(col("src_a"), col("src_b"), col("bucket"),
        greatest(col("ra"), col("rb")).as("m_reg"))
    val unionEst = estOf(unionRegs.groupBy(col("src_a"), col("src_b")),
      Seq("src_a", "src_b"), "est_union")
    // exact overlap at gate scale: distinct tokens present in both
    val tset = toks.distinct()
    val exact = tset.select(col("source").as("src_a"), col("w"))
      .join(tset.select(col("source").as("src_b"), col("w")), Seq("w"))
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(countDistinct(col("w")).as("exact_overlap"))
    unionEst
      .join(single.select(col("source").as("src_a"), col("est").as("est_a")), "src_a")
      .join(single.select(col("source").as("src_b"), col("est").as("est_b")), "src_b")
      .join(exact, Seq("src_a", "src_b"), "left")
      .select(col("src_a"), col("src_b"), col("est_a"), col("est_b"),
        col("est_union"),
        greatest(col("est_a") + col("est_b") - col("est_union"), lit(0L))
          .as("est_overlap"),
        coalesce(col("exact_overlap"), lit(0L)).as("exact_overlap"))
      .orderBy(col("src_a"), col("src_b"))
  }

  val corpusSourceOverlapSql: String = {
    s"""WITH tok AS (
       |  SELECT source,
       |    unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
       |  FROM documents
       |), h AS (
       |  SELECT source, ${mixSql(tokHashSqlW)} AS hv FROM tok
       |), regs AS (
       |  SELECT source, hv % $M AS bucket,
       |    CAST(max(${rhoSql(s"hv // $M")}) AS BIGINT) AS m_reg
       |  FROM h GROUP BY 1, 2
       |), grid AS (
       |  SELECT s.source, g.bucket
       |  FROM (SELECT DISTINCT source FROM documents) s,
       |       (SELECT unnest(range(0, $M)) AS bucket) g
       |), dense AS MATERIALIZED (
       |  SELECT grid.source, grid.bucket, coalesce(r.m_reg, 0) AS m_reg
       |  FROM grid LEFT JOIN regs r
       |    ON grid.source = r.source AND grid.bucket = r.bucket
       |), single AS (
       |  SELECT source,
       |    ${rawEstSql(s"sum(1::BIGINT << ($RMax - m_reg))")} AS est
       |  FROM dense GROUP BY 1
       |), uni AS (
       |  SELECT a.source AS src_a, b.source AS src_b,
       |    ${rawEstSql(s"sum(1::BIGINT << ($RMax - greatest(a.m_reg, b.m_reg)))")}
       |      AS est_union
       |  FROM dense a JOIN dense b
       |    ON a.bucket = b.bucket AND a.source < b.source
       |  GROUP BY 1, 2
       |), tset AS (SELECT DISTINCT source, w FROM tok
       |), exact AS (
       |  SELECT a.source AS src_a, b.source AS src_b,
       |    CAST(count(DISTINCT a.w) AS BIGINT) AS exact_overlap
       |  FROM tset a JOIN tset b ON a.w = b.w AND a.source < b.source
       |  GROUP BY 1, 2
       |)
       |SELECT u.src_a, u.src_b, sa.est AS est_a, sb.est AS est_b, u.est_union,
       |  greatest(sa.est + sb.est - u.est_union, 0) AS est_overlap,
       |  coalesce(e.exact_overlap, 0) AS exact_overlap
       |FROM uni u
       |JOIN single sa ON u.src_a = sa.source
       |JOIN single sb ON u.src_b = sb.source
       |LEFT JOIN exact e ON u.src_a = e.src_a AND u.src_b = e.src_b
       |ORDER BY u.src_a, u.src_b""".stripMargin
  }

  // ---------------------------------------------------------------------
  // Mergeable quantile sketch (HDR-histogram form)
  // ---------------------------------------------------------------------

  /** Octave cap for [[msbOf]]: values < 2^41 cover any cent amount the
    * tables can hold (sf0.1 tops out near 2^24 cents). */
  private val MsbMax = 40
  /** Sub-bucket bits per octave: 16 sub-buckets → the bucket lower bound
    * is within 1/16 (625 bp) of any value in the bucket. */
  private val SubB = 16L

  /** floor(log₂ v) for v ≥ 1 as exact integer algebra — Σ_{k=1..40}
    * [v ≥ 2^k], the [[rho]] trick pointed the other way. No log(), so
    * both engines replay it bit-for-bit. */
  private def msbOf(v: Column): Column =
    (1 to MsbMax).map(k => when(v >= (1L << k), 1L).otherwise(0L)).reduce(_ + _)
  private def msbSql(v: String): String =
    (1 to MsbMax).map(k =>
      s"(CASE WHEN ($v) >= ${1L << k} THEN 1 ELSE 0 END)").mkString(" + ")

  /** HDR bucket id for v ≥ 1: msb·16 + the 4 bits after the leading one —
    * (v·16) DIV 2^msb ∈ [16,32), so bucket = msb·16 + that − 16. Bucket
    * ids are strictly monotone in value, so bucket-grain cumulative
    * counts cross quantile targets exactly where value-grain ones do. */
  private def bucketCol: Column =
    col("msb") * lit(SubB) +
      expr(s"(cents * $SubB) DIV shiftleft(CAST(1 AS BIGINT), CAST(msb AS INT))") -
      lit(SubB)
  private def bucketSql(v: String, m: String): String =
    s"($m) * $SubB + (($v) * $SubB) // (1::BIGINT << CAST(($m) AS INT)) - $SubB"

  /** Bucket lower bound — the quantile estimate the sketch reports:
    * ((16 + bucket mod 16) << (bucket div 16)) DIV 16, exact integers. */
  private def lbSql(b: String): String =
    s"((16 + ($b) % $SubB) << CAST(($b) // $SubB AS INT)) // $SubB"
  private def lbCol(b: String): Column =
    expr(s"shiftleft(16 + $b % $SubB, CAST($b DIV $SubB AS INT)) DIV $SubB")

  /** Gate: mergeable quantile sketch over `lineitem` prices per return
    * flag — the OTHER aggregate a 100 TB pipeline cannot run exactly
    * (p50/p90/p99 need a global sort or a full value-grain histogram per
    * slice). The HDR-histogram registers (one count per log-spaced
    * bucket, ≤16·41 per slice) merge by plain SUM — shards histogram
    * independently, partial aggregation is the merge, and days fold into
    * months without re-reading events — and the quantile read-out is the
    * first bucket whose cumulative count reaches ⌈q·N/100⌉, reported as
    * the bucket's lower bound (≤ 625 bp low by construction, spec-pinned).
    *
    * Everything is exact BIGINT algebra both engines replay bit-for-bit:
    * prices land on integer cents, the octave is the Σ-of-comparisons
    * [[msbOf]], sub-buckets are shifts, and the estimate is integer
    * division. The registers build at (flag, shard) grain and SUM-merge
    * to flag — the oracle aggregates straight to flag, so the gate hash
    * PROVES the merge is lossless. The exact quantile ships beside the
    * estimate (gate-scale only: its value-grain cumulative window is
    * precisely what the sketch replaces at 100 TB). */
  def qQuantileSketch(spark: SparkSession, dir: String): DataFrame =
    qQuantileSketchOf(Tables.lineitem(spark, dir))

  /** Adds `msb` and `bucket` to any frame with a `cents` column ≥ 1. */
  private def withHdrBucket(df: DataFrame): DataFrame =
    df.withColumn("msb", msbOf(col("cents")))
      .withColumn("bucket", bucketCol)

  /** The bucketized rows (flag, cents, shard, bucket) — shared by the
    * gate and the merge-associativity spec. */
  private[graft] def priceBuckets(li: DataFrame): DataFrame =
    withHdrBucket(li.select(col("l_returnflag").as("flag"),
      expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("cents"),
      pmod(TextAnalysis.idHash(col("l_orderkey")), lit(8L)).as("shard")))

  /** Per-flag histogram registers (flag, bucket, n) — the mergeable
    * artifact: registers of a union of shards = element-wise SUM. */
  private[graft] def priceRegisters(li: DataFrame): DataFrame =
    priceBuckets(li).groupBy(col("flag"), col("bucket"))
      .agg(count(lit(1)).cast("long").as("n"))

  def qQuantileSketchOf(li: DataFrame): DataFrame = {
    val base = priceBuckets(li)
    // per-(flag, shard) registers, SUM-merged to flag: the artifact
    // property — per-shard histograms fold by addition
    val perShard = base.groupBy(col("flag"), col("shard"), col("bucket"))
      .agg(count(lit(1)).as("n"))
    val regs = perShard.groupBy(col("flag"), col("bucket"))
      .agg(sum(col("n")).as("n"))
    val tot = regs.groupBy(col("flag")).agg(sum(col("n")).as("n_total"))
    // bucket-grain cumulative counts: ≤ 16·41 rows per flag (bounded grain)
    val wb = org.apache.spark.sql.expressions.Window
      .partitionBy(col("flag")).orderBy(col("bucket"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val cum = regs.withColumn("cum", sum(col("n")).over(wb))
    val qs = cum.sparkSession.range(1).select(
      explode(array(lit(50L), lit(90L), lit(99L))).as("q"))
    val pick = cum.join(tot, "flag").crossJoin(broadcast(qs))
      .filter(col("cum") >= expr("(q * n_total + 99) DIV 100"))
      .groupBy(col("flag"), col("q"), col("n_total"))
      .agg(min(col("bucket")).as("bucket"))
      .withColumn("est", lbCol("bucket"))
    // exact disc-quantile for comparison — value-grain cumulative window,
    // gate-scale only (at 100 TB this column is what the sketch replaces)
    val wv = org.apache.spark.sql.expressions.Window
      .partitionBy(col("flag")).orderBy(col("cents"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val vcum = base.groupBy(col("flag"), col("cents")).agg(count(lit(1)).as("vn"))
      .withColumn("vcum", sum(col("vn")).over(wv))
    val exact = vcum.join(tot, "flag").crossJoin(broadcast(qs))
      .filter(col("vcum") >= expr("(q * n_total + 99) DIV 100"))
      .groupBy(col("flag"), col("q"))
      .agg(min(col("cents")).as("exact"))
    pick.join(exact, Seq("flag", "q"))
      .select(col("flag"), col("q"), col("n_total"), col("bucket"),
        col("est"), col("exact"),
        expr("(exact - est) * 10000 DIV exact").as("err_bp"))
      .orderBy(col("flag"), col("q"))
  }

  val qQuantileSketchSql: String =
    s"""WITH base AS (
       |  SELECT l_returnflag AS flag,
       |    CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
       |  FROM lineitem
       |), b1 AS (
       |  SELECT flag, cents, ${msbSql("cents")} AS msb FROM base
       |), b2 AS (
       |  SELECT flag, cents, ${bucketSql("cents", "msb")} AS bucket FROM b1
       |), regs AS (
       |  SELECT flag, bucket, CAST(count(*) AS BIGINT) AS n FROM b2 GROUP BY 1, 2
       |), tot AS (
       |  SELECT flag, CAST(sum(n) AS BIGINT) AS n_total FROM regs GROUP BY 1
       |), qs AS (SELECT CAST(unnest([50, 90, 99]) AS BIGINT) AS q
       |), cum AS (
       |  SELECT flag, bucket,
       |    sum(n) OVER (PARTITION BY flag ORDER BY bucket) AS cum
       |  FROM regs
       |), pick AS (
       |  SELECT c.flag, q.q, t.n_total, min(c.bucket) AS bucket
       |  FROM cum c JOIN tot t USING (flag) CROSS JOIN qs q
       |  WHERE c.cum >= (q.q * t.n_total + 99) // 100
       |  GROUP BY 1, 2, 3
       |), vals AS (
       |  SELECT flag, cents, count(*) AS vn FROM b2 GROUP BY 1, 2
       |), vcum AS (
       |  SELECT flag, cents,
       |    sum(vn) OVER (PARTITION BY flag ORDER BY cents) AS vcum
       |  FROM vals
       |), ex AS (
       |  SELECT v.flag, q.q, min(v.cents) AS exact
       |  FROM vcum v JOIN tot t USING (flag) CROSS JOIN qs q
       |  WHERE v.vcum >= (q.q * t.n_total + 99) // 100
       |  GROUP BY 1, 2
       |)
       |SELECT p.flag, p.q, p.n_total, CAST(p.bucket AS BIGINT) AS bucket,
       |  CAST(${lbSql("p.bucket")} AS BIGINT) AS est,
       |  CAST(e.exact AS BIGINT) AS exact,
       |  CAST((e.exact - ${lbSql("p.bucket")}) * 10000 // e.exact AS BIGINT)
       |    AS err_bp
       |FROM pick p JOIN ex e ON p.flag = e.flag AND p.q = e.q
       |ORDER BY p.flag, p.q""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "corpus_distinct_sketch" -> (corpusDistinctSketch _),
    "corpus_source_overlap"  -> (corpusSourceOverlap _),
    "events_wau_sketch"      -> (eventsWauSketch _),
    "q_quantile_sketch"      -> (qQuantileSketch _))

  val oracle: Map[String, String] = Map(
    "corpus_distinct_sketch" -> corpusDistinctSketchSql,
    "corpus_source_overlap"  -> corpusSourceOverlapSql,
    "events_wau_sketch"      -> eventsWauSketchSql,
    "q_quantile_sketch"      -> qQuantileSketchSql)
}
