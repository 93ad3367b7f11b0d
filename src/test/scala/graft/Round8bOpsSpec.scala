package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-8b operator semantics, pinned: label join, growth accounting,
  * seasonality, Gopher rules, lexical diversity, triangle census. */
class Round8bOpsSpec extends SparkSpecBase {
  import graft.operators.{CorpusStats, FeatureOps, GraphOps, Growth}

  private def evDf(rows: Seq[(Long, Long, Long, String, Double)]): DataFrame = {
    import spark.implicits._
    rows.toDF("event_id", "sec", "user_id", "event_type", "value")
      .select(col("event_id"), col("sec").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"))
  }

  test("ft_label_join: forward window, inclusive ends, first-purchase pick, equal-ts tiebreak") {
    val ev = evDf(Seq(
      // user 1: view@1000; purchase@500 (before, ignored), purchase@80000
      // (within 24 h) and a later one @81000 that must NOT be picked
      (1L, 1000L, 1L, "view", 0.0),
      (10L, 500L, 1L, "purchase", 5.0),
      (11L, 80000L, 1L, "purchase", 2.5),
      (12L, 81000L, 1L, "purchase", 7.0),
      // user 2: purchase at the SAME instant as the view — inclusive start
      (2L, 1000L, 2L, "view", 0.0),
      (20L, 1000L, 2L, "purchase", 3.0),
      // user 3: purchase just past the 24 h bound — excluded
      (3L, 1000L, 3L, "view", 0.0),
      (30L, 1000L + 86401L, 3L, "purchase", 1.0),
      // user 4: two purchases at the same qualifying ts — max event_id wins
      (4L, 1000L, 4L, "view", 0.0),
      (40L, 2000L, 4L, "purchase", 1.0),
      (41L, 2000L, 4L, "purchase", 9.99),
      // user 5: purchase at exactly ts + 24 h — inclusive end
      (5L, 1000L, 5L, "view", 0.0),
      (50L, 1000L + 86400L, 5L, "purchase", 4.0)))
    val got = FeatureOps.ftLabelJoinOf(ev).collect()
      .map(r => r.getAs[Long]("event_id") ->
        ((r.getAs[Long]("label"), Option(r.getAs[java.lang.Long]("label_value_e4")).map(_.toLong),
          Option(r.getAs[java.lang.Long]("secs_to_label")).map(_.toLong)))).toMap
    assert(got(1L) == ((1L, Some(25000L), Some(79000L))))
    assert(got(2L) == ((1L, Some(30000L), Some(0L))))
    assert(got(3L) == ((0L, None, None)))
    assert(got(4L) == ((1L, Some(99900L), Some(1000L))), "equal-ts tiebreak must pick max event_id")
    assert(got(5L) == ((1L, Some(40000L), Some(86400L))), "window end is inclusive")
    assert(got.size == 5)
  }

  test("ft_time_to_convert: hour buckets, unlabeled bucket, cumulative labeled count") {
    val ev = evDf(Seq(
      (1L, 1000L, 1L, "view", 0.0), (10L, 1000L + 1800, 1L, "purchase", 1.0),   // 0.5 h → bucket 0
      (2L, 1000L, 2L, "view", 0.0), (20L, 1000L + 7300, 2L, "purchase", 1.0),   // ~2 h → bucket 2
      (3L, 1000L, 3L, "view", 0.0), (30L, 1000L + 7300, 3L, "purchase", 1.0),   // bucket 2
      (4L, 1000L, 4L, "view", 0.0)))                                            // unlabeled
    val rows = FeatureOps.ftTimeToConvertOf(ev).collect()
      .map(r => r.getAs[Long]("bucket_h") ->
        ((r.getAs[Long]("n"), r.getAs[Long]("share_bp"), r.getAs[Long]("cum_labeled")))).toMap
    assert(rows(-1L) == ((1L, 2500L, 0L)))
    assert(rows(0L) == ((1L, 2500L, 1L)))
    assert(rows(2L) == ((2L, 5000L, 3L)))
    assert(rows.size == 3)
  }

  test("events_lifecycle: new/retained/resurrected/churned ledger with dense zero days") {
    def at(day: Long, uid: Long, id: Long) = (id, day * 86400L + 10L, uid, "click", 0.0)
    // user 1 active days {0, 1, 3}; user 2 active day {1} only
    val ev = evDf(Seq(at(0, 1, 1), at(1, 1, 2), at(3, 1, 3), at(1, 2, 4),
      at(1, 1, 5))) // a second event on an active day must not double-count
    val base = ev.select(min(floor(unix_micros(col("ts")) / 86400000000L)).cast("long")).head().getLong(0)
    val got = Growth.eventsLifecycleOf(ev).collect().map(r =>
      (r.getAs[Long]("day") - base) ->
        ((r.getAs[Long]("n_active"), r.getAs[Long]("n_new"), r.getAs[Long]("n_retained"),
          r.getAs[Long]("n_resurrected"), r.getAs[Long]("n_churned"),
          r.getAs[Long]("net_growth")))).toMap
    assert(got(0L) == ((1L, 1L, 0L, 0L, 0L, 1L)))
    assert(got(1L) == ((2L, 1L, 1L, 0L, 0L, 1L)))
    assert(got(2L) == ((0L, 0L, 0L, 0L, 2L, -2L)), "a zero-activity day must still emit, carrying the churn")
    assert(got(3L) == ((1L, 0L, 0L, 1L, 0L, 1L)))
    assert(got.size == 4, "grid is exactly [min, max] active day")
    // the ledger identity holds on every row
    got.values.foreach { case (a, n, r, s, _, _) => assert(a == n + r + s) }
  }

  test("events_seasonality: arithmetic dow agrees with the calendar; dense zero dows") {
    // 2024-01-01 is a Monday; epoch day (d+3)%7 must read 0
    val mon = java.time.LocalDate.of(2024, 1, 1).toEpochDay * 86400L
    val ev = evDf(Seq(
      (1L, mon + 100L, 1L, "click", 0.0),
      (2L, mon + 200L, 2L, "click", 0.0),
      (3L, mon + 2 * 86400L, 3L, "click", 0.0), // Wednesday
      (4L, mon + 6 * 86400L, 4L, "view", 0.0))) // Sunday
    val rows = Growth.eventsSeasonalityOf(ev).collect()
    val click = rows.filter(_.getAs[String]("event_type") == "click")
      .map(r => r.getAs[Long]("dow") -> ((r.getAs[Long]("n"), r.getAs[Long]("share_bp"),
        r.getAs[Long]("idx_bp")))).toMap
    assert(click.size == 7, "all 7 dows emit per type")
    assert(click(0L) == ((2L, 6666L, 46666L)), "Monday is dow 0")
    assert(click(2L) == ((1L, 3333L, 23333L)))
    assert((1L to 6L).filter(_ != 2L).forall(d => click(d)._1 == 0L))
    val view = rows.filter(_.getAs[String]("event_type") == "view")
      .map(r => r.getAs[Long]("dow") -> r.getAs[Long]("n")).toMap
    assert(view(6L) == 1L, "Sunday is dow 6")
    // cross-check vs java.time on a spread of dates
    for (off <- 0 to 20) {
      val d = java.time.LocalDate.of(2024, 3, 1).plusDays(off)
      val expect = (d.getDayOfWeek.getValue - 1).toLong // java: Monday=1
      assert((d.toEpochDay + 3) % 7 == expect, s"dow arithmetic at $d")
    }
  }

  private def docsDf(rows: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("corpus_gopher_filter: each rule trips on its own crafted doc") {
    val prose = (("the cat and the dog that have been with " * 7).trim + " ok")
    val bullets = (1 to 10).map(i => s"- item $i of the list and that have with").mkString("\n")
    val ell = (1 to 10).map(i => s"the line $i goes on and that have with...").mkString("\n")
    val docs = docsDf(Seq(
      1L -> prose,                        // 71 words, prose: keep
      2L -> "too short to pass the rule", // < 50 words
      3L -> bullets,                      // every line bullet-started
      4L -> ell,                          // every line ellipsis-ended
      5L -> (("12 345 678 " * 20).trim + " the and"), // numeric words: alpha rule
      6L -> ("lorem ipsum dolor sit amet " * 12).trim)) // no gopher stopwords
    val out = CorpusStats.corpusGopherFilterOf(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[Long]("keep") == 1L, "plain prose must pass all seven rules")
    assert(out(2L).getAs[Long]("n_words") == 6L && out(2L).getAs[Long]("keep") == 0L)
    assert(out(3L).getAs[Long]("bullet_bp") == 10000L && out(3L).getAs[Long]("keep") == 0L)
    assert(out(4L).getAs[Long]("ellipsis_bp") == 10000L && out(4L).getAs[Long]("keep") == 0L)
    assert(out(5L).getAs[Long]("alpha_bp") < 8000L && out(5L).getAs[Long]("keep") == 0L)
    assert(out(6L).getAs[Long]("n_stop") < 2L && out(6L).getAs[Long]("keep") == 0L)
  }

  test("corpus_gopher_filter: signal arithmetic replays by hand") {
    val text = "aa bbb- cccc\n- x ...\nwww..."
    val out = CorpusStats.corpusGopherFilterOf(docsDf(Seq(7L -> text))).head()
    // words: aa bbb- cccc - x ... www...  → 7 whitespace tokens
    assert(out.getAs[Long]("n_words") == 7L)
    assert(out.getAs[Long]("n_lines") == 3L)
    // sum of word lengths = 2+4+4+1+1+3+6 = 21 → 21·100 DIV 7 = 300
    assert(out.getAs[Long]("mwl_e2") == 300L)
    // symbols: two '...' occurrences → 2·10⁴ DIV 7 = 2857
    assert(out.getAs[Long]("sym_bp") == 2857L)
    // bullet lines: "- x ..." (and NOT "aa bbb- cccc") → 1 of 3
    assert(out.getAs[Long]("bullet_bp") == 3333L)
    // ellipsis-ended: lines 2 and 3 → 2 of 3
    assert(out.getAs[Long]("ellipsis_bp") == 6666L)
    // words with a letter: all but "-" and "..." → 5 of 7
    assert(out.getAs[Long]("alpha_bp") == 7142L)
  }

  test("text_ttr: type/token/hapax arithmetic, zero-token docs survive") {
    val out = CorpusStats.textTtrOf(docsDf(Seq(
        1L -> "a a a b", 2L -> "x y z", 3L -> "", 4L -> "A a", 5L -> "..!!.."))).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("n_types"), r.getAs[Long]("n_hapax"),
          r.getAs[Long]("ttr_bp"), r.getAs[Long]("hapax_bp")))).toMap
    assert(out(1L) == ((4L, 2L, 1L, 5000L, 5000L)))
    assert(out(2L) == ((3L, 3L, 3L, 10000L, 10000L)))
    assert(out(3L) == ((0L, 0L, 0L, 0L, 0L)), "empty doc emits zeros, not a crash or a dropped row")
    assert(out(4L) == ((2L, 1L, 0L, 5000L, 0L)), "tokens are lowercased before typing")
    assert(out(5L) == ((0L, 0L, 0L, 0L, 0L)), "no [a-z0-9] alphabet tokens")
    assert(out.size == 5)
  }

  private def graphDf(nodes: Seq[String], edges: Seq[(String, String, Long)]): (DataFrame, DataFrame) = {
    import spark.implicits._
    (nodes.toDF("node"), edges.toDF("src", "dst", "w"))
  }

  test("graph_triangles: census on a hand graph — K4 plus pendant, threshold drop") {
    // K4 on a..d (w=100 each way is irrelevant — undirected collapse), a
    // pendant a–e at the same weight, and a weak d–e edge the mean
    // threshold must drop (7 strong pairs ·100 + 1 ·1 → mean 87)
    val und = Seq(("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"),
      ("c", "d"), ("a", "e"))
    val (nodes, edges) = graphDf(Seq("a", "b", "c", "d", "e"),
      und.map { case (x, y) => (x, y, 100L) } :+ (("d", "e", 1L)))
    val got = GraphOps.graphTrianglesOf(nodes, edges).collect()
      .map(r => r.getAs[String]("nation") ->
        ((r.getAs[Long]("degree"), r.getAs[Long]("n_tri"), r.getAs[Long]("tri_possible"),
          r.getAs[Long]("clust_bp")))).toMap
    assert(got("a") == ((4L, 3L, 6L, 5000L)))
    assert(got("b") == ((3L, 3L, 3L, 10000L)))
    assert(got("c") == ((3L, 3L, 3L, 10000L)))
    assert(got("d") == ((3L, 3L, 3L, 10000L)), "weak d-e edge must be thresholded out")
    assert(got("e") == ((1L, 0L, 0L, 0L)))
  }

  test("events_forecast: exactly the trend × seasonality composition, slope replay on a linear series") {
    // type "lin": a clean linear ramp 10+2d events on days 0..6 → the OLS
    // fit is exact (slope 2e6, icept 10e6) and the day-7 trend forecast is
    // 10+2·7 = 24 before dow adjustment
    val mon = java.time.LocalDate.of(2024, 1, 1).toEpochDay * 86400L // Monday
    var id = 0L
    val lin = (0 to 6).flatMap { d =>
      (1 to (10 + 2 * d)).map { _ =>
        id += 1; (id, mon + d * 86400L + id % 3600, (id % 50) + 1, "lin", 0.0)
      }
    }
    val noise = (0 to 6).flatMap { d =>
      (1 to (1 + (d * 3) % 5)).map { _ =>
        id += 1; (id, mon + d * 86400L + id % 3600, (id % 50) + 1, "noisy", 0.0)
      }
    }
    val ev = evDf(lin ++ noise)
    val fc = graft.operators.Growth.eventsForecastOf(ev).collect()
      .map(r => r.getAs[String]("event_type") -> r).toMap
    val linRow = fc("lin")
    assert(linRow.getAs[Long]("slope_e6") == 2000000L)
    assert(linRow.getAs[Long]("pred_trend") == 24L)
    assert(linRow.getAs[Long]("dow") == 0L, "day 7 after a Monday start is a Monday")
    // composition pin: every row equals the formula over the two component
    // ops' own outputs (no independent arithmetic path)
    val trend = graft.operators.Analytics.eventsTrendOf(ev).collect()
      .map(r => r.getAs[String]("event_type") ->
        ((r.getAs[Long]("n_days"), r.getAs[Long]("slope_e6"), r.getAs[Long]("icept_e6")))).toMap
    val season = graft.operators.Growth.eventsSeasonalityOf(ev).collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("dow")) ->
        r.getAs[Long]("idx_bp")).toMap
    fc.values.foreach { r =>
      val t = r.getAs[String]("event_type")
      val (nDays, slope, icept) = trend(t)
      val predTrend = math.max(0L, Math.floorDiv(icept + slope * nDays, 1000000L))
      assert(r.getAs[Long]("pred_trend") == predTrend, s"$t pred_trend")
      val idx = season((t, r.getAs[Long]("dow")))
      assert(r.getAs[Long]("pred_adj") == Math.floorDiv(predTrend * idx, 10000L), s"$t pred_adj")
    }
  }

  test("text_code_detect: code, prose and indented docs route correctly") {
    val code =
      "import os\ndef main(argv):\n    return parse_args(argv);\n" +
      "class Runner:\n    def run(self):\n        for x in self.items:\n" +
      "            self.handle(x);"
    val prose = "the quick brown fox jumps over the lazy dog and " * 8
    val indented = (1 to 10).map(i => s"    step $i of the recipe").mkString("\n")
    val out = CorpusStats.textCodeDetectOf(docsDf(Seq(
        1L -> code, 2L -> prose.trim, 3L -> indented))).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[Long]("is_code") == 1L, "python-ish doc must flag")
    assert(out(1L).getAs[Long]("n_kw") >= 4L)  // import, def, return, class, for
    assert(out(1L).getAs[Long]("ident_bp") > 0L) // parse_args
    assert(out(2L).getAs[Long]("is_code") == 0L, "prose must not flag")
    assert(out(2L).getAs[Long]("sym_bp") == 0L)
    assert(out(3L).getAs[Long]("is_code") == 1L, "heavy indentation flags")
    assert(out(3L).getAs[Long]("indent_bp") == 10000L)
  }

  test("text_markup_detect: tag soup flags, clean prose and bare links don't") {
    val soup = "<div class=\"x\"><p>Hello &amp; welcome</p>&nbsp;&nbsp;" +
      "<a href=\"http://e.com\">here</a></div>"
    val clean = "a perfectly ordinary paragraph about nothing much at all " * 4
    val linky = "read this: https://example.com/post and move on " * 3
    val out = CorpusStats.textMarkupDetectOf(docsDf(Seq(
        1L -> soup, 2L -> clean.trim, 3L -> linky.trim))).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[Long]("is_markup") == 1L)
    assert(out(1L).getAs[Long]("n_tags") == 6L)      // div p /p a /a /div
    assert(out(1L).getAs[Long]("n_entities") == 3L)  // &amp; &nbsp; &nbsp;
    assert(out(1L).getAs[Long]("n_links") == 1L)
    assert(out(2L).getAs[Long]("is_markup") == 0L)
    assert(out(2L).getAs[Long]("n_tags") == 0L)
    assert(out(3L).getAs[Long]("is_markup") == 0L, "links alone are not markup")
    assert(out(3L).getAs[Long]("n_links") == 3L)
  }

  test("events_ab_lift: cells replay from the assignment hash, user-grain conversion") {
    val ev = evDf((1L to 40L).flatMap { u =>
      // every user clicks; users with u % 3 == 0 also purchase
      Seq((u * 10, 1000L + u, u, "click", 0.0)) ++
        (if (u % 3 == 0) Seq((u * 10 + 1, 2000L + u, u, "purchase", 1.0)) else Nil)
    })
    val row = graft.operators.Growth.eventsAbLiftOf(ev).head()
    // replay assignment through the production hash column itself
    import spark.implicits._
    val arms = (1L to 40L).toDF("user_id")
      .select(col("user_id"),
        pmod(graft.operators.TextAnalysis.idHash(col("user_id")), lit(2))
          .cast("long").as("arm"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val aUsers = (1L to 40L).filter(arms(_) == 0L)
    val bUsers = (1L to 40L).filter(arms(_) == 1L)
    assert(row.getAs[Long]("n_a") == aUsers.size.toLong)
    assert(row.getAs[Long]("n_b") == bUsers.size.toLong)
    assert(row.getAs[Long]("conv_a") == aUsers.count(_ % 3 == 0).toLong)
    assert(row.getAs[Long]("conv_b") == bUsers.count(_ % 3 == 0).toLong)
    val expBp = (u: Seq[Long]) =>
      u.count(_ % 3 == 0).toLong * 10000 / math.max(u.size.toLong, 1L)
    assert(row.getAs[Long]("conv_a_bp") == expBp(aUsers))
    assert(row.getAs[Long]("lift_bp") == expBp(aUsers) - expBp(bUsers))
    assert(row.getAs[Long]("n_a") + row.getAs[Long]("n_b") == 40L)
  }

  test("q_revenue_deciles: partition of the customer base, monotone spend") {
    val rows = graft.operators.AnalyticsJoins.qRevenueDeciles(spark, sfDir).collect()
    val nCust = spark.read.parquet(s"$sfDir/customer.parquet").count()
    assert(rows.map(_.getAs[Long]("n_customers")).sum == nCust,
      "deciles must partition the whole customer base, inactive included")
    assert(rows.forall(r => r.getAs[Long]("decile") >= 0 && r.getAs[Long]("decile") <= 9))
    val byDecile = rows.sortBy(_.getAs[Long]("decile"))
    val avgs = byDecile.map(_.getAs[Long]("avg_rev_c"))
    assert(avgs.zip(avgs.tail).forall { case (a, b) => a <= b },
      "average spend must be nondecreasing across deciles")
    byDecile.foreach { r =>
      assert(r.getAs[Long]("sum_rev_c") / r.getAs[Long]("n_customers")
        == r.getAs[Long]("avg_rev_c"))
    }
  }

  test("embed_drift: planted centroid shift lands exactly; one-cohort labels drop") {
    import spark.implicits._
    val emb = Seq(
      (0L, Array(0.1f, 0.2f), 0),  // cohort A (even ids)
      (2L, Array(0.1f, 0.2f), 0),
      (1L, Array(0.1f, 0.25f), 0), // cohort B: dim-1 shifted by +0.05
      (3L, Array(0.1f, 0.25f), 0),
      (4L, Array(0.9f, 0.9f), 1))  // label 1 has no cohort-B vectors
      .toDF("vec_id", "embedding", "label")
    val got = graft.operators.Similarity.embedDriftOf(emb).collect()
    assert(got.length == 1, "a label present in only one cohort has no drift row")
    val r = got.head
    assert(r.getAs[Long]("label") == 0L)
    assert(r.getAs[Long]("n_a") == 2L && r.getAs[Long]("n_b") == 2L)
    // d_e3 per dim: (100-100)=0 and (200-250)=-50 → Σd² = 2500, max |d| = 50
    assert(r.getAs[Long]("shift_sq_e6") == 2500L)
    assert(r.getAs[Long]("max_abs_e3") == 50L)
  }

  test("corpus_cell_topics: planted topic words label their sign-bit cell") {
    import spark.implicits._
    // two cells: docs 1-2 in cell 1 (dim0 ≥ 0), docs 3-4 in cell 0
    val emb = Seq(
      (1L, Array(0.5f, -1f, -1f, -1f, -1f, -1f, -1f, -1f)),
      (2L, Array(0.5f, -1f, -1f, -1f, -1f, -1f, -1f, -1f)),
      (3L, Array(-0.5f, -1f, -1f, -1f, -1f, -1f, -1f, -1f)),
      (4L, Array(-0.5f, -1f, -1f, -1f, -1f, -1f, -1f, -1f)))
      .toDF("vec_id", "embedding")
    val docs = docsDf(Seq(
      1L -> "quantum quantum flux common word",
      2L -> "quantum entangle common word",
      3L -> "recipe recipe butter common word",
      4L -> "recipe flour common word"))
    val got = CorpusStats.corpusCellTopicsOf(docs, emb).collect()
    val top1 = got.filter(_.getAs[Long]("rn") == 1L)
      .map(r => r.getAs[Long]("cell") -> r.getAs[String]("w")).toMap
    assert(top1(1L) == "quantum", s"cell 1 top term: $top1")
    assert(top1(0L) == "recipe")
    // cell-universal words carry zero idf and can never outrank topics
    got.filter(r => Set("common", "word")(r.getAs[String]("w")))
      .foreach(r => assert(r.getAs[Long]("score_e4") == 0L))
    assert(got.forall(r => r.getAs[Long]("rn") <= 3L))
  }

  test("corpus_cluster_topics: trained-quantizer cells label with the same pipeline") {
    val got = CorpusStats.corpusClusterTopics(spark, sfDir).collect()
    assert(got.nonEmpty)
    assert(got.forall(r => r.getAs[Long]("rn") >= 1L && r.getAs[Long]("rn") <= 3L))
    val cells = got.map(_.getAs[Long]("cell")).distinct
    assert(cells.length >= 2, "gate corpus must occupy several trained cells")
    // every cell's terms are distinct and rank-ordered by (score desc, w)
    got.groupBy(_.getAs[Long]("cell")).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getAs[Long]("rn"))
      val scores = sorted.map(_.getAs[Long]("score_e4"))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
      assert(sorted.map(_.getAs[String]("w")).distinct.length == sorted.length)
    }
  }

  test("ft_daily_snapshot: carry-forward, ages, and no rows before a user exists") {
    def at(day: Long, hour: Long, uid: Long, id: Long, v: Double) =
      (id, day * 86400L + hour * 3600L, uid, "click", v)
    val ev = evDf(Seq(
      at(0, 12, 1L, 1L, 1.0), at(2, 6, 1L, 2L, 2.0), // user 1: days 0 and 2
      at(1, 1, 2L, 3L, 5.0),                          // user 2 appears on day 1
      (9L, 2L * 86400L, 9L, "purchase", 9.0)))        // purchases are not features
    val got = graft.operators.FeatureOps.ftDailySnapshotOf(ev).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("day")) ->
        ((r.getAs[Long]("value_e4"), r.getAs[Long]("age_days")))).toMap
    assert(got((1L, 0L)) == ((10000L, 0L)))
    assert(got((1L, 1L)) == ((10000L, 1L)), "day 1 carries day 0's value forward")
    assert(got((1L, 2L)) == ((20000L, 0L)))
    assert(!got.contains((2L, 0L)), "no snapshot before the user's first event")
    assert(got((2L, 1L)) == ((50000L, 0L)))
    assert(got((2L, 2L)) == ((50000L, 1L)))
    assert(!got.contains((9L, 2L)), "purchase-only users are not feature entities")
    assert(got.size == 5)
  }

  test("graph_bfs: hop distances on a path graph, isolated node reads -1") {
    val (nodes, edges) = graphDf(Seq("a", "b", "c", "d"), Seq(
      ("a", "b", 10L), ("b", "c", 10L)))
    val got = GraphOps.graphBfsOf(nodes, edges).collect()
      .map(r => r.getAs[String]("nation") -> r.getAs[Long]("dist")).toMap
    assert(got == Map("a" -> 0L, "b" -> 1L, "c" -> 2L, "d" -> -1L))
  }

  test("corpus_line_dedup: planted boilerplate removed, short separators survive, kept-hash replays") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val banner = "COOKIE BANNER TEXT"
    val docs = docsDf(Seq(
      1L -> s"$banner\nunique alpha\n--",
      2L -> s"$banner\nunique beta",
      3L -> s"$banner\nunique gamma\n--",
      4L -> "just a lonely doc"))
    val got = graft.operators.Dedup.corpusLineDedupOf(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_lines"), r.getAs[Long]("n_removed"),
          r.getAs[String]("kept_md5")))).toMap
    assert(got(1L) == ((3L, 1L, md5hex("unique alpha\n--"))),
      "banner removed (3 docs, ≥10 chars); '--' kept (short)")
    assert(got(2L) == ((2L, 1L, md5hex("unique beta"))))
    assert(got(3L) == ((3L, 1L, md5hex("unique gamma\n--"))))
    assert(got(4L) == ((1L, 0L, md5hex("just a lonely doc"))))
  }

  test("events_funnel_strict: per-stage deadlines, inclusive bounds") {
    val ev = evDf(Seq(
      // user 1: clean strict funnel; purchase at exactly click+24h (inclusive)
      (1L, 1000L, 1L, "view", 0.0), (2L, 2800L, 1L, "click", 0.0),
      (3L, 2800L + 86400L, 1L, "purchase", 1.0),
      // user 2: click 4000 s after the first view — past the 1 h deadline
      (4L, 1000L, 2L, "view", 0.0), (5L, 5100L, 2L, "click", 0.0),
      // user 3: click in time, purchase 1 s past the 24 h deadline
      (6L, 1000L, 3L, "view", 0.0), (7L, 1100L, 3L, "click", 0.0),
      (8L, 1100L + 86401L, 3L, "purchase", 1.0)))
    val r = graft.operators.Analytics.eventsFunnelStrictOf(ev).head()
    assert(r.getAs[Long]("n_view") == 3L)
    assert(r.getAs[Long]("n_click_1h") == 2L, "user 2's late click must not count")
    assert(r.getAs[Long]("n_purchase_24h") == 1L, "user 3's late purchase must not count")
    assert(r.getAs[Long]("click_bp") == 6666L)
    assert(r.getAs[Long]("purchase_bp") == 5000L)
  }

  test("corpus_curation_matrix: quality × duplication cells with per-language shares") {
    import spark.implicits._
    val prose = (("the cat and the dog that have been with " * 7).trim + " ok")
    val docs = Seq(
      (1L, prose, "en"),            // quality pass, original
      (2L, prose, "en"),            // exact dup of 1 (larger id → is_dup)
      (3L, "too short", "en"),      // quality fail, unique
      (4L, prose + " x", "fr"))     // quality pass, unique, other language
      .toDF("doc_id", "text", "lang")
    val got = CorpusStats.corpusCurationMatrixOf(docs).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("quality_keep"),
        r.getAs[Long]("is_dup")) ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("share_bp")))).toMap
    assert(got(("en", 1L, 0L)) == ((1L, 3333L)))
    assert(got(("en", 1L, 1L)) == ((1L, 3333L)), "the md5 twin lands in the dup cell")
    assert(got(("en", 0L, 0L)) == ((1L, 3333L)))
    assert(got(("fr", 1L, 0L)) == ((1L, 10000L)))
    assert(got.size == 4)
  }

  test("corpus_datacard: long-form metrics replay on a hand corpus") {
    import spark.implicits._
    val prose = (("the cat and the dog that have been with " * 7).trim + " ok")
    val docs = Seq(
      (1L, prose, "en"), (2L, prose, "en"), (3L, "tiny", "fr"))
      .toDF("doc_id", "text", "lang")
    val got = CorpusStats.corpusDatacardOf(docs).collect()
      .map(r => r.getAs[String]("metric") -> r.getAs[Long]("value")).toMap
    assert(got("n_docs") == 3L)
    assert(got("n_langs") == 2L)
    assert(got("docs_lang_en") == 2L && got("docs_lang_fr") == 1L)
    assert(got("exact_dup_docs") == 1L)
    assert(got("gopher_keep_docs") == 2L, "both prose copies pass quality")
    assert(got("min_chars") == 4L)
    assert(got("n_chars") == prose.length * 2L + 4L)
    assert(got("n_ws_tokens") == 64L * 2 + 1) // 9 words × 7 + "ok", twice, + "tiny"
  }

  test("corpus_vocab_coverage: bin-grain coverage equals the brute-force top-k cut") {
    // 151 types: "the" × 300 plus 150 singletons — k=100 must take "the"
    // and 99 interchangeable singletons
    val text = (Seq.fill(300)("the") ++ (1 to 150).map(i => f"t$i%03d")).mkString(" ")
    val got = CorpusStats.corpusVocabCoverageOf(docsDf(Seq(1L -> text))).collect()
      .map(r => r.getAs[Long]("k") ->
        ((r.getAs[Long]("n_types_total"), r.getAs[Long]("total_occ"),
          r.getAs[Long]("covered_occ"), r.getAs[Long]("covered_bp")))).toMap
    assert(got(100L) == ((151L, 450L, 399L, 8866L))) // 300 + 99 singles
    assert(got(1000L) == ((151L, 450L, 450L, 10000L)))
    assert(got(10000L) == ((151L, 450L, 450L, 10000L)))
  }

  test("q_yearly_growth: lag wiring and growth formula replay on the gate corpus") {
    val rows = graft.operators.AnalyticsJoins.qYearlyGrowth(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val byNation = rows.groupBy(_.getAs[String]("nation"))
    byNation.values.foreach { rs =>
      val sorted = rs.sortBy(_.getAs[Long]("yr"))
      assert(sorted.head.isNullAt(sorted.head.fieldIndex("prev_rev_c")),
        "first year has no prior")
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(b.getAs[Long]("prev_rev_c") == a.getAs[Long]("rev_c"))
          val expect = (b.getAs[Long]("rev_c") - a.getAs[Long]("rev_c")) * 10000 /
            a.getAs[Long]("rev_c")
          assert(b.getAs[Long]("growth_bp") == expect)
        case _ =>
      }
    }
  }

  test("events_error_budget: dense-grid trailing window stays calendar-true") {
    def at(day: Long, typ: String, id: Long) = (id, day * 86400L + 60L, 1L, typ, 0.0)
    // day 0: 1 error of 2; day 1: quiet (zero traffic); day 8: 1 of 1 ok
    val ev = evDf(Seq(at(0, "error", 1), at(0, "click", 2), at(8, "click", 3)))
    val got = graft.operators.Growth.eventsErrorBudgetOf(ev).collect()
      .map(r => r.getAs[Long]("day") ->
        ((r.getAs[Long]("n_events"), r.getAs[Long]("n_errors"),
          r.getAs[Long]("err_bp"), r.getAs[Long]("err7_bp")))).toMap
    assert(got(0L) == ((2L, 1L, 5000L, 5000L)))
    assert(got(1L) == ((0L, 0L, 0L, 5000L)), "a zero-traffic day still burns the window")
    assert(got(6L) == ((0L, 0L, 0L, 5000L)), "day 0's error is still inside [0..6]")
    assert(got(7L) == ((0L, 0L, 0L, 0L)), "the error ages out of the 7-day frame on day 7")
    assert(got(8L) == ((1L, 0L, 0L, 0L)))
    assert(got.size == 9, "dense [0, 8] grid")
  }

  test("q_priority_mix: shares partition each year, counts cover all orders") {
    val rows = graft.operators.AnalyticsJoins.qPriorityMix(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val nOrders = spark.read.parquet(s"$sfDir/orders.parquet").count()
    assert(rows.map(_.getAs[Long]("n_orders")).sum == nOrders)
    rows.groupBy(_.getAs[Long]("yr")).values.foreach { ys =>
      val bp = ys.map(_.getAs[Long]("share_bp")).sum
      assert(bp >= 10000L - ys.length && bp <= 10000L,
        s"truncating shares must sum to within one ulp per row of 10000, got $bp")
    }
  }

  test("events_session_conversion: session grain, start-day attribution") {
    val ev = evDf(Seq(
      (1L, 1000L, 1L, "view", 0.0), (2L, 1100L, 1L, "purchase", 1.0), // session 1: converts
      (3L, 9000L, 1L, "view", 0.0),                                   // session 2 (gap > 30 min): no
      (4L, 86400L + 500L, 2L, "purchase", 1.0)))                      // next day, converts
    val got = graft.operators.Growth.eventsSessionConversionOf(ev).collect()
      .map(r => r.getAs[Long]("day") ->
        ((r.getAs[Long]("n_sessions"), r.getAs[Long]("n_converted"),
          r.getAs[Long]("conv_bp")))).toMap
    assert(got(0L) == ((2L, 1L, 5000L)))
    assert(got(1L) == ((1L, 1L, 10000L)))
    assert(got.size == 2)
  }

  test("q_repeat_customers: counts bounded by actives, first year has no returners") {
    val rows = graft.operators.AnalyticsJoins.qRepeatCustomers(spark, sfDir).collect()
      .sortBy(_.getAs[Long]("yr"))
    assert(rows.nonEmpty)
    assert(rows.head.getAs[Long]("n_returning") == 0L,
      "nobody can return in the corpus' first year")
    rows.foreach { r =>
      val (a, rep, ret) = (r.getAs[Long]("n_active"),
        r.getAs[Long]("n_repeat"), r.getAs[Long]("n_returning"))
      assert(rep <= a && ret <= a)
      assert(r.getAs[Long]("repeat_bp") == rep * 10000 / a)
      assert(r.getAs[Long]("returning_bp") == ret * 10000 / a)
    }
  }

  test("events_heatmap: arithmetic hour/dow cells on known instants, dense 168 grid") {
    val mon = java.time.LocalDate.of(2024, 1, 1).toEpochDay * 86400L // Monday
    val ev = evDf(Seq(
      (1L, mon + 2 * 3600L + 59L, 1L, "click", 0.0),     // Monday 02:00
      (2L, mon + 2 * 3600L + 3599L, 2L, "click", 0.0),   // Monday 02:59 (same cell)
      (3L, mon + 86400L + 23 * 3600L, 3L, "view", 0.0))) // Tuesday 23:00
    val got = graft.operators.Growth.eventsHeatmapOf(ev).collect()
      .map(r => (r.getAs[Long]("dow"), r.getAs[Long]("hour")) ->
        ((r.getAs[Long]("n"), r.getAs[Long]("share_bp")))).toMap
    assert(got.size == 168, "dense dow×hour grid")
    assert(got((0L, 2L)) == ((2L, 6666L)))
    assert(got((1L, 23L)) == ((1L, 3333L)))
    assert(got.values.map(_._1).sum == 3L)
  }

  test("q_order_gaps: buckets partition the gap set, means replay") {
    val rows = graft.operators.AnalyticsJoins.qOrderGaps(spark, sfDir).collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getAs[Long]("share_bp")).sum <= 10000L)
    val bounds = Map("a_week" -> (1L, 7L), "b_month" -> (8L, 30L),
      "c_quarter" -> (31L, 90L), "d_longer" -> (91L, Long.MaxValue))
    rows.foreach { r =>
      val (lo, hi) = bounds(r.getAs[String]("bucket"))
      val m = r.getAs[Long]("mean_gap_days")
      assert(m >= (lo - 1).max(0) && m <= hi,
        s"${r.getAs[String]("bucket")} mean $m outside its bucket range")
    }
  }

  test("text_script_mix: script classes, dominance and the homoglyph flag") {
    val docs = docsDf(Seq(
      1L -> "plain latin text only here",
      2L -> "pаypаl sеcurity аlert",  // cyrillic а/е homoglyphs inside latin
      3L -> "日本語のテキストです",
      4L -> "12345 67890",
      5L -> "...!!!???",                 // no script-bearing chars at all
      6L -> "shalom שלום today", // latin + Hebrew mix
      7L -> "สวัสดี")) // pure Thai
    val got = CorpusStats.textScriptMixOf(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(got(1L).getAs[Long]("mixed") == 0L)
    assert(got(1L).getAs[Long]("dom_share_bp") == 10000L)
    assert(got(2L).getAs[Long]("mixed") == 1L, "homoglyph doc must flag as mixed")
    assert(got(2L).getAs[Long]("n_cyrillic") == 4L)
    assert(got(3L).getAs[Long]("n_cjk") > 0L && got(3L).getAs[Long]("mixed") == 0L)
    assert(got(4L).getAs[Long]("n_digit") == 10L && got(4L).getAs[Long]("mixed") == 0L)
    assert(got(5L).getAs[Long]("n_script") == 0L && got(5L).getAs[Long]("mixed") == 0L)
    assert(got(5L).getAs[Long]("dom_share_bp") == 0L)
    // unlisted-script letters land in `other`, so the mix is visible
    assert(got(6L).getAs[Long]("n_other") == 4L, "Hebrew letters counted as other")
    assert(got(6L).getAs[Long]("mixed") == 1L,
      "latin+Hebrew mix must flag — the class the op exists to catch")
    assert(got(6L).getAs[Long]("dom_share_bp") < 10000L)
    // 4 Lo letters — the two combining vowel marks are Mn, not \p{L}
    assert(got(7L).getAs[Long]("n_other") == 4L &&
      got(7L).getAs[Long]("mixed") == 0L && got(7L).getAs[Long]("dom_share_bp") == 10000L,
      "pure Thai is other-dominant, coherent, unmixed")
  }

  test("graph_reciprocity: mutual, one-way and isolated nodes") {
    val (nodes, edges) = graphDf(Seq("a", "b", "c", "d", "e"), Seq(
      ("a", "b", 5L), ("b", "a", 5L), ("a", "c", 5L),
      ("c", "d", 5L), ("d", "c", 5L), ("a", "a", 9L))) // self-loop dropped
    val got = GraphOps.graphReciprocityOf(nodes, edges).collect()
      .map(r => r.getAs[String]("nation") ->
        ((r.getAs[Long]("out_deg"), r.getAs[Long]("in_deg"),
          r.getAs[Long]("n_recip"), r.getAs[Long]("recip_bp")))).toMap
    assert(got("a") == ((2L, 1L, 1L, 5000L)))
    assert(got("b") == ((1L, 1L, 1L, 10000L)))
    assert(got("c") == ((1L, 2L, 1L, 10000L)))
    assert(got("d") == ((1L, 1L, 1L, 10000L)))
    assert(got("e") == ((0L, 0L, 0L, 0L)))
  }

  test("graph_triangles: degree-oriented enumeration equals brute force on random graphs") {
    val rnd = new scala.util.Random(88)
    for (trial <- 1 to 6) {
      val n = 6 + rnd.nextInt(8)
      val names = (0 until n).map(i => f"n$i%02d")
      // every undirected pair sums to exactly 10 (reverse edges carry 0) so
      // the mean threshold keeps ALL edges while the both-direction
      // collapse still gets exercised
      val pairs = (for {
        i <- 0 until n; j <- i + 1 until n
        if rnd.nextInt(100) < 35
        e <- if (rnd.nextBoolean()) Seq((names(i), names(j), 10L))
             else Seq((names(i), names(j), 4L), (names(j), names(i), 6L))
      } yield e).toSeq
      val undSet = pairs.map { case (x, y, _) =>
        if (x < y) (x, y) else (y, x) }.toSet
      val adj = undSet.flatMap { case (x, y) => Seq(x -> y, y -> x) }
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
      def triOf(v: String): Long = {
        val nb = adj.getOrElse(v, Set.empty).toSeq
        (for { i <- nb.indices; j <- i + 1 until nb.size
          if undSet.contains(if (nb(i) < nb(j)) (nb(i), nb(j)) else (nb(j), nb(i)))
        } yield 1).size.toLong
      }
      val (nodes, edges) = graphDf(names, pairs)
      val got = GraphOps.graphTrianglesOf(nodes, edges).collect()
        .map(r => r.getAs[String]("nation") -> r.getAs[Long]("n_tri")).toMap
      names.foreach { v =>
        assert(got(v) == triOf(v), s"trial $trial node $v")
      }
    }
  }

  test("events_attribution_decay: dyadic day-grain weights and near-conservation") {
    import spark.implicits._
    def t(day: Long, h: Int) = new java.sql.Timestamp(day * 86400000L + h * 3600000L)
    // one conversion on day 10; touches: 2 clicks same day (w 64 each),
    // 1 view 1 day back (w 32), 1 signup 6 days back (w 1); a day-7 click
    // is OUTSIDE the window; an unrelated user must not leak credit
    val ev = Seq(
      (1L, 100L, t(10, 12), "purchase", 5.0),
      (2L, 100L, t(10, 1), "click", 0.0),
      (3L, 100L, t(10, 2), "click", 0.0),
      (4L, 100L, t(9, 5), "view", 0.0),
      (5L, 100L, t(4, 5), "signup", 0.0),
      (6L, 100L, t(3, 5), "click", 0.0),   // off 7: excluded
      (7L, 200L, t(10, 3), "view", 0.0))   // other user: no conversion
      .toDF("event_id", "user_id", "ts", "event_type", "value")
    val got = graft.operators.Analytics.eventsAttributionDecayOf(ev).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // W = 2*64 + 32 + 1 = 161
    assert(got("click") == ((1L, 128L * 10000 / 161)))
    assert(got("view") == ((1L, 32L * 10000 / 161)))
    assert(got("signup") == ((1L, 10000L / 161)))
    assert(!got.contains("error"))
    // conservation up to truncation: shares sum to 10000 - (<#types)
    val total = got.values.map(_._2).sum
    assert(total <= 10000 && total >= 10000 - 3, s"credit sum $total")
  }

  test("userCoSessionGraphOf: co-active-hour weights with both caps binding") {
    import spark.implicits._
    def t(hr: Long, m: Int) = new java.sql.Timestamp(hr * 3600000L + m * 60000L)
    // hour 0: users 1,2,3 active (u1 3 events, u2 2, u3 1); hour 1: users 1,2
    val ev = Seq(
      (1L, t(0, 1)), (1L, t(0, 2)), (1L, t(0, 3)),
      (2L, t(0, 10)), (2L, t(0, 11)),
      (3L, t(0, 20)),
      (1L, t(1, 5)), (2L, t(1, 6))).toDF("user_id", "ts")
    // uncapped: all three co-occur in hour 0, (1,2) also in hour 1
    val full = GraphOps.userCoSessionGraphOf(ev, topPerHour = 20, topNeighbors = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(full == Map((1L, 2L) -> 2L, (1L, 3L) -> 1L, (2L, 3L) -> 1L))
    // per-hour cap 2: hour 0 keeps the top-2 by activity (u1, u2); u3's
    // pairs vanish — the bound that keeps the pair join C²-per-hour
    val capped = GraphOps.userCoSessionGraphOf(ev, topPerHour = 2, topNeighbors = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(capped == Map((1L, 2L) -> 2L))
    // neighbor cap 1: user 1 keeps only its heaviest co-occurrer (u2,
    // weight 2 beats u3's 1) — bounded degree for downstream iteration
    val nb = GraphOps.userCoSessionGraphOf(ev, topPerHour = 20, topNeighbors = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(nb == Map((1L, 2L) -> 2L, (2L, 3L) -> 1L))
  }
}
