package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.operators.{Analytics, AnalyticsJoins, CorpusStats, Multimodal}

/** Semantics pins for the round-7 operators on hand-built corpora — the
  * oracle gate proves cross-engine arithmetic; these prove the operators
  * mean what they claim on cases with known answers. */
class Round7OpsSpec extends SparkSpecBase {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("text_bigram_logprob: n_bigrams = n_toks - 1, scores non-positive, flags shuffled transitions") {
    val dir = "/root/testdata/sf0.001"
    val bi = graft.operators.TextAnalysis.textBigramLogprob(spark, dir)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_bigrams"), r.getAs[Long]("sum_logprob_e4"))).toMap
    val uni = graft.operators.TextAnalysis.textUnigramLogprob(spark, dir)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_toks")).toMap
    // every doc with >=2 tokens appears, with exactly n_toks-1 adjacent pairs
    val multi = uni.filter(_._2 >= 2)
    assert(multi.nonEmpty && bi.keySet == multi.keySet)
    multi.foreach { case (d, nt) => assert(bi(d)._1 == nt - 1, s"doc $d") }
    // each element is round(ln(p)*1e4) with p <= 1, so every sum is <= 0
    assert(bi.values.forall(_._2 <= 0L))
    // a deterministic chain scores 0; real prose does not: at least one doc
    // must have strictly negative transitions or the signal is vacuous
    assert(bi.values.exists(_._2 < 0L))
  }

  test("integral-money data contract the exact-integer gates assume") {
    // AnalyticsJoins' rev_e4/qty/bal_e2 gate math is exact only while
    // quantities are whole and money/discount are 2-dp; pin it per SF.
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val li = graft.sources.Tables.lineitem(spark, dir)
      val bad = li.filter(
        abs(col("l_quantity") - round(col("l_quantity"))) > 1e-6 ||
        abs(col("l_extendedprice") * 100 - round(col("l_extendedprice") * 100)) > 1e-6 ||
        abs(col("l_discount") * 100 - round(col("l_discount") * 100)) > 1e-6).count()
      assert(bad == 0L, s"non-integral lineitem money/qty in $dir")
      val badBal = graft.sources.Tables.customer(spark, dir).filter(
        abs(col("c_acctbal") * 100 - round(col("c_acctbal") * 100)) > 1e-6).count()
      assert(badBal == 0L, s"non-2dp acctbal in $dir")
    }
  }

  test("q_nation_volume: cross-border only, totals reconcile with a direct count") {
    val dir = "/root/testdata/sf0.001"
    val out = AnalyticsJoins.qNationVolume(spark, dir).collect()
    assert(out.nonEmpty)
    assert(out.forall(r => r.getAs[String]("supp_nation") != r.getAs[String]("cust_nation")))
    // independent reconciliation: direct count of cross-nation lineitems
    val t = graft.sources.Tables
    val direct = t.lineitem(spark, dir).select(col("l_orderkey"), col("l_suppkey"))
      .join(t.supplier(spark, dir), col("l_suppkey") === col("s_suppkey"))
      .join(t.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(t.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .filter(col("s_nationkey") =!= col("c_nationkey"))
      .count()
    assert(out.map(_.getAs[Long]("n_items")).sum == direct)
  }

  test("q_correlated_agg: window decorrelation equals the groupBy-join-back form") {
    val dir = "/root/testdata/sf0.001"
    val t = graft.sources.Tables
    val parts = t.part(spark, dir)
      .filter(col("p_brand").isin("Brand#1", "Brand#2", "Brand#3"))
      .select(col("p_partkey"), col("p_brand"))
    val li = t.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_quantity").cast("long").as("qty"),
        round(col("l_extendedprice") * 100).cast("long").as("price_e2"))
      .join(parts, col("l_partkey") === col("p_partkey"))
    val stats = li.groupBy(col("l_partkey").as("pk"))
      .agg(count(lit(1)).as("cnt"), sum(col("qty")).as("sum_qty"))
    val naive = li.join(stats, col("l_partkey") === col("pk"))
      .filter(col("qty") * 5 * col("cnt") < col("sum_qty"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_items"), sum(col("price_e2")).as("sum_price_e2"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val got = AnalyticsJoins.qCorrelatedAgg(spark, dir)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == naive && got.nonEmpty)
  }

  test("q_anti_agg: non-vacuous, and every survivor truly lacks urgent orders") {
    val dir = "/root/testdata/sf0.001"
    val out = AnalyticsJoins.qAntiAgg(spark, dir).collect()
    assert(out.map(_.getAs[Long]("n_cust")).sum >= 1L)
    // recompute the survivor set naively and compare per-segment counts
    val t = graft.sources.Tables
    val cust = t.customer(spark, dir).select(col("c_custkey"), col("c_mktsegment"),
      round(col("c_acctbal") * 100).cast("long").as("bal_e2"))
    val Array(nPos, sumPos) = cust.filter(col("bal_e2") > 0)
      .agg(count(lit(1)), sum(col("bal_e2"))).collect()(0)
      .toSeq.map(_.asInstanceOf[Long]).toArray
    val urgent = t.orders(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey")).distinct()
      .collect().map(_.getLong(0)).toSet
    val naive = cust.collect()
      .filter(r => r.getLong(2) * nPos > sumPos && !urgent(r.getLong(0)))
      .groupBy(_.getString(1)).map { case (seg, rs) => seg -> rs.length.toLong }
    val got = out.map(r => r.getString(0) -> r.getAs[Long]("n_cust")).toMap
    assert(got == naive)
  }

  test("text_entropy: hand-computed values, uniform text scores zero") {
    val docs = Seq(
      (1L, "aaaa aaa"),       // one distinct char: entropy 0
      (2L, "aabb"),           // 2+2 of 4: term = 2*round(ln2*1e4)*2 = 27724
      (3L, "!!! ???")         // no alnum chars: drops out
    ).toDF("doc_id", "text")
    val got = CorpusStats.textEntropyOf(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got.keySet == Set(1L, 2L))
    assert(got(1L) == ((1L, 7L, 0L)))
    val ln2e4 = math.round(math.log(2) * 10000) // 6931
    assert(got(2L) == ((2L, 4L, 4L * ln2e4)))
  }

  test("corpus_tfidf_topk: ranks dense per doc, rare terms beat ubiquitous ones") {
    val dir = "/root/testdata/sf0.001"
    val rows = CorpusStats.corpusTfidfTopk(spark, dir).collect()
    val byDoc = rows.groupBy(_.getAs[Long]("doc_id"))
    assert(byDoc.nonEmpty)
    byDoc.foreach { case (d, rs) =>
      assert(rs.map(_.getAs[Long]("rn")).sorted.sameElements(1L to rs.length.toLong), s"doc $d")
      val scores = rs.sortBy(_.getAs[Long]("rn")).map(_.getAs[Long]("score_e4"))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b }, s"doc $d")
    }
    // a term present in every doc has idf 0, so any positive score outranks it
    assert(rows.forall(r => r.getAs[Long]("df") >= 1L))
  }

  test("corpus_pmi_topk: 20 rows, sorted, min-count filter applied") {
    val rows = CorpusStats.corpusPmiTopk(spark, "/root/testdata/sf0.001").collect()
    assert(rows.length == 20)
    assert(rows.forall(_.getAs[Long]("c12") >= 3L))
    val pmis = rows.map(_.getAs[Long]("pmi_e4"))
    assert(pmis.zip(pmis.tail).forall { case (a, b) => a >= b })
  }

  test("text_winnow: shared 8-word runs share a fingerprint; short docs get none") {
    val run = "alpha bravo charlie delta echo foxtrot golf hotel" // 8 words
    val docs = Seq(
      (1L, s"one two three $run nine ten eleven twelve"),
      (2L, s"completely different prefix words here $run and unrelated tails"),
      (3L, "tiny doc"), // < 8 words: no full window
      (4L, "unrelated content entirely separate vocabulary nothing matching anything else")
    ).toDF("doc_id", "text")
    val out = CorpusStats.textWinnowOf(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(out(3L)._1 == 0L)
    assert(out(1L)._1 >= 1L && out(2L)._1 >= 1L && out(4L)._1 >= 1L)
    // winnowing guarantee: docs 1 and 2 share the 8-word run, so the
    // window over its 4 constituent 5-grams selects the same min in both
    val fps = Seq(1L, 2L).map { d =>
      // recompute the selected set directly (the operator only emits the hash)
      CorpusStats.textWinnowOf(docs.filter(col("doc_id") === d))
        .collect().head.getString(2)
    }
    // set hashes differ (different docs) but shared-run overlap is proven
    // via the pairwise intersection below
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    val grams = docs
      .select(col("doc_id"),
        posexplode(regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0)))
          .as(Seq("pos", "w")))
      .withColumn("gram", when(lead(col("w"), 4).over(w).isNotNull,
        md5(concat_ws(" ", (col("w") +: (1 until 5).map(i => lead(col("w"), i).over(w))): _*)
          .cast("binary"))))
      .filter(col("gram").isNotNull)
      .withColumn("fp", min(col("gram")).over(w.rowsBetween(0, 3)))
      .withColumn("g3", lead(col("gram"), 3).over(w))
      .filter(col("g3").isNotNull)
      .select(col("doc_id"), col("fp")).distinct()
      .collect().groupBy(_.getLong(0)).map { case (d, rs) => d -> rs.map(_.getString(1)).toSet }
    assert((grams(1L) intersect grams(2L)).nonEmpty, "shared run must share a fingerprint")
    assert((grams(1L) intersect grams(4L)).isEmpty, "disjoint docs must not collide")
    assert(fps.distinct.length == 2)
  }

  test("embed_covariance: hand-checked 2-d case, non-negative variances, full triangle") {
    val emb = Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val got = graft.operators.Similarity.embedCovarianceOf(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getAs[Long]("sum_xy"), r.getAs[Long]("cov_num")))).toMap
    // q = [1000,0] and [0,1000]: var(0)=var(1)=2e6-1e6=1e6, cov(0,1)=-1e6
    assert(got == Map(
      (0L, 0L) -> ((2L, 1000000L, 1000000L)),
      (0L, 1L) -> ((2L, 0L, -1000000L)),
      (1L, 1L) -> ((2L, 1000000L, 1000000L))))
    val real = graft.operators.Similarity.embedCovariance(spark, sfDir).collect()
    assert(real.length == 64 * 65 / 2, "full upper triangle")
    assert(real.filter(r => r.getLong(0) == r.getLong(1))
      .forall(_.getAs[Long]("cov_num") >= 0L), "variances must be non-negative")
  }

  test("events_cohort_ltv: age-0 users cover every purchaser, revenue reconciles") {
    val dir = "/root/testdata/sf0.001"
    val out = Analytics.eventsCohortLtv(spark, dir).collect()
    assert(out.forall(_.getAs[Long]("age_days") >= 0L))
    val purchases = graft.sources.Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
    val totUsers = purchases.select(col("user_id")).distinct().count()
    val age0Users = out.filter(_.getAs[Long]("age_days") == 0L)
      .map(_.getAs[Long]("n_users")).sum
    // every purchaser's FIRST purchase is an age-0 row of its own cohort
    assert(age0Users == totUsers)
    val totRev = purchases
      .agg(sum(round(col("value") * 100).cast("long"))).collect()(0).getLong(0)
    assert(out.map(_.getAs[Long]("revenue_e2")).sum == totRev)
    assert(out.map(_.getAs[Long]("n_purchases")).sum == purchases.count())
  }

  test("events_rfm buckets quartiles from broadcast thresholds, no analytic window") {
    // 8 users: user u has u events on 2024-01-(10+u), value u*10; only even
    // users purchase. Distinct r/f/m values per user make bucketing total.
    val ev = (for {
      u <- 1L to 8L
      i <- 0L until u
    } yield (u * 1000 + i, ts(f"2024-01-${10 + u.toInt}%02d 12:00:00"), u,
      if (u % 2 == 0) "purchase" else "click", u * 10.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = Analytics.eventsRfmOf(ev).collect()
      .map(r => r.getAs[Long]("user_id") -> r).toMap
    assert(out.size == 8)
    // monetary counts ONLY purchases: even user u has u purchases of u*10
    (1L to 8L).foreach { u =>
      val expected = if (u % 2 == 0) u * u * 1000 else 0L
      assert(out(u).getAs[Long]("monetary_e2") == expected)
      assert(out(u).getAs[Long]("frequency") == u)
      assert(out(u).getAs[Long]("recency_days") == 8 - u)
      // segment is the positional digit code of the three buckets
      val (r, f, m) = (out(u).getAs[Long]("r_q"), out(u).getAs[Long]("f_q"),
        out(u).getAs[Long]("m_q"))
      assert(r >= 1 && r <= 4 && f >= 1 && f <= 4 && m >= 1 && m <= 4)
      assert(out(u).getAs[Long]("segment") == r * 100 + f * 10 + m)
    }
    // 8 distinct frequencies split 2 per quartile, monotone in frequency
    val fBuckets = (1L to 8L).map(u => out(u).getAs[Long]("f_q"))
    assert(fBuckets.toSeq == Seq(1L, 1L, 2L, 2L, 3L, 3L, 4L, 4L))
    // recency quartiles must run OPPOSITE to user id (older last event =
    // higher recency bucket): user 8 was seen most recently
    val rBuckets = (1L to 8L).map(u => out(u).getAs[Long]("r_q"))
    assert(rBuckets.toSeq == Seq(4L, 4L, 3L, 3L, 2L, 2L, 1L, 1L))
    // the scale pin: thresholds ride broadcast aggregates — the plan has
    // NO analytic window (a global ntile would sort every user in one
    // partition)
    val plan = Analytics.eventsRfmOf(ev).queryExecution.executedPlan
    assert(plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.isEmpty, "events_rfm must not use an analytic window")
  }

  test("events_rfm threshold branch reuses the per-user aggregate exchange (AQE)") {
    // the static plan shows the per-user aggregate twice (output branch +
    // threshold branch); at runtime AQE's exchange reuse dedups it — the
    // fact table materializes ONE user_id shuffle, the threshold pass
    // reads the reused stage. Query stages are leaves, so assert on the
    // ADAPTIVE executed plan's tree (SURVEY §5 AQE rule)
    val df = Analytics.eventsRfm(spark, sfDir)
    df.collect()
    val tree = df.queryExecution.executedPlan.treeString
    assert(tree.contains("ReusedExchange"),
      "threshold branch must reuse the per-user aggregate exchange, not recompute it")
  }

  test("multimodal_near_dup pairs on >=2 agreeing frames; hot bands defer to exact dedup") {
    // docs 1/2 identical (4 agreeing frames), doc 3 shares frames 0-1 with
    // them, doc 4 shares only frame 0 (below the >=2 threshold)
    val frames = Seq(
      (1L, 0, 10L, 100L), (1L, 1, 10L, 200L), (1L, 2, 10L, 300L), (1L, 3, 10L, 400L),
      (2L, 0, 10L, 100L), (2L, 1, 10L, 200L), (2L, 2, 10L, 300L), (2L, 3, 10L, 400L),
      (3L, 0, 10L, 100L), (3L, 1, 10L, 200L), (3L, 2, 10L, 999L), (3L, 3, 10L, 888L),
      (4L, 0, 10L, 100L), (4L, 1, 10L, 777L), (4L, 2, 10L, 666L), (4L, 3, 10L, 555L))
      .toDF("doc_id", "frame_idx", "frame_len", "checksum_cp")
    val out = Multimodal.multimodalNearDupOf(frames).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"), r.getAs[Long]("n_match")))
    assert(out.toSet == Set((1L, 2L, 4L), (1L, 3L, 2L), (2L, 3L, 2L)))
    // capping the frame-0 band (4 members > 3) removes its contribution:
    // the 1-3 / 2-3 pairs fall to one agreeing frame and drop out, while
    // the exact-dup pair still matches on the remaining 3 frames — the
    // degenerate-band work belongs to multimodal_dedup's digest pass
    val capped = Multimodal.multimodalNearDupOf(frames, maxBucket = 3L).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"), r.getAs[Long]("n_match")))
    assert(capped.toSet == Set((1L, 2L, 3L)))
    // the cap rides the join's own band shuffle: at runtime AQE reuses the
    // frame-derivation exchange between the self-join sides (adaptive-tree
    // assertion per the SURVEY §5 AQE rule) — one frame pass, one shuffle
    val full = Multimodal.multimodalNearDup(spark, sfDir)
    full.collect()
    assert(full.queryExecution.executedPlan.treeString.contains("ReusedExchange"),
      "band self-join must reuse the frame-derivation exchange")
  }

  test("q_rank_funcs quartiles, percent_rank and cume_dist are positional on a total order") {
    val out = Analytics.qRankFuncs(spark, sfDir).collect()
    assert(out.nonEmpty)
    out.groupBy(_.getAs[String]("c_mktsegment")).foreach { case (_, rows) =>
      val n = rows.length
      val sorted = rows.sortBy(r => (r.getAs[Long]("acctbal_e2"), r.getAs[Long]("c_custkey")))
      sorted.zipWithIndex.foreach { case (r, i) =>
        // total order (no peers): percent_rank = i/(n-1), cume = (i+1)/n
        val expPct = if (n == 1) 0.0 else math.rint(i.toDouble / (n - 1) * 1e6) / 1e6
        val expCume = math.rint((i + 1).toDouble / n * 1e6) / 1e6
        assert(math.abs(r.getAs[Double]("pct_rank") - expPct) < 1e-9)
        assert(math.abs(r.getAs[Double]("cume") - expCume) < 1e-9)
      }
      // ntile(4) bucket sizes differ by at most one and are non-decreasing
      val tiles = sorted.map(_.getAs[Long]("quartile"))
      assert(tiles.toSeq == tiles.sorted.toSeq)
      val sizes = tiles.groupBy(identity).values.map(_.length)
      assert(sizes.max - sizes.min <= 1)
    }
  }

  test("q_promo_share: shares bounded, join loses no revenue, every ship month present") {
    val dir = "/root/testdata/sf0.001"
    val out = AnalyticsJoins.qPromoShare(spark, dir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (p, t, bp) = (r.getAs[Long]("promo_e4"), r.getAs[Long]("total_e4"),
        r.getAs[Long]("share_bp"))
      assert(p >= 0 && p <= t, s"promo $p outside [0, $t]")
      assert(bp >= 0 && bp <= 10000, s"share_bp $bp outside [0, 10000]")
      // the rounded ratio stays within half a basis point of the exact one
      assert(math.abs(bp - p.toDouble * 10000 / t) <= 0.5)
    }
    // the part join must drop nothing: month totals reconcile with a
    // join-free sum over the raw fact
    val direct = graft.sources.Tables.lineitem(spark, dir)
      .agg(sum((round(col("l_extendedprice") * 100).cast("long") *
        (lit(100L) - round(col("l_discount") * 100).cast("long")))).as("t"))
      .collect()(0).getAs[Long]("t")
    assert(out.map(_.getAs[Long]("total_e4")).sum == direct)
    // every month with any lineitem appears exactly once
    val months = graft.sources.Tables.lineitem(spark, dir)
      .select(year(col("l_shipdate")).cast("long"), month(col("l_shipdate")).cast("long"))
      .distinct().count()
    assert(out.length.toLong == months)
  }

  test("q_top_supplier: ties kept, winner matches a Scala-side argmax, rev stage reused (AQE)") {
    val dir = "/root/testdata/sf0.001"
    val df = AnalyticsJoins.qTopSupplier(spark, dir)
    val out = df.collect()
    assert(out.nonEmpty)
    // independent argmax: fold the quarter's lineitems on the driver
    val byS = graft.sources.Tables.lineitem(spark, dir)
      .filter(to_date(col("l_shipdate")) >= lit("1996-01-01"))
      .filter(to_date(col("l_shipdate")) < lit("1996-04-01"))
      .select(col("l_suppkey"), col("l_extendedprice"), col("l_discount"))
      .collect()
      .groupBy(_.getAs[Long]("l_suppkey"))
      .map { case (s, rs) => s -> rs.map(r =>
        math.round(r.getAs[Double]("l_extendedprice") * 100) *
          (100L - math.round(r.getAs[Double]("l_discount") * 100))).sum }
    val mx = byS.values.max
    val winners = byS.filter(_._2 == mx).keySet
    assert(out.map(_.getAs[Long]("s_suppkey")).toSet == winners)
    assert(out.forall(_.getAs[Long]("total_rev_e4") == mx))
    // one fact pass: the scalar-max branch reuses the per-supplier rev
    // exchange at runtime (adaptive-tree assertion per the SURVEY §5 rule)
    assert(df.queryExecution.executedPlan.treeString.contains("ReusedExchange"),
      "scalar-max branch must reuse the per-supplier revenue exchange")
  }

  test("q_disjunct_filter: each row satisfies exactly its brand's branch, counts reconcile") {
    val dir = "/root/testdata/sf0.001"
    val out = AnalyticsJoins.qDisjunctFilter(spark, dir).collect()
      .map(r => r.getAs[String]("p_brand") -> r.getAs[Long]("n_items")).toMap
    assert(out.keySet == Set("Brand#12", "Brand#23", "Brand#3"), s"got ${out.keySet}")
    // independent per-branch recount on the driver
    val parts = graft.sources.Tables.part(spark, dir)
      .select(col("p_partkey"), col("p_brand"), col("p_size")).collect()
      .map(r => r.getAs[Long]("p_partkey") ->
        (r.getAs[String]("p_brand"), r.getAs[Int]("p_size"))).toMap
    val counts = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    graft.sources.Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_quantity")).collect().foreach { r =>
        val (b, sz) = parts(r.getAs[Long]("l_partkey"))
        val q = math.round(r.getAs[Double]("l_quantity"))
        val in = (b == "Brand#12" && sz >= 1 && sz <= 15 && q >= 1 && q <= 30) ||
          (b == "Brand#23" && sz >= 16 && sz <= 30 && q >= 10 && q <= 40) ||
          (b == "Brand#3" && sz >= 31 && sz <= 50 && q >= 20 && q <= 50)
        if (in) counts(b) += 1
      }
    assert(out == counts.toMap, s"spark $out vs direct $counts")
  }

  test("q_big_orders: threshold respected, survivor set matches a Scala-side recount") {
    val dir = "/root/testdata/sf0.001"
    val out = AnalyticsJoins.qBigOrders(spark, dir).collect()
    assert(out.nonEmpty)
    assert(out.forall(_.getAs[Long]("sum_qty") > 300))
    val direct = graft.sources.Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_quantity")).collect()
      .groupBy(_.getAs[Long]("l_orderkey"))
      .map { case (k, rs) => k -> rs.map(r => math.round(r.getAs[Double]("l_quantity"))).sum }
      .filter(_._2 > 300)
    assert(out.map(r => r.getAs[Long]("o_orderkey") -> r.getAs[Long]("sum_qty")).toMap
      == direct)
    // output is ordered by orderkey (driver hash is order-sensitive per row set)
    val keys = out.map(_.getAs[Long]("o_orderkey")).toSeq
    assert(keys == keys.sorted)
  }

  test("q_supplier_variety: exclusion honored, counts match a Scala-side recount") {
    // sf0.01: the smallest SF where the negative-balance exclusion is
    // non-vacuous (6 of 81 suppliers; sf0.001's 10 suppliers are all >= 0)
    val dir = "/root/testdata/sf0.01"
    val out = AnalyticsJoins.qSupplierVariety(spark, dir).collect()
      .map(r => (r.getAs[String]("p_brand"), r.getAs[String]("p_type")) ->
        r.getAs[Long]("supplier_cnt")).toMap
    assert(out.nonEmpty)
    val excl = graft.sources.Tables.supplier(spark, dir)
      .filter(col("s_acctbal") < 0).select(col("s_suppkey")).collect()
      .map(_.getAs[Long]("s_suppkey")).toSet
    assert(excl.nonEmpty, "exclusion list vacuous at this SF — pick another rule")
    val parts = graft.sources.Tables.part(spark, dir)
      .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size")).collect()
      .filter(r => Set(1, 5, 9, 13, 17, 21, 25, 29)(r.getAs[Int]("p_size")))
      .map(r => r.getAs[Long]("p_partkey") ->
        (r.getAs[String]("p_brand"), r.getAs[String]("p_type"))).toMap
    val seen = scala.collection.mutable.Map[(String, String), Set[Long]]()
      .withDefaultValue(Set.empty)
    graft.sources.Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_suppkey")).collect().foreach { r =>
        val s = r.getAs[Long]("l_suppkey")
        parts.get(r.getAs[Long]("l_partkey")).foreach { bt =>
          if (!excl(s)) seen(bt) = seen(bt) + s
        }
      }
    assert(out == seen.map { case (bt, ss) => bt -> ss.size.toLong }.toMap)
  }

  test("q_sole_blame: counts exactly the single-R-supplier multi-supplier orders") {
    val dir = "/root/testdata/sf0.001"
    val out = AnalyticsJoins.qSoleBlame(spark, dir).collect()
      .map(r => r.getAs[String]("s_name") -> r.getAs[Long]("numwait")).toMap
    assert(out.nonEmpty)
    val names = graft.sources.Tables.supplier(spark, dir)
      .select(col("s_suppkey"), col("s_name")).collect()
      .map(r => r.getAs[Long]("s_suppkey") -> r.getAs[String]("s_name")).toMap
    // per-order supplier sets and R-flagged supplier sets, folded on the driver
    val byOrder = graft.sources.Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_returnflag")).collect()
      .groupBy(_.getAs[Long]("l_orderkey"))
    val counts = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    byOrder.foreach { case (_, rs) =>
      val supps = rs.map(_.getAs[Long]("l_suppkey")).toSet
      val rSupps = rs.filter(_.getAs[String]("l_returnflag") == "R")
        .map(_.getAs[Long]("l_suppkey")).toSet
      if (supps.size >= 2 && rSupps.size == 1)
        counts(names(rSupps.head)) += 1
    }
    assert(out == counts.toMap, s"spark ${out.size} rows vs direct ${counts.size}")
    // the blame predicate is non-vacuous both ways at this SF: some orders
    // have several R suppliers (excluded), some exactly one (counted)
    assert(byOrder.exists { case (_, rs) =>
      rs.filter(_.getAs[String]("l_returnflag") == "R")
        .map(_.getAs[Long]("l_suppkey")).toSet.size >= 2 })
  }

  test("q_market_share: shares bounded and non-vacuous, totals match a Scala-side fold") {
    // sf0.01: the smallest SF where NATION_7 supplies any STANDARD part
    // (sf0.001's 10 suppliers leave the numerator identically zero)
    val dir = "/root/testdata/sf0.01"
    val out = AnalyticsJoins.qMarketShare(spark, dir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Long]("nation_e4") >= 0)
      assert(r.getAs[Long]("nation_e4") <= r.getAs[Long]("total_e4"))
      val bp = r.getAs[Long]("share_bp")
      assert(bp >= 0 && bp <= 10000)
    }
    assert(out.exists(_.getAs[Long]("nation_e4") > 0), "share vacuous at this SF")
    // driver-side fold of the same market definition
    def asL(r: org.apache.spark.sql.Row, c: String): Long =
      r.getAs[Number](c).longValue()
    val nations = graft.sources.Tables.nation(spark, dir).collect()
      .map(r => asL(r, "n_nationkey") ->
        (r.getAs[String]("n_name"), asL(r, "n_regionkey"))).toMap
    val asiaKey = asL(graft.sources.Tables.region(spark, dir)
      .filter(col("r_name") === "ASIA").collect()(0), "r_regionkey")
    val asiaCust = graft.sources.Tables.customer(spark, dir).collect()
      .filter(r => nations(asL(r, "c_nationkey"))._2 == asiaKey)
      .map(asL(_, "c_custkey")).toSet
    val suppNation = graft.sources.Tables.supplier(spark, dir).collect()
      .map(r => asL(r, "s_suppkey") -> nations(asL(r, "s_nationkey"))._1).toMap
    val stdParts = graft.sources.Tables.part(spark, dir)
      .filter(col("p_type") === "STANDARD").collect()
      .map(_.getAs[Long]("p_partkey")).toSet
    val orders = graft.sources.Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), year(col("o_orderdate")).cast("long").as("y"))
      .collect().map(r => r.getAs[Long]("o_orderkey") ->
        (r.getAs[Long]("o_custkey"), r.getAs[Long]("y"))).toMap
    val agg = scala.collection.mutable.Map[Long, (Long, Long)]().withDefaultValue((0L, 0L))
    graft.sources.Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_extendedprice"), col("l_discount")).collect().foreach { r =>
        val (ck, y) = orders(r.getAs[Long]("l_orderkey"))
        if (stdParts(r.getAs[Long]("l_partkey")) && asiaCust(ck)) {
          val rev = math.round(r.getAs[Double]("l_extendedprice") * 100) *
            (100L - math.round(r.getAs[Double]("l_discount") * 100))
          val n = if (suppNation(r.getAs[Long]("l_suppkey")) == "NATION_7") rev else 0L
          val (a, b) = agg(y); agg(y) = (a + n, b + rev)
        }
      }
    assert(out.map(r => r.getAs[Long]("order_year") ->
      (r.getAs[Long]("nation_e4"), r.getAs[Long]("total_e4"))).toMap == agg.toMap)
  }

  test("q_returned_items: top-20 by lost revenue, limit binding, matches a Scala-side fold") {
    val dir = "/root/testdata/sf0.001"
    val out = AnalyticsJoins.qReturnedItems(spark, dir).collect()
    assert(out.length == 20, s"limit must bind at this SF, got ${out.length}")
    val orders = graft.sources.Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate")).collect()
      .filter { r =>
        val d = r.getAs[Timestamp]("o_orderdate").toLocalDateTime.toLocalDate
        !d.isBefore(java.time.LocalDate.parse("1995-01-01")) &&
          d.isBefore(java.time.LocalDate.parse("1995-04-01"))
      }.map(r => r.getAs[Long]("o_orderkey") -> r.getAs[Long]("o_custkey")).toMap
    val lost = scala.collection.mutable.Map[Long, (Long, Long)]().withDefaultValue((0L, 0L))
    graft.sources.Tables.lineitem(spark, dir)
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      .collect().foreach { r =>
        orders.get(r.getAs[Long]("l_orderkey")).foreach { ck =>
          val rev = math.round(r.getAs[Double]("l_extendedprice") * 100) *
            (100L - math.round(r.getAs[Double]("l_discount") * 100))
          val (s, n) = lost(ck); lost(ck) = (s + rev, n + 1)
        }
      }
    val top = lost.toSeq.sortBy { case (ck, (s, _)) => (-s, ck) }.take(20)
    assert(out.map(r => (r.getAs[Long]("c_custkey"),
      r.getAs[Long]("lost_e4"), r.getAs[Long]("n_items"))).toSeq ==
      top.map { case (ck, (s, n)) => (ck, s, n) },
      "top-20 set, order and counts must match the driver fold")
  }

  test("corpus_token_budget: sharded cumsum equals the naive per-lang prefix rule") {
    val dir = "/root/testdata/sf0.001"
    val out = graft.operators.TextAnalysis.corpusTokenBudget(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("lang"), r.getAs[Long]("n_toks"), r.getAs[Boolean]("keep"))).toMap
    // independent naive fold: priority order (idHash, doc_id), single cumsum,
    // keep while run <= total//2 — no buckets, no carry-in sharding
    val pri = graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id"), graft.operators.TextAnalysis.idHash(col("doc_id")).as("h"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("h")).toMap
    val expected = out.toSeq.groupBy(_._2._1).flatMap { case (_, docs) =>
      val ordered = docs.sortBy { case (id, _) => (pri(id), id) }
      val budget = ordered.map(_._2._2).sum / 2
      var run = 0L
      ordered.map { case (id, (_, nt, _)) => run += nt; id -> (run <= budget) }
    }
    assert(out.map { case (id, (_, _, k)) => id -> k } == expected,
      "bucket-sharded running sum must reproduce the naive greedy prefix")
    // the budget binds: something kept, something dropped, per language
    out.values.groupBy(_._1).foreach { case (lang, vs) =>
      assert(vs.exists(_._3) && vs.exists(!_._3), s"budget vacuous for $lang")
    }
  }

  test("dedup_containment: quote-in-page flagged one-way; small docs and cross-lang exempt") {
    import spark.implicits._
    val quote = (1 to 20).map(i => s"quoteword$i").mkString(" ")     // 16 shingles
    val page = quote + " " + (1 to 40).map(i => s"pagefill$i").mkString(" ")
    val tiny = "tinya tinyb tinyc tinyd tinye tinyf tinyg tinyh"     // 4 shingles < 10
    val docs = Seq(
      (1L, "en", "web", quote),                 // contained in 2
      (2L, "en", "web", page + " " + tiny),     // the container
      (3L, "en", "web", (1 to 30).map(i => s"other$i").mkString(" ")), // unrelated
      (4L, "en", "web", tiny),                  // contained but under the 10-shingle floor
      (5L, "de", "web", quote))                 // same text, different lang block
      .toDF("doc_id", "lang", "source", "text")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val dir = java.nio.file.Files.createTempDirectory("graft-contain").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.operators.Dedup.dedupContainment(spark, dir).collect()
      .map(r => (r.getAs[Long]("contained_id"), r.getAs[Long]("container_id"),
        r.getAs[Long]("n_shared"), r.getAs[Long]("n_contained")))
    assert(out.map(p => (p._1, p._2)).toSet == Set((1L, 2L)),
      s"exactly quote⊂page must flag, got ${out.toSeq}")
    val (_, _, shared, n) = out.head
    assert(shared == n, "verbatim quote: every contained shingle must be shared")
    assert(n == 16L, "20 words → 16 distinct 5-gram shingles")
  }

  test("embed_pca: eigen residuals, orthonormality, trace, and projected variance = eigenvalue") {
    val dir = "/root/testdata/sf0.001"
    // known 2x2: [[2,1],[1,2]] -> evals (3,1), evecs (1,1)/sqrt2, (1,-1)/sqrt2 canon-signed
    val (ev2, evec2) = graft.operators.Similarity.jacobiEigen(
      Array(Array(2.0, 1.0), Array(1.0, 2.0)))
    assert(math.abs(ev2(0) - 3.0) < 1e-12 && math.abs(ev2(1) - 1.0) < 1e-12)
    val r2 = 1.0 / math.sqrt(2.0)
    assert(evec2(0).zip(Array(r2, r2)).forall { case (a, b) => math.abs(a - b) < 1e-12 })

    val (mean, evals, comps) = graft.operators.Similarity.pcaModel(spark, dir)
    val d = mean.length
    // rebuild the SAME covariance the model eigensolved, independently
    val rows = graft.operators.Similarity
      .embedCovarianceOf(graft.sources.Tables.embeddings(spark, dir))
      .collect()
    val n = rows.head.getAs[Long]("n")
    val cov = Array.ofDim[Double](d, d)
    rows.foreach { r =>
      val i = r.getAs[Long]("i").toInt; val j = r.getAs[Long]("j").toInt
      val c = r.getAs[Long]("cov_num").toDouble / (n.toDouble * (n - 1.0)) / 1e6
      cov(i)(j) = c; cov(j)(i) = c
    }
    val trace = (0 until d).map(i => cov(i)(i)).sum
    val (allEv, allVec) = graft.operators.Similarity.jacobiEigen(cov)
    assert(math.abs(allEv.sum - trace) < 1e-9 * math.max(1.0, math.abs(trace)),
      "eigenvalue sum must preserve the trace")
    assert(allEv.zip(allEv.tail).forall { case (a, b) => a >= b - 1e-12 }, "descending")
    assert(allEv.forall(_ > -1e-9), "covariance is PSD")
    // residual ‖Av − λv‖∞ per returned eigenpair
    allEv.zip(allVec).foreach { case (l, v) =>
      val av = (0 until d).map(i => (0 until d).map(j => cov(i)(j) * v(j)).sum)
      val res = av.zip(v).map { case (a, x) => math.abs(a - l * x) }.max
      assert(res < 1e-9 * math.max(1.0, math.abs(l)), s"residual $res for eval $l")
    }
    // orthonormality of the top-k the model kept
    for (a <- comps.indices; b <- comps.indices) {
      val dot = comps(a).zip(comps(b)).map { case (x, y) => x * y }.sum
      val want = if (a == b) 1.0 else 0.0
      assert(math.abs(dot - want) < 1e-9, s"comp $a · comp $b = $dot")
    }
    // the projected output: per-component mean ~ 0, sample variance ~ eigenvalue
    val proj = graft.operators.Similarity.embedPca(spark, dir).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("component"),
        r.getAs[Long]("proj_e3")))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3.toDouble / 1000.0))
    assert(proj.nonEmpty && proj.head.length == graft.operators.Similarity.PcaK)
    val m = proj.length
    for (j <- 0 until graft.operators.Similarity.PcaK) {
      val xs = proj.map(_(j))
      val mu = xs.sum / m
      // e3 output rounding (≤5e-4/coord) + the quantized-mean offset can
      // drift the mean by up to Σ|v_t|·5e-4 ≤ √d·5e-4 ≈ 4e-3
      assert(math.abs(mu) < 5e-3, s"centered projection, comp $j mean $mu")
      val va = xs.map(x => (x - mu) * (x - mu)).sum / (m - 1)
      assert(math.abs(va - evals(j)) < 0.02 * evals(0) + 1e-4,
        s"comp $j: projected variance $va vs eigenvalue ${evals(j)}")
    }
  }

  test("embed_whiten: unit variance and near-zero mean per coordinate") {
    val dir = "/root/testdata/sf0.001"
    val w = graft.operators.Similarity.embedWhiten(spark, dir).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("component"),
        r.getAs[Long]("white_e3")))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3.toDouble / 1000.0))
    assert(w.nonEmpty && w.head.nonEmpty)
    val m = w.length
    for (j <- w.head.indices) {
      val xs = w.map(_(j))
      val mu = xs.sum / m
      val va = xs.map(x => (x - mu) * (x - mu)).sum / (m - 1)
      // e3 output rounding is amplified by the 1/√λ scale; 5% absorbs it
      assert(math.abs(mu) < 0.05, s"comp $j mean $mu")
      assert(math.abs(va - 1.0) < 0.05, s"comp $j variance $va not unit")
    }
  }

  test("embed_project_oracle: exact integer dots against a driver-side replay") {
    val dir = "/root/testdata/sf0.001"
    val out = graft.operators.Similarity.embedProjectOracle(spark, dir).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("comp")) -> r.getAs[Long]("dot_q"))
      .toMap
    val emb = graft.sources.Tables.embeddings(spark, dir).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[scala.collection.Seq[Float]]("embedding")).toMap
    assert(out.size == emb.size * graft.operators.Similarity.ProjOracleD)
    emb.foreach { case (id, v) =>
      // Spark round() is HALF_UP away from zero; math.round is toward +∞
      val q = v.map { x =>
        val y = x.toDouble * 1000
        if (y < 0) -math.round(-y) else math.round(y)
      }
      for (j <- 0 until graft.operators.Similarity.ProjOracleD) {
        val want = q.indices.map(t =>
          q(t) * graft.operators.Similarity.projOracleSign(j, t)).sum
        assert(out((id, j.toLong)) == want, s"vec $id comp $j")
      }
    }
  }

  test("corpus_epoch_shuffle: valid permutation, equals the naive hash order, epochs independent") {
    val dir = "/root/testdata/sf0.001"
    val docs = graft.sources.Tables.documents(spark, dir)
    def run(epoch: Int) = graft.operators.TextAnalysis
      .corpusEpochShuffleOf(docs, epoch).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("shard"), r.getAs[Long]("pos")))
    val e1 = run(1)
    val n = e1.length
    assert(e1.map(_._3).sorted.toSeq == (0L until n.toLong), "pos is a 0..n-1 bijection")
    // sharded carry-in order equals the naive global (hash, doc_id) sort
    val hs = docs.select(col("doc_id"),
        graft.operators.TextAnalysis.epochHash(col("doc_id"), 1).as("h")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("h")).toMap
    val naive = e1.map(_._1).sortBy(id => (hs(id), id)).zipWithIndex
      .map { case (id, p) => id -> p.toLong }.toMap
    e1.foreach { case (id, shard, pos) =>
      assert(pos == naive(id), s"doc $id")
      assert(shard == hs(id) * 64L / 1000000007L, s"shard of $id")
    }
    // a different epoch is a materially different permutation of the same ids
    val e2 = run(2)
    assert(e2.map(_._1).sorted.toSeq == e1.map(_._1).sorted.toSeq)
    val p2 = e2.map(t => t._1 -> t._3).toMap
    val moved = e1.count { case (id, _, pos) => p2(id) != pos }
    assert(moved > n / 2, s"epoch 2 must reorder most docs (moved $moved of $n)")
  }

  test("knn_graph: structure, recall vs the exact graph, and no src_id re-shuffle") {
    val dir = "/root/testdata/sf0.001"
    // the BUILD form carries the plan contract; the gate serves the
    // persisted artifact of the same rows (parity asserted below)
    val df = graft.operators.Similarity.knnGraphBuild(spark, dir)
    // block-local top-k must reuse the join's (cell, sub) partitioning:
    // the ONLY src-keyed exchange is the stage-2 merge over the ≤
    // nprobe·k pre-reduced survivors
    val plan = df.queryExecution.executedPlan.treeString
    assert("hashpartitioning\\(src_id".r.findAllIn(plan).length == 1,
      "exactly one src_id exchange (the pre-reduced stage-2 merge)")
    val out = df.collect().map(r => (r.getAs[Long]("src_id"), r.getAs[Long]("rank"),
      r.getAs[Long]("dst_id"), r.getAs[Long]("csim_e4")))
    assert(out.nonEmpty)
    assert(out.forall { case (s, _, d, _) => s != d }, "no self edges")
    val bySrc = out.groupBy(_._1)
    bySrc.foreach { case (s, es) =>
      assert(es.map(_._2).sorted.sameElements(1L to es.length.toLong), s"ranks dense for $s")
      assert(es.length <= graft.operators.Similarity.GraphK)
      assert(es.map(_._3).distinct.length == es.length, s"duplicate edge from $s")
      val sims = es.sortBy(_._2).map(_._4)
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b }, s"rank order for $s")
    }
    // recall vs the exact top-k graph, computed driver-side
    val emb = graft.sources.Tables.embeddings(spark, dir).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getAs[scala.collection.Seq[Float]]("embedding").map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot / math.sqrt(na * nb)
    }
    val k = graft.operators.Similarity.GraphK
    var hit = 0; var tot = 0
    emb.foreach { case (s, va) =>
      val exact = emb.toSeq.filter(_._1 != s)
        .map { case (d, vb) => (d, cos(va, vb)) }
        .sortBy { case (d, c) => (-c, d) }.take(k).map(_._1).toSet
      val approx = bySrc.getOrElse(s, Array.empty).map(_._3).toSet
      hit += (exact & approx).size; tot += k
    }
    val recall = hit.toDouble / tot
    assert(recall >= 0.4, s"graph recall@$k $recall below floor")

    // the gate serves a persisted artifact of the SAME rows; second read
    // must load, not rebuild
    val tmp = java.nio.file.Files.createTempDirectory("graft_kg_spec").toString
    spark.conf.set("graft.knngraph.dir", tmp)
    try {
      val served = graft.operators.Similarity.knnGraph(spark, dir).collect()
        .map(r => (r.getAs[Long]("src_id"), r.getAs[Long]("rank"),
          r.getAs[Long]("dst_id"), r.getAs[Long]("csim_e4"))).toSet
      assert(served == out.toSet, "artifact rows must equal the build's")
      val stores = new java.io.File(tmp).listFiles().filter(_.isDirectory)
      assert(stores.length == 1)
      val before = stores.head.lastModified()
      graft.operators.Similarity.knnGraph(spark, dir).collect()
      assert(stores.head.lastModified() == before, "second call rebuilt the graph")
    } finally spark.conf.unset("graft.knngraph.dir")
  }

  test("events_streaks: islands match a driver-side fold over (user, day)") {
    val dir = "/root/testdata/sf0.001"
    val out = graft.operators.Analytics.eventsStreaks(spark, dir).collect()
      .map(r => r.getAs[Long]("user_id") ->
        (r.getAs[Long]("n_active_days"), r.getAs[Long]("n_streaks"),
          r.getAs[Long]("longest_streak"))).toMap
    val days = graft.sources.Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct().collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[java.sql.Date]("day").toLocalDate)
    // fold islands directly: consecutive epoch-days extend a run
    val exp2 = days.groupBy(_._1).map { case (u, ds) =>
      val sorted = ds.map(_._2.toEpochDay).distinct.sorted
      val lens = scala.collection.mutable.ListBuffer.empty[Long]
      var run = 0L; var prev = Long.MinValue
      sorted.foreach { d =>
        if (d == prev + 1) run += 1 else { if (run > 0) lens += run; run = 1 }
        prev = d
      }
      if (run > 0) lens += run
      u -> ((sorted.length.toLong, lens.length.toLong, lens.max))
    }
    assert(out == exp2)
    assert(out.values.exists(_._3 >= 2L), "at least one multi-day streak or the islands are vacuous")
  }

  test("q_basket_pairs: matches a driver-side fold with exact integer half-up lifts") {
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val items = graft.sources.Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_partkey")).distinct().collect()
        .map(r => (r.getAs[Long]("l_orderkey"), r.getAs[Long]("l_partkey")))
      val byOrder = items.groupBy(_._1).filter(_._2.length <= 100)
      val capped = byOrder.values.flatten.toSeq
      val supp = capped.groupBy(_._2).map { case (p, rs) => p -> rs.size.toLong }
      val n = byOrder.size.toLong
      val pairCounts = byOrder.values.flatMap { rs =>
        val ps = rs.map(_._2).sorted
        for (i <- ps.indices; j <- (i + 1) until ps.length) yield (ps(i), ps(j))
      }.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
        .filter(_._2 >= 3L)
      assert(pairCounts.nonEmpty, s"min-support pairs must exist in $dir")
      // exact integer half-up: (2·num + den) / (2·den) — no float anywhere
      val lifts = pairCounts.map { case ((pa, pb), c12) =>
        val den = supp(pa) * supp(pb)
        val l = (2L * c12 * n * 10000L + den) / (2L * den)
        (pa, pb) -> ((c12, supp(pa), supp(pb), l))
      }
      val top = lifts.toSeq
        .sortBy { case ((pa, pb), (_, _, _, l)) => (-l, pa, pb) }.take(20)
        .map { case ((pa, pb), (c12, c1, c2, l)) => (pa, pb, c12, c1, c2, l) }
      val got = graft.operators.AnalyticsJoins.qBasketPairs(spark, dir).collect()
        .map(r => (r.getAs[Long]("part_a"), r.getAs[Long]("part_b"),
          r.getAs[Long]("c12"), r.getAs[Long]("c1"), r.getAs[Long]("c2"),
          r.getAs[Long]("lift_e4"))).toSeq
      assert(got == top, s"top-20 mismatch in $dir")
    }
  }

  test("dedup_recall: all methods clear their floors at both gate SFs; truth non-vacuous") {
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val truth = graft.operators.Dedup.dedupNgram(spark, dir)
        .filter(col("jaccard") >= 0.5).count()
      assert(truth > 0, s"no strong-duplicate truth pairs in $dir — the gate is vacuous")
      val rows = graft.operators.Dedup.dedupRecall(spark, dir).collect()
        .map(r => r.getAs[String]("method") ->
          (r.getAs[Long]("recall_e2"), r.getAs[Long]("floor_e2"))).toMap
      // r8: containment (cap recall) and fuzzy decontamination (band
      // recall vs exact extract Jaccard) joined the floor-row gate
      assert(rows.keySet == Set("minhash", "simhash", "containment", "fuzzy_decon"),
        s"a method dropped below its floor in $dir: $rows")
      rows.foreach { case (m, (rec, fl)) => assert(rec >= fl, s"$m in $dir") }
    }
  }

  test("embed_clusters: equals a driver-side union-find over the same edges") {
    val dir = "/root/testdata/sf0.001"
    val edges = graft.operators.Similarity.knnGraph(spark, dir)
      .filter(col("csim_e4") >= 3500)
      .select(col("src_id"), col("dst_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val out = graft.operators.Similarity.embedClusters(spark, dir).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Long]("cluster_id"), r.getAs[Boolean]("keep"))).toMap
    // union-find
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val allIds = out.keySet
    val expected = allIds.map(v => v -> find(v)).toMap
    assert(allIds.nonEmpty && edges.nonEmpty)
    out.foreach { case (v, (cid, keep)) =>
      assert(cid == expected(v), s"vec $v cluster $cid != ${expected(v)}")
      assert(keep == (v == cid), s"keep rule for $v")
    }
    // clusters must be non-trivial somewhere or the threshold is vacuous
    assert(out.values.exists(!_._2), "no vector was clustered under another")
  }

  test("corpus_semantic_sample: balanced rule exact — min cell keeps all, others capped") {
    for (fn <- Seq(
      (s: org.apache.spark.sql.SparkSession, d: String) =>
        graft.operators.Similarity.corpusSemanticSample(s, d),
      (s: org.apache.spark.sql.SparkSession, d: String) =>
        graft.operators.OracleVariants.corpusSemanticSampleOracle(s, d))) {
      val out = fn(spark, "/root/testdata/sf0.001").collect()
        .map(r => (r.getAs[Long]("cell"), r.getAs[Long]("n_docs"),
          r.getAs[Long]("n_sampled"), r.getAs[Long]("n_langs")))
      assert(out.length >= 2, "needs at least two cells to balance")
      val minDocs = out.map(_._2).min
      out.foreach { case (cell, n, s, l) =>
        assert(s <= n && l >= 1, s"cell $cell")
        // the keep rate for the smallest cell is exactly 1 (bucket < 1e6
        // always holds), so the min cell keeps every doc — exact, not
        // probabilistic
        if (n == minDocs) assert(s == n, s"min cell $cell must keep all docs")
      }
      // balancing must bind somewhere: some larger cell sampled below its size
      assert(out.exists { case (_, n, s, _) => n > minDocs && s < n },
        "no cell was downsampled — balancing vacuous")
    }
  }

  test("events_props_agg: JSON extraction matches a driver fold; malformed docs count as unparsed") {
    val dir = "/root/testdata/sf0.001"
    val out = graft.operators.Analytics.eventsPropsAgg(spark, dir).collect()
      .map(r => r.getAs[String]("event_type") ->
        (r.getAs[Long]("n_events"), r.getAs[Long]("n_parsed"),
          r.getAs[Long]("sum_k"), r.getAs[Long]("min_k"), r.getAs[Long]("max_k"))).toMap
    val raw = graft.sources.Tables.events(spark, dir)
      .select(col("event_type"), col("props")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val kRe = """"k":\s*(-?\d+)""".r
    val expected = raw.groupBy(_._1).map { case (t, rs) =>
      val ks = rs.flatMap(r => kRe.findFirstMatchIn(r._2).map(_.group(1).toLong))
      t -> ((rs.length.toLong, ks.length.toLong, ks.sum, ks.min, ks.max))
    }
    assert(out == expected && out.nonEmpty)
    // malformed / missing-key JSON parses to NULL, never throws or zeros
    import spark.implicits._
    val bad = Seq(("click", """{"k": 3}"""), ("click", "not json"),
      ("click", """{"other": 1}"""), ("view", """{"k": -7}"""))
      .toDF("event_type", "props")
      .select(col("event_type"), expr("from_json(props, 'k BIGINT').k").as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), count(col("k")).as("p"), sum(col("k")).as("s"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(bad("click") == ((3L, 1L, 3L)) && bad("view") == ((1L, 1L, -7L)))
  }

  test("ft_freshness: ages and staleness buckets match a driver-side fold") {
    val dir = "/root/testdata/sf0.001"
    val out = graft.operators.FeatureOps.ftFreshness(spark, dir).collect()
      .map(r => r.getAs[Long]("user_id") ->
        (r.getAs[Long]("age_sec"), r.getAs[String]("status"))).toMap
    val ev = graft.sources.Tables.events(spark, dir)
      .select(col("user_id"), expr("unix_micros(ts)").as("us")).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("us")))
    val latest = ev.groupBy(_._1).map { case (u, rs) => u -> rs.map(_._2).max }
    val now = ev.map(_._2).max
    val expected = latest.map { case (u, us) =>
      val age = (now - us) / 1000000L
      // stale only when older than now - max_age (the serving rule, in µs)
      u -> (age, if (age < 3600L) "FRESH" else if (now - us <= 14400L * 1000000L) "AGING"
        else "OUTSIDE_MAX_AGE")
    }
    assert(out == expected)
    assert(out.values.map(_._2).toSet.size >= 2, "bucket boundaries must bind")
  }
}
