package graft

import org.apache.spark.sql.functions._

import graft.operators._

/** Smoke + property checks for the document/embedding operator suite on the
  * sf0.001 testdata (oracle equality is covered by Verify/check.py). */
class OperatorSuiteSpec extends SparkSpecBase {

  test("dedup_exact keeps every distinct text exactly once") {
    val out = Dedup.dedupExact(spark, sfDir)
    val docs = graft.sources.Tables.documents(spark, sfDir)
    assert(out.agg(sum("n_copies")).head().getLong(0) == docs.count())
  }

  test("minhash signature has one value per permutation and responds to similarity") {
    val out = Dedup.dedupMinhash(spark, sfDir)
    assert(out.columns.toSeq == Seq("id_a", "id_b", "n_shared_bands"))
    assert(out.filter(col("id_a") >= col("id_b")).count() == 0)
  }

  test("simhash pairs have hamming <= 6 and are unique") {
    val out = Dedup.dedupSimhash(spark, sfDir)
    assert(out.filter(col("hamming") > 6).count() == 0)
    assert(out.count() == out.dropDuplicates("id_a", "id_b").count())
  }

  test("knn_brute returns k ordered neighbors per query") {
    val out = Similarity.knnBrute(spark, sfDir).collect()
    val byQuery = out.groupBy(_.getAs[Long]("query_id"))
    assert(byQuery.size == 10)
    byQuery.values.foreach { rows =>
      assert(rows.length == 5)
      val cos = rows.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("cos"))
      assert(cos.zip(cos.tail).forall { case (a, b) => a >= b })
    }
  }

  test("knn_lsh is a subset-quality approximation of brute force") {
    val brute = Similarity.knnBrute(spark, sfDir)
      .filter(col("rank") === 1).collect()
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Double]("cos")).toMap
    val lsh = Similarity.knnLsh(spark, sfDir).filter(col("rank") === 1).collect()
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Double]("cos")).toMap
    // approximate: every LSH best must be <= the true best for that query
    lsh.foreach { case (q, c) => assert(c <= brute(q) + 1e-9) }
  }

  test("ft_drift: identical windows score ~0 PSI, shifted windows score higher") {
    import spark.implicits._
    val ts0 = java.sql.Timestamp.valueOf("2024-01-10 00:00:00") // window a
    val ts1 = java.sql.Timestamp.valueOf("2024-01-20 00:00:00") // window b
    // "stable": same distribution both windows; "shifted": values move up
    val rows =
      (0 until 200).map(i => (i.toLong, ts0, 100L + i, "stable", (i % 100).toDouble)) ++
      (0 until 200).map(i => (i.toLong, ts1, 300L + i, "stable", (i % 100).toDouble)) ++
      (0 until 200).map(i => (i.toLong, ts0, 500L + i, "shifted", (i % 30).toDouble)) ++
      (0 until 200).map(i => (i.toLong, ts1, 700L + i, "shifted", 70.0 + (i % 30)))
    val dir = java.nio.file.Files.createTempDirectory("graft-drift").toString
    rows.toDF("user_id", "ts", "event_id", "event_type", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    // write as micros parquet: read via a FeatureOps-compatible layout
    val out = graft.operators.FeatureOps.ftDrift(spark, dir).collect()
      .map(r => r.getAs[String]("event_type") -> r.getAs[Double]("psi")).toMap
    assert(math.abs(out("stable")) < 0.01, s"identical windows drift: ${out("stable")}")
    assert(out("shifted") > 1.0, s"disjoint distributions must score high: ${out("shifted")}")
  }

  test("events_funnel counts only in-order stage progressions") {
    import spark.implicits._
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val rows = Seq(
      // user 1: full funnel in order
      (1L, t("2024-01-01 10:00:00"), 1L, "view", 1.0),
      (1L, t("2024-01-01 11:00:00"), 2L, "click", 1.0),
      (1L, t("2024-01-01 12:00:00"), 3L, "purchase", 1.0),
      // user 2: purchase BEFORE click -> stops at view+click
      (2L, t("2024-01-01 10:00:00"), 4L, "view", 1.0),
      (2L, t("2024-01-01 10:30:00"), 5L, "purchase", 1.0),
      (2L, t("2024-01-01 11:00:00"), 6L, "click", 1.0),
      // user 3: click before any view -> stops at view
      (3L, t("2024-01-01 09:00:00"), 7L, "click", 1.0),
      (3L, t("2024-01-01 10:00:00"), 8L, "view", 1.0),
      // user 4: never views
      (4L, t("2024-01-01 10:00:00"), 9L, "purchase", 1.0))
    val dir = java.nio.file.Files.createTempDirectory("graft-funnel").toString
    rows.toDF("user_id", "ts", "event_id", "event_type", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = Analytics.eventsFunnel(spark, dir).head()
    assert(r.getAs[Long]("n_view") == 3)               // users 1, 2, 3
    assert(r.getAs[Long]("n_view_click") == 2)         // users 1, 2
    assert(r.getAs[Long]("n_view_click_purchase") == 1) // user 1 only
  }

  test("corpus_decontaminate flags exactly the docs sharing benchmark 5-grams") {
    import spark.implicits._
    val benchSentence = "the quick brown fox jumps over the lazy sleeping dog"
    val docs = Seq(
      (0L, "en", "web", s"benchmark item $benchSentence end of question"), // 0 % 97 == 0: benchmark
      (1L, "en", "web", s"contaminated because it contains $benchSentence verbatim"),
      (2L, "en", "web", "totally clean document with its own unique words here"),
      (3L, "en", "web", "quick brown fox alone is only a 3-gram not a 5-gram x"))
      .toDF("doc_id", "lang", "source", "text")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val dir = java.nio.file.Files.createTempDirectory("graft-decon").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Dedup.corpusDecontaminate(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_hits")).toMap
    assert(out.contains(1L) && out(1L) >= 6) // 10-token overlap = 6 shared 5-grams
    assert(!out.contains(2L), "clean doc must not be flagged")
    assert(!out.contains(3L), "sub-5-gram overlap must not be flagged")
    assert(!out.contains(0L), "benchmark docs are not corpus rows")
  }

  test("corpus_sample balances languages; corpus_pack respects the bin budget") {
    val dir = "/root/testdata/sf0.01"
    // sample: every language's kept count lands near the smallest language
    val sample = TextAnalysis.corpusSample(spark, dir).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("n_docs"), r.getAs[Long]("n_sampled")))
    val minDocs = sample.map(_._2).min
    sample.foreach { case (lang, n, kept) =>
      assert(kept <= n)
      assert(math.abs(kept - minDocs) <= math.max(6L, minDocs / 4),
        s"$lang kept $kept, expected ≈ $minDocs")
    }
    // pack: per (shard, bin) token sums stay within budget unless a single
    // oversized doc forces its own bin
    val over = TextAnalysis.corpusPack(spark, dir)
      .groupBy(col("shard"), col("bin_id"))
      .agg(sum(col("n_toks")).as("toks"), count(lit(1)).as("n_docs"))
      .filter(col("toks") > 4096 + 2000 && col("n_docs") > 1)
    assert(over.count() == 0, "multi-doc bins must stay near the 4096 budget")
  }

  test("corpus_mix temperature-scales source shares (α = 0.5)") {
    import spark.implicits._
    // skewed corpus: big source 1000 docs, mid 300, tiny 10 (tiny's quota
    // exceeds its availability, so its rate caps at 1.0 = keep everything)
    val docs = (0L until 1000L).map(i => (i, "en", "big", s"doc $i")) ++
      (1000L until 1300L).map(i => (i, "en", "mid", s"doc $i")) ++
      (1300L until 1310L).map(i => (i, "en", "tiny", s"doc $i"))
    val out = TextAnalysis.corpusMixOf(
        docs.toDF("doc_id", "lang", "source", "text"))
      .collect().map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_sampled"))).toMap
    val rate = out.map { case (s, (n, k)) => s -> k.toDouble / n }
    // α = 0.5 upweights small sources RELATIVELY: keep rates grow as the
    // source shrinks, capping at 1.0 when quota exceeds availability
    assert(rate("tiny") == 1.0 && rate("mid") > rate("big"),
      s"rates must grow as sources shrink: $rate")
    assert(rate("mid") < 1.0, s"mid source must be downsampled, got $rate")
    // total lands near the half-corpus target (655 here)
    val total = out.values.map(_._2).sum
    assert(total > 450 && total < 800, s"total $total should be ≈ 655 (half corpus)")
    // nothing is oversampled beyond its availability
    out.foreach { case (_, (n, k)) => assert(k <= n) }
  }

  test("text_repetition computes exact duplicate/top bigram fractions") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-rep").toString
    Seq(
      (0L, "en", "web", "a b a b a b"),         // bigrams: ab,ba,ab,ba,ab
      (1L, "en", "web", "one two three four"),  // 3 distinct bigrams
      (2L, "en", "web", "solo"),                // no bigrams
      (3L, "en", "web", ""))                    // no tokens
      .toDF("doc_id", "lang", "source", "text")
      .withColumn("n_chars", org.apache.spark.sql.functions.length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.operators.TextAnalysis.textRepetition(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out(0L) == (5L, 2L, 6000L, 6000L)) // 3 of 5 repeats; "a b" x3
    assert(out(1L) == (3L, 3L, 0L, 3333L))    // round(1e4/3)
    assert(out(2L) == (0L, 0L, 0L, 0L))
    assert(out(3L) == (0L, 0L, 0L, 0L))
  }

  test("events_retention cohorts are consistent: week 0 covers each cohort") {
    val dir = "/root/testdata/sf0.01"
    val rows = Analytics.eventsRetention(spark, dir).collect()
      .map(r => (r.getAs[java.sql.Timestamp]("cohort_week"),
        r.getAs[Long]("week_offset"), r.getAs[Long]("n_users")))
    assert(rows.nonEmpty)
    val byCohort = rows.groupBy(_._1)
    byCohort.foreach { case (_, rs) =>
      val at0 = rs.find(_._2 == 0L).map(_._3).getOrElse(0L)
      // every user is active in their own first week by construction, and
      // no later week of a cohort can exceed the cohort's size
      assert(at0 > 0)
      rs.foreach { case (_, _, n) => assert(n <= at0) }
    }
    // offsets are non-negative (first week is the minimum)
    rows.foreach { case (_, off, _) => assert(off >= 0L) }
  }

  test("corpus_stats rollup subtotals are consistent") {
    val dir = "/root/testdata/sf0.01"
    val rows = TextAnalysis.corpusStats(spark, dir).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[String]("source"),
        r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens")))
    val leaves = rows.filter(r => r._1 != "ALL" && r._2 != "ALL")
    val langTotals = rows.filter(r => r._1 != "ALL" && r._2 == "ALL")
    val grand = rows.filter(r => r._1 == "ALL" && r._2 == "ALL")
    assert(leaves.nonEmpty && langTotals.nonEmpty && grand.length == 1)
    // each lang subtotal = sum of its leaves; grand total = sum of leaves
    langTotals.foreach { case (lang, _, nd, nt) =>
      val ls = leaves.filter(_._1 == lang)
      assert(ls.map(_._3).sum == nd && ls.map(_._4).sum == nt, s"lang $lang")
    }
    assert(grand.head._3 == leaves.map(_._3).sum)
    assert(grand.head._4 == leaves.map(_._4).sum)
  }

  test("corpus_redact counts and strips PII-shaped strings") {
    import spark.implicits._
    val docs = Seq(
      (0L, "en", "web",
       "contact bob@example.com or visit https://example.com/x and ping 10.0.0.1 or call 555-123-4567"),
      (1L, "en", "web", "no pii here at all"))
      .toDF("doc_id", "lang", "source", "text")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val dir = java.nio.file.Files.createTempDirectory("graft-redact").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = TextAnalysis.corpusRedact(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(0L).getAs[Long]("n_emails") == 1)
    assert(out(0L).getAs[Long]("n_urls") == 1)
    assert(out(0L).getAs[Long]("n_ips") == 1)
    assert(out(0L).getAs[Long]("n_phones") == 1)
    val expected = "contact <EMAIL> or visit <URL> and ping <IP> or call <PHONE>"
    val md5hex = java.security.MessageDigest.getInstance("MD5")
      .digest(expected.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(out(0L).getAs[String]("redacted_hash") == md5hex)
    assert(out(1L).getAs[Long]("n_emails") == 0)
  }

  test("sketch twins track their exact operators within accuracy bounds") {
    val dir = "/root/testdata/sf0.01"
    // approx_percentile (positional sketch, accuracy 10000) vs exact
    val exactP = Analytics.qPercentiles(spark, dir).collect()
      .map(r => r.getAs[String]("lang") ->
        (r.getAs[Double]("p50"), r.getAs[Double]("p90"))).toMap
    Analytics.qPercentilesApprox(spark, dir).collect().foreach { r =>
      val (p50, p90) = exactP(r.getAs[String]("lang"))
      // positional sketch: rank error <= n/accuracy; value tolerance loose
      assert(math.abs(r.getAs[Double]("p50") - p50) <= 0.1 * math.max(p50, 1.0))
      assert(math.abs(r.getAs[Double]("p90") - p90) <= 0.1 * math.max(p90, 1.0))
    }
    // HLL++ at rsd 2% vs exact count_distinct
    val exactU = graft.operators.FeatureOps.ftStats(spark, dir).collect()
      .map(r => r.getAs[String]("event_type") -> r.getAs[Long]("n_users")).toMap
    Analytics.ftStatsApprox(spark, dir).collect().foreach { r =>
      val exact = exactU(r.getAs[String]("event_type"))
      val est = r.getAs[Long]("n_users_approx")
      assert(math.abs(est - exact).toDouble / exact <= 0.06,
        s"HLL estimate $est too far from exact $exact")
    }
  }

  test("dedup_clusters merges chained near-dups transitively and keeps the min doc") {
    import spark.implicits._
    // chain: 0 ≈ 1 (share s1), 1 ≈ 2 (share s2), 0 and 2 share nothing;
    // 3 is an EXACT copy of 0; 4 is unrelated. Expect {0,1,2,3} one
    // cluster with keep=0, {4} a singleton.
    val s1 = "alpha beta gamma delta epsilon zeta eta theta"
    val s2 = "omicron pi rho sigma tau upsilon phi chi"
    val docs = Seq(
      (0L, "en", "web", s"$s1 one two three"),
      (1L, "en", "web", s"$s1 $s2"),
      (2L, "en", "web", s"$s2 four five six"),
      (3L, "en", "web", s"$s1 one two three"), // exact dup of 0
      (4L, "en", "web", "totally unrelated content about q1 q2 q3 q4 q5 q6 q7 q8"))
      .toDF("doc_id", "lang", "source", "text")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val dir = java.nio.file.Files.createTempDirectory("graft-clusters").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // precondition: the chain is real (0-1 and 1-2 pair, no 0-2 pair)
    val pairs = Dedup.dedupNgram(spark, dir).select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)) && pairs.contains((1L, 2L)))
    assert(!pairs.contains((0L, 2L)))
    val out = Dedup.dedupClusters(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("cluster_id"), r.getAs[Boolean]("keep"))).toMap
    assert(out(0L) == (0L, true))
    assert(out(1L) == (0L, false)) // via direct pair
    assert(out(2L) == (0L, false)) // via transitivity through 1
    assert(out(3L) == (0L, false)) // via exact-dup edge
    assert(out(4L) == (4L, true))  // singleton keeps itself
  }

  test("knn_lsh scales planes to corpus size and multi-probes for recall") {
    // clamp behavior: 2^planes buckets target ~32 vectors each
    assert(Similarity.planesForCorpus(1L) == 4)
    assert(Similarity.planesForCorpus(500L) == 4)
    assert(Similarity.planesForCorpus(5000L) == 8)
    assert(Similarity.planesForCorpus(1L << 40) == 24) // ~1e12 vectors
    // multi-probe dominates single-probe at the same plane count: it scans
    // the exact bucket plus every hamming-1 bucket, so its candidate set is
    // a superset and per-query recall can only improve (deterministic data)
    def found(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.collect().groupBy(_.getAs[Long]("query_id"))
        .map { case (q, rs) => q -> rs.map(_.getAs[Long]("neighbor_id")).toSet }
    val dir = "/root/testdata/sf0.01"
    val planes = Similarity.planesForCorpus(500L) // the production pick: 4
    val single = found(Similarity.knnLshWith(spark, dir, planes, multiProbe = false))
    val multi  = found(Similarity.knnLshWith(spark, dir, planes, multiProbe = true))
    val brute  = found(Similarity.knnBrute(spark, dir))
    def recall(a: Map[Long, Set[Long]]): Double =
      brute.map { case (q, t) => a.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size }
        .sum / brute.size
    assert(recall(multi) >= recall(single))
    // measured: adaptive 4 planes + multi-probe = 0.5; the round-1 fixed
    // config (8 planes, no probe) measures 0.0 on the same data
    assert(recall(multi) >= 0.5, s"multi-probe recall too low: ${recall(multi)}")
    assert(recall(found(Similarity.knnLshWith(spark, dir, 8, multiProbe = false))) <=
           recall(multi))
  }

  test("dedup_embed_lsh blocks without labels and recovers true near-dup pairs") {
    val dir = "/root/testdata/sf0.01"
    // ground truth: all-pairs threshold pairs (O(N²) is fine at spec scale)
    val emb = graft.sources.Tables.embeddings(spark, dir)
    val a = emb.select(col("vec_id").as("id_a"), col("embedding").as("va"))
    val b = emb.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
    val truth = a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .withColumn("cos", expr("round(cosine_similarity(va, vb), 6)"))
      .filter(col("cos") > 0.35)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val found = Similarity.dedupEmbedLsh(spark, dir)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(found.subsetOf(truth), "every emitted pair must clear the exact threshold")
    val recall = found.size.toDouble / math.max(truth.size, 1)
    // measured: one 4-plane table = 0.52 (sign-LSH physics at a 69° pair
    // threshold); 3-table OR-amplification = 0.82, and 0.93 on cos > 0.45
    assert(recall >= 0.75, s"LSH blocking recall too low: $recall (${found.size}/${truth.size})")
    // no duplicate pairs despite multi-probe
    val df = Similarity.dedupEmbedLsh(spark, dir)
    assert(df.count() == df.dropDuplicates("id_a", "id_b").count())
  }

  test("knn_ivf approximates brute force within the probed cells") {
    val brute = Similarity.knnBrute(spark, sfDir).filter(col("rank") === 1).collect()
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Double]("cos")).toMap
    val ivf = Similarity.knnIvf(spark, sfDir).collect()
    val byQuery = ivf.groupBy(_.getAs[Long]("query_id"))
    assert(byQuery.size == 10)
    byQuery.foreach { case (q, rows) =>
      assert(rows.length <= 5)
      rows.foreach(r => assert(r.getAs[Double]("cos") <= brute(q) + 1e-9))
    }
  }

  test("knn_ivf k-means quantizer beats head-of-table seeding on held-out recall@5") {
    // Measured pitfall: the round-1 stub quantizer (first 16 vectors as
    // centroids) CONTAINS the 10 gate query vectors, so on queries 0-10 its
    // probed cells are centered exactly on each query — recall 0.92, pure
    // coincidence, not quantizer quality. Held-out queries (100-130) give
    // the honest comparison. Everything is deterministic (hash seeding +
    // Lloyd), so exact assertions are stable. sf0.01 = 500 vectors / 16
    // cells; ground truth = probing all 16 cells (exhaustive).
    val dir = "/root/testdata/sf0.01"
    val emb = graft.sources.Tables.embeddings(spark, dir)
    val (lo, hi) = (100L, 130L)
    def top5(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.collect().groupBy(_.getAs[Long]("query_id"))
        .map { case (q, rs) => q -> rs.map(_.getAs[Long]("neighbor_id")).toSet }
    def recallOf(approx: Map[Long, Set[Long]], exact: Map[Long, Set[Long]]): Double =
      exact.map { case (q, t) => approx.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size }
        .sum / exact.size
    val headStub = emb.filter(col("vec_id") < 16)
      .select(expr("transform(embedding, x -> cast(x as double))"))
      .collect().map(_.getSeq[Double](0).toIndexedSeq).toIndexedSeq
    val trained = Similarity.kmeansCentroids(emb, 16, 2)
    val exact = top5(Similarity.knnIvfWith(spark, dir, trained, 16, lo, hi))
    val stubRecall = recallOf(top5(Similarity.knnIvfWith(spark, dir, headStub, 2, lo, hi)), exact)
    val trainedRecall = recallOf(top5(Similarity.knnIvfWith(spark, dir, trained, 2, lo, hi)), exact)
    // measured: trained 0.38 vs stub 0.28 at nprobe=2 (0.61 vs 0.47 at 4)
    assert(trainedRecall >= stubRecall,
      s"k-means recall $trainedRecall < stub recall $stubRecall")
    assert(trainedRecall >= 0.3, s"recall@5 too low: $trainedRecall")
    // centroids actually train: Lloyd moves them off the raw seeds
    assert(Similarity.kmeansCentroids(emb, 16, 0) != trained)
    assert(trained.size == 16 && trained.forall(_.size == 64))
  }

  test("multimodal pipeline preserves every blob with correct byte counts") {
    val out = Multimodal.multimodalMeta(spark, sfDir)
    val docs = graft.sources.Tables.documents(spark, sfDir)
    assert(out.count() == docs.count())
    assert(out.filter(col("feat_dim") =!= 16).count() == 0)
    // n_bytes = utf-8 length >= char length
    val bad = out.join(docs, "doc_id")
      .filter(col("n_bytes") < length(col("text"))).count()
    assert(bad == 0)
  }

  test("IVF centroid store path changes when the corpus changes") {
    // a regenerated corpus at the same path must invalidate the persisted
    // quantizer — stale centroids degrade recall silently
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-fp").toString
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.01")
    emb.limit(50).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val p1 = Similarity.centroidStorePath(spark, dir)
    Thread.sleep(1100) // mtime resolution
    emb.limit(60).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val p2 = Similarity.centroidStorePath(spark, dir)
    assert(p1 != p2, "corpus change must change the centroid store key")
    // unchanged corpus keeps the same key (cache hits across sessions)
    assert(Similarity.centroidStorePath(spark, dir) == p2)
  }

  test("multimodal_frames samples 4 in-bounds windows per blob") {
    val dir = "/root/testdata/sf0.01"
    val frames = graft.operators.Multimodal.multimodalFrames(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("frame_idx"),
        r.getAs[Long]("frame_start"), r.getAs[Long]("frame_len")))
    val sizes = graft.operators.Multimodal.multimodalMeta(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_bytes")).toMap
    val byDoc = frames.groupBy(_._1)
    assert(byDoc.size == sizes.size)
    byDoc.foreach { case (doc, fs) =>
      assert(fs.map(_._2).sorted.toSeq == Seq(0, 1, 2, 3))
      val n = sizes(doc)
      fs.foreach { case (_, _, start, len) =>
        assert(start >= 0 && len >= 1 && start + len <= math.max(n, 1L),
          s"doc $doc frame [$start, ${start + len}) outside blob of $n bytes")
      }
      // first frame starts at 0; last frame ends at the blob end (n >= 1)
      assert(fs.minBy(_._2)._3 == 0L)
      if (n >= 8) assert(fs.maxBy(_._2)._3 + fs.maxBy(_._2)._4 == n)
    }
  }

  test("text fingerprint is order-sensitive") {
    import spark.implicits._
    val docs = Seq((1L, "alpha beta gamma", 1L), (2L, "gamma beta alpha", 2L))
      .toDF("doc_id", "text", "n_chars")
    val toks = docs.select(col("doc_id"),
      regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0)).as("ws"))
    val fp = toks.select(col("doc_id"), posexplode(col("ws")).as(Seq("pos", "w")))
      .groupBy("doc_id")
      .agg((sum((col("pos") + 1) * (length(col("w")) * 31 + ascii(substring(col("w"), 1, 1)))) % 1000000007L).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(1L) != fp(2L))
  }
}
