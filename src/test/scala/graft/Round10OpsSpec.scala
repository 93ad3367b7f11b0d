package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity}

/** Round-10 hardening: the factored cachedArtifact discipline and the
  * persisted exact-truth recall baselines. */
class Round10OpsSpec extends SparkSpecBase {
  import spark.implicits._

  test("cachedArtifact: a derive that throws mid-write leaves no .tmp- sibling") {
    val base = java.nio.file.Files.createTempDirectory("graft-art-fail").toString
    spark.conf.set("graft.test.art.dir", base)
    try {
      val boom = udf((id: Long) => { if (id > 0) throw new IllegalStateException("boom"); id })
      // a range, not a local Seq: the optimizer would evaluate the UDF over
      // a local relation while planning, before the write starts
      intercept[Exception](graft.serving.StorePaths.cachedArtifact(spark,
        "graft.test.art.dir", "unused", "gk1-", "f1")(
        spark.range(1, 3).select(boom(col("id")).as("id"))))
      val names = new java.io.File(base).listFiles().map(_.getName).toSet
      assert(names.isEmpty, s"failed write left: $names")
    } finally spark.conf.unset("graft.test.art.dir")
  }

  test("cachedArtifact: derive-once, completeness probe, same-prefix orphan GC") {
    val base = java.nio.file.Files.createTempDirectory("graft-art").toString
    spark.conf.set("graft.test.art.dir", base)
    try {
      var derives = 0
      def art(fp: String) = graft.serving.StorePaths.cachedArtifact(spark,
        "graft.test.art.dir", "unused", "gk1-", fp) {
        derives += 1
        Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      }
      assert(art("f1").count() == 2 && derives == 1)
      // second read serves the artifact — derive must NOT re-run
      assert(art("f1").count() == 2 && derives == 1)
      // a refreshed fingerprint derives again AND GCs the superseded one
      assert(art("f2").count() == 2 && derives == 2)
      val names = new java.io.File(base).listFiles().map(_.getName).toSet
      assert(names == Set("gk1-f2"), s"orphan GC left: $names")
      // GC is same-PREFIX only: a sibling key's artifact must survive
      graft.serving.StorePaths.cachedArtifact(spark,
        "graft.test.art.dir", "unused", "gk2-", "f9")(
        Seq((9L, "z")).toDF("id", "v")).count()
      assert(art("f3").count() == 2)
      val after = new java.io.File(base).listFiles().map(_.getName).toSet
      assert(after == Set("gk1-f3", "gk2-f9"), s"sibling GC'd: $after")
      // a PARTIAL dir (no _SUCCESS — crashed writer) must re-derive, not
      // be served as a truncated artifact
      val partial = new java.io.File(base, "gk1-f4")
      partial.mkdirs()
      java.nio.file.Files.write(partial.toPath.resolve("part-00000.parquet"),
        Array[Byte](1, 2, 3))
      val before = derives
      assert(art("f4").count() == 2 && derives == before + 1,
        "partial dir served instead of re-derived")
    } finally spark.conf.unset("graft.test.art.dir")
  }

  test("corpusKey bans the delimiter and disambiguates sanitizer collisions") {
    val k = graft.serving.StorePaths.corpusKey("/data/sf0.1-v2")
    assert(!k.contains("-"), s"'-' must not survive sanitization: $k")
    assert(graft.serving.StorePaths.corpusKey("/a/b") !=
      graft.serving.StorePaths.corpusKey("/a_b"),
      "raw-dir hash must disambiguate lossy-sanitizer collisions")
    assert(!k.startsWith("_"), "must not read as Hadoop-hidden")
  }

  test("recall truth artifacts: persisted once, fingerprint-refresh re-derives") {
    val dir = java.nio.file.Files.createTempDirectory("graft-truth").toString
    val tbase = java.nio.file.Files.createTempDirectory("graft-truth-store").toString
    spark.conf.set("graft.truth.dir", tbase)
    try {
      def writeDocs(n: Int): Unit =
        (1 to n).map(i => (i.toLong, "en", "web",
          if (i % 2 == 0) "the quick brown fox jumps over the lazy dog again and again"
          else s"unique document number $i with its own words entirely"))
          .toDF("doc_id", "lang", "source", "text")
          .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
      writeDocs(6)
      val t1 = Dedup.ngramTruth(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // dup family {2,4,6} (identical text ⇒ jaccard 1 ≥ 0.5)
      assert(t1 == Set((2L, 4L), (2L, 6L), (4L, 6L)), s"truth pairs: $t1")
      // served from the store: the artifact dir exists _SUCCESS-complete
      val arts = new java.io.File(tbase).listFiles().map(_.getName)
      assert(arts.exists(_.startsWith("tngram-")), arts.mkString(","))
      // corpus refresh invalidates: the new doc 8 joins the dup family
      writeDocs(8)
      val t2 = Dedup.ngramTruth(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(t2.contains((2L, 8L)), "stale truth served after corpus refresh")
      // containment + fuzzy truths persist under their own tags
      Dedup.warmTruths(spark, dir)
      val tags = new java.io.File(tbase).listFiles().map(_.getName)
      Seq("tngram-", "tcont-", "tfuzzy-").foreach { t =>
        assert(tags.exists(_.startsWith(t)), s"missing $t in ${tags.mkString(",")}")
      }
    } finally spark.conf.unset("graft.truth.dir")
  }

  test("corpusSoftDedupQuality: best copy keeps full weight, mass bounded") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sdq").toString
    // doc 2 = clean 60-word text (passes gopher); doc 1 = same text with
    // '#' garbage appended (near-dup by 5-gram jaccard, FAILS the symbol
    // rule) — lower doc_id but worse quality, so quality must beat id.
    // doc 3 = unrelated singleton.
    val clean = (1 to 60).map(i => s"word$i").mkString(" ") +
      " the be to of and that have with"
    val noisy = clean + " " + Seq.fill(18)("#").mkString(" ")
    Seq((1L, "en", "web", noisy), (2L, "en", "web", clean),
        (3L, "en", "web", "an entirely different tiny note"))
      .toDF("doc_id", "lang", "source", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.operators.Dedup.corpusSoftDedupQuality(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // {1,2} cluster under min id 1; the CLEAN copy outranks despite the
    // higher doc_id
    assert(out(2L)._1 == 1L && out(1L)._1 == 1L)
    assert(out(2L)._3 == 1L && out(2L)._4 == 10000L,
      s"best copy must keep full weight: ${out(2L)}")
    assert(out(1L)._3 == 2L && out(1L)._4 == 5000L, s"rank-2 halves: ${out(1L)}")
    assert(out(2L)._2 > out(1L)._2, "quality_rules must order the ranks")
    // singleton keeps full weight
    assert(out(3L) == ((3L, out(3L)._2, 1L, 10000L)))
    // conservation: no cluster can carry more than 2 docs' worth of mass
    // (geometric tail), enforced over a bigger synthetic family too
    val many = (1 to 20).map(i => (i.toLong, "en", "web", clean))
    many.toDF("doc_id", "lang", "source", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val fam = graft.operators.Dedup.corpusSoftDedupQuality(spark, dir).collect()
    val total = fam.map(_.getLong(4)).sum
    assert(total < 20000L, s"cluster mass must stay < 2e4 bp: $total")
    val byRank = fam.map(r => (r.getLong(3), r.getLong(4))).sortBy(_._1).toSeq
    assert(byRank.zip(byRank.tail).forall { case (a, b) => a._2 >= b._2 },
      "weights must be non-increasing in rank")
  }

  test("quantizer training samples deterministically past the cap only") {
    val emb = spark.range(0, 10000).select(col("id").as("vec_id"),
      array((0 until 4).map(i => (col("id") * (i + 1)).cast("float")): _*).as("embedding"))
    // below the cap: the input passes through untouched (gate corpora sit
    // here, which is what keeps gate artifacts and floors byte-stable)
    assert(Similarity.sampleForTraining(emb, 10000, cap = 20000).count() == 10000)
    // past the cap: expected-cap-sized, content-stable sample
    val s1 = Similarity.sampleForTraining(emb, 10000, cap = 1000)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    val s2 = Similarity.sampleForTraining(emb, 10000, cap = 1000)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    assert(s1 == s2, "training sample must replay deterministically")
    assert(s1.size > 500 && s1.size < 2000, s"expected ~1000 rows, got ${s1.size}")
    assert(s1.subsetOf((0L until 10000L).toSet))
    // the sampled input still trains a full-size, deterministic codebook
    val c1 = Similarity.kmeansCentroids(
      Similarity.sampleForTraining(emb, 10000, cap = 1000), k = 4, iters = 1)
    assert(c1.size == 4 && c1.forall(_.size == 4))
  }

  test("CUPED gate moments stay far inside the ANSI 2^63 Long bound") {
    // the operator's docstring claims ~n·x²·1e6 < 2⁶³ headroom; under
    // ANSI mode an overflow ABORTS the gate, so the claim is enforced
    // here on the real gate corpora: every Long intermediate of the
    // theta_e6 expression, recomputed in BigInt, must carry ≥1000x
    // headroom (room for a 3-decade corpus growth before the documented
    // center-on-mean production fallback becomes necessary)
    import graft.sources.Tables
    for (dir <- Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
      val m = graft.operators.Growth.eventsCupedMoments(Tables.events(spark, dir))
      val worst = Seq(
        (BigInt(m.n) * BigInt(m.sxy)).abs, (BigInt(m.sx) * BigInt(m.sy)).abs,
        (BigInt(m.n) * BigInt(m.sxx)).abs, (BigInt(m.sx) * BigInt(m.sx)).abs,
        ((BigInt(m.n) * BigInt(m.sxy) - BigInt(m.sx) * BigInt(m.sy)) * 1000000).abs,
        ((BigInt(m.n) * BigInt(m.sxx) - BigInt(m.sx) * BigInt(m.sx))).abs).max
      assert(worst * 1000 < BigInt(Long.MaxValue),
        s"$dir: CUPED moment product $worst within 1000x of 2^63 — " +
          "switch the gate to centered moments before this corpus grows")
    }
  }

  test("markov gate fails loudly when the corpus channel alphabet drifts") {
    // the oracle bakes its channel list into SQL text; a corpus whose
    // event_type domain differs must error AT THE OPERATOR, not silently
    // emit a different row set than the oracle
    val ev = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1L, "click"),
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:01:00"), 2L, "podcast"),
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:02:00"), 3L, "purchase"))
      .toDF("user_id", "ts", "event_id", "event_type")
    val e = intercept[IllegalArgumentException] {
      graft.operators.Growth.eventsAttributionMarkovOf(ev,
        Some(graft.operators.Growth.MarkovChannels)).collect()
    }
    assert(e.getMessage.contains("channel contract"), e.getMessage)
    // without a contract the alphabet stays data-driven (probe/spec path)
    val free = graft.operators.Growth.eventsAttributionMarkovOf(ev)
      .collect().map(_.getString(0)).toSeq
    assert(free == Seq("click", "podcast"), free.toString)
    // and a MATCHING alphabet passes the contract (the gate's steady
    // state — this is the case the Array-vs-List reference-equality bug
    // silently broke)
    val ok = Seq("click", "error", "signup", "view").zipWithIndex.map { case (c, i) =>
      (2L, java.sql.Timestamp.valueOf(s"2024-01-01 00:0$i:00"), 10L + i, c)
    } :+ ((2L, java.sql.Timestamp.valueOf("2024-01-01 00:05:00"), 99L, "purchase"))
    val okOut = graft.operators.Growth.eventsAttributionMarkovOf(
      ok.toDF("user_id", "ts", "event_id", "event_type"),
      Some(graft.operators.Growth.MarkovChannels))
      .collect().map(_.getString(0)).toSeq
    assert(okOut == Seq("click", "error", "signup", "view"), okOut.toString)
  }

  test("knnRecall rides the persisted brute/hard-neg truth artifacts") {
    val dir = "/root/testdata/sf0.001"
    val tbase = java.nio.file.Files.createTempDirectory("graft-truth-knn").toString
    val tmpPq = java.nio.file.Files.createTempDirectory("graft-truth-pq").toString
    val tmpIvf = java.nio.file.Files.createTempDirectory("graft-truth-ivf").toString
    spark.conf.set("graft.truth.dir", tbase)
    spark.conf.set("graft.pq.dir", tmpPq)
    spark.conf.set("graft.ivf.dir", tmpIvf)
    try {
      // the truth artifact IS the brute answer: byte-identical pair sets
      val direct = Similarity.knnBrute(spark, dir)
        .select(col("query_id"), col("neighbor_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val art = Similarity.bruteTruth(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(art == direct)
      // and the gate consumes it: rows all meet their floors with the
      // artifact in place (warm path — no in-gate brute re-derivation)
      val out = Similarity.knnRecall(spark, dir).collect()
      assert(out.nonEmpty)
      out.foreach { r =>
        assert(r.getAs[Long]("recall_e2") >= r.getAs[Long]("floor_e2"), r.toString)
      }
      val arts = new java.io.File(tbase).listFiles().map(_.getName)
      Seq("knnbrute-", "hardneg-").foreach { t =>
        assert(arts.exists(_.startsWith(t)), s"missing $t in ${arts.mkString(",")}")
      }
    } finally {
      spark.conf.unset("graft.truth.dir")
      spark.conf.unset("graft.pq.dir")
      spark.conf.unset("graft.ivf.dir")
    }
  }
}
