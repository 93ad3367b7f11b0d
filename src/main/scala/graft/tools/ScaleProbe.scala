package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-behavior probe: replicate the sf0.1 tables k× (shifting keys so
  * cardinality grows too) and time the heavy operators, to observe the
  * scaling exponent rather than guess it. Dev tool, not library surface. */
object ScaleProbe {

  // shared ANN-probe helpers (one definition — the review rule that four
  // inline copies of the same fold WILL drift)
  private def probeTop5(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
    df.filter(org.apache.spark.sql.functions.col("rank") <= 5).collect()
      .groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("neighbor_id")).toSet }

  private def probeRecallOf(a: Map[Long, Set[Long]],
                            e: Map[Long, Set[Long]]): Double =
    e.map { case (q, t) =>
      a.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size
    }.sum / e.size

  private def probeTimed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Recursive delete for probe temp data — repeated probe runs were
    * accumulating multi-GB replicated-parquet dirs under /tmp. */
  private def rmrf(dir: String): Unit = {
    import scala.jdk.CollectionConverters._
    val p = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
  }

  /** r15 (VERDICT item 7): a 1.2M+-edge rung for the graph_*_users loops —
    * the peel and BFS rounds whose gate-scale bench sits at the fixed
    * floor. A community-structured co-activity-like graph (communities of
    * `comm` users, 0–8 pseudo-random out-edges per user from xxhash64, so
    * degrees straddle the k-core threshold and the peel cascades for
    * several rounds; the radius-4 ball saturates inside the community,
    * mirroring the real sf0.1 graph where the ball saturates the giant
    * component). Measures:
    *  - kcoreTruncatedPeel (production, recompute-degrees-per-round) vs a
    *    DEGREE-DECREMENT formulation (join only the removed set per round,
    *    subtract from the pinned degree table) — the deferred r14 item 3
    *    question, cross-checked for identical output at the small rung;
    *  - harmonicTruncated (r15 one-exchange aggregate rounds) vs the r14
    *    distinct+anti-join rounds at the same rung. */
  private def usersLoopProbe(spark: SparkSession, users: Seq[Long]): Unit = {
    def graphOf(n: Long, comm: Long = 64L): DataFrame = {
      // user u -> up to 8 targets in u's community; self-loops dropped,
      // canonicalized a<b, deduped (the coActivityEdges output shape)
      spark.range(0, n).select(col("id").as("u"),
          explode(sequence(lit(0), pmod(xxhash64(col("id")), lit(9)).cast("int"))).as("j"))
        .filter(col("j") > 0)
        .select(col("u"),
          ((col("u") - pmod(col("u"), lit(comm))) +
            pmod(xxhash64(col("u"), col("j")), lit(comm))).as("v"))
        .filter(col("u") =!= col("v"))
        .select(least(col("u"), col("v")).as("a"), greatest(col("u"), col("v")).as("b"))
        .distinct()
    }
    def peelDecrement(pairs: DataFrame, k: Int, maxRounds: Int): DataFrame = {
      val bi = pairs.select(col("a").as("n1"), col("b").as("n2"))
        .unionAll(pairs.select(col("b").as("n1"), col("a").as("n2")))
        .localCheckpoint()
      var deg = bi.groupBy(col("n1")).agg(count(lit(1)).as("deg")).localCheckpoint()
      var round = 0
      var stable = false
      while (!stable && round < maxRounds) {
        val removed = deg.filter(col("deg") < k).select(col("n1").as("rm"))
        if (removed.isEmpty) stable = true
        else {
          // decrement survivors by their edges INTO the removed set — the
          // only join this round touches is |edges incident to removed|,
          // not |E| (the degree-decrement formulation under evaluation)
          val dec = bi.join(removed, col("n2") === col("rm"))
            .groupBy(col("n1")).agg(count(lit(1)).as("d"))
          deg = deg.filter(col("deg") >= k)
            .join(dec, Seq("n1"), "left")
            .select(col("n1"), (col("deg") - coalesce(col("d"), lit(0L))).as("deg"))
            .localCheckpoint()
          round += 1
        }
      }
      deg.filter(col("deg") >= k)
        .select(col("n1").as("node"), col("deg").as("core_deg"))
    }
    // output equivalence at a small rung (checksum + count)
    {
      val g = graphOf(20000L).localCheckpoint()
      def sig(df: DataFrame): (Long, Long) = {
        val r = df.agg(count(lit(1)),
          coalesce(sum(col("node") * lit(31L) + col("core_deg")), lit(0L))).head()
        (r.getLong(0), r.getLong(1))
      }
      val a = sig(graft.operators.GraphOps.kcoreTruncatedPeel(g, 6, 16))
      val b = sig(peelDecrement(g, 6, 16))
      println(s"[scale] usersloop equivalence n=20000: recompute=$a decrement=$b match=${a == b}")
    }
    for (n <- users) {
      val g = graphOf(n).localCheckpoint()
      val edges = g.count()
      val (_, tPeel) = probeTimed(
        graft.operators.GraphOps.kcoreTruncatedPeel(g, 6, 16).count())
      val (_, tDec) = probeTimed(peelDecrement(g, 6, 16).count())
      val (_, tPeel2) = probeTimed(
        graft.operators.GraphOps.kcoreTruncatedPeel(g, 6, 16).count())
      val (_, tDec2) = probeTimed(peelDecrement(g, 6, 16).count())
      println(f"[scale] usersloop peel n=$n%-8d edges=$edges%-9d recompute=$tPeel%.2f/$tPeel2%.2f s decrement=$tDec%.2f/$tDec2%.2f s")
      val (_, tBfs) = probeTimed(
        graft.operators.GraphOps.harmonicTruncated(g, 4).count())
      val (_, tBfs2) = probeTimed(
        graft.operators.GraphOps.harmonicTruncated(g, 4).count())
      println(f"[scale] usersloop bfs  n=$n%-8d edges=$edges%-9d r15-agg=$tBfs%.2f/$tBfs2%.2f s")
    }
  }

  /** Round-count probe for connected components on a CHAIN — the
    * diameter-shaped graph where the r1-r7 one-hop propagation loop needs
    * n−1 driver-synchronized rounds. The large/small-star form must stay
    * log-bounded in rounds (and therefore in wall clock) as the chain
    * grows; the propagation lines at small n show the linear round count
    * the star form replaces. */
  private def ccProbe(spark: SparkSession): Unit = {
    def chain(n: Long): DataFrame =
      spark.range(0, n - 1).select(col("id").as("a"), (col("id") + 1).as("b"))
    for (n <- Seq(64L, 256L)) {
      val t0 = System.nanoTime()
      val rows = graft.operators.Components.minLabelPropagation(chain(n)).count()
      // propagation rounds = chain diameter (n-1) + 1 convergence check
      println(f"[scale] cc propagation n=$n%-7d ${(System.nanoTime() - t0) / 1e9}%7.2f s rounds~${n - 1} labeled=$rows")
    }
    for (n <- Seq(1024L, 10240L, 102400L)) {
      val t0 = System.nanoTime()
      val (slabels, srounds) = graft.operators.Components.starFixpoint(chain(n))
      val srows = slabels.count()
      println(f"[scale] cc star        n=$n%-7d ${(System.nanoTime() - t0) / 1e9}%7.2f s rounds=$srounds labeled=$srows")
      val t1 = System.nanoTime()
      val (labels, rounds) = graft.operators.Components.minLabelWithRounds(chain(n))
      val rows = labels.count()
      println(f"[scale] cc hybrid      n=$n%-7d ${(System.nanoTime() - t1) / 1e9}%7.2f s rounds=$rounds labeled=$rows")
    }
  }

  /** Quadratic-vs-capped probe for the dedup_ngram hot-shingle cap: a
    * corpus where EVERY doc shares one boilerplate sentence (single
    * block), doubled in size per step. Uncapped, the shared shingles emit
    * O(n²) join rows — time should ~4× per doubling; capped, the
    * boilerplate shingles are dropped and growth stays near-linear. */
  private def ngramProbe(spark: SparkSession, sizes: Seq[Int]): Unit = {
    import org.apache.spark.sql.functions._
    val boiler = "terms of service apply to all content published in this corpus today"
    for (n <- sizes) {
      val dir = java.nio.file.Files.createTempDirectory(s"probe-ngram-$n").toString
      spark.range(0, n).select(
          col("id").as("doc_id"), lit("en").as("lang"), lit("web").as("source"),
          concat(lit(boiler + " entry "), col("id"),
            lit(" view "), col("id") * 7,
            lit(" body "), col("id") * 13).as("text"))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      for ((name, maxDf) <- Seq("uncapped" -> Int.MaxValue, "capped" -> 1000)) {
        val t0 = System.nanoTime()
        val rows = graft.operators.Dedup.dedupNgramCapped(spark, dir, maxDf).count()
        println(f"[scale] ngram $name%-9s n=$n%-6d ${(System.nanoTime() - t0) / 1e9}%7.2f s pairs=$rows")
      }
      rmrf(dir)
    }
  }

  /** Quadratic-vs-capped probe for dedup_embed's oversized-block guard: a
    * corpus where EVERY vector shares one label (the degenerate blocking
    * the guard exists for), doubled in size per step. Unguarded, the
    * label self-join emits n²/2 candidate pairs — time ~4× per doubling;
    * capped, sub-blocking bounds candidates at ~n·cap/2 (linear). */
  private def embedProbe(spark: SparkSession, sizes: Seq[Int]): Unit = {
    import org.apache.spark.sql.functions._
    for (n <- sizes) {
      val emb = spark.range(0, n).select(
        col("id").as("vec_id"), lit(0L).as("label"),
        transform(sequence(lit(0), lit(63)),
          j => ((pmod(col("id") * 31 + j * 17, lit(1000)).cast("double") / 500.0)
            - 1.0).cast("float")).as("embedding"))
      for ((name, cap) <- Seq("unguarded" -> Long.MaxValue, "capped" -> 1000L)) {
        val t0 = System.nanoTime()
        val rows = graft.operators.Similarity.dedupEmbedOf(emb, cap).count()
        println(f"[scale] embed $name%-10s n=$n%-6d ${(System.nanoTime() - t0) / 1e9}%7.2f s pairs=$rows")
      }
    }
  }

  /** Quadratic-vs-capped probe for dedup_semantic's sub-blocking guard: a
    * single-centroid quantizer puts EVERY vector in one cell (the
    * degenerate clustering the guard exists for), doubled in size per
    * step. Unguarded, the cell self-join emits n²/2 candidate pairs;
    * capped, sub-blocking bounds candidates at ~n·cap/2. */
  private def semanticProbe(spark: SparkSession, sizes: Seq[Int]): Unit = {
    import org.apache.spark.sql.functions._
    val cents = Seq(Seq.fill(64)(1.0), Seq.fill(64)(-1.0))
    for (n <- sizes) {
      val emb = spark.range(0, n).select(
        col("id").as("vec_id"),
        transform(sequence(lit(0), lit(63)),
          j => ((pmod(col("id") * 31 + j * 17, lit(1000)).cast("double") / 1000.0))
            .cast("float")).as("embedding"))
      for ((name, cap) <- Seq("unguarded" -> Long.MaxValue, "capped" -> 1000L)) {
        val t0 = System.nanoTime()
        val rows = graft.operators.Similarity
          .dedupSemanticOf(emb, cents, maxBlock = cap).count()
        println(f"[scale] semantic $name%-10s n=$n%-6d ${(System.nanoTime() - t0) / 1e9}%7.2f s dropped=$rows")
      }
    }
  }

  /** Codegen-size probe for the per-row argmax cell assignment
    * (nearestCellStruct): the k cosine calls inline into one expression,
    * so this measures throughput as the centroid count grows toward the
    * janino method-size cliff the scaladoc warns about. Watch stderr for
    * whole-stage-codegen fallback warnings. */
  private def cellsProbe(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions._
    val n = 200000L
    val emb = spark.range(0, n).select(
      col("id").as("vec_id"),
      transform(sequence(lit(0), lit(63)),
        j => ((pmod(col("id") * 31 + j * 17, lit(1000)).cast("double") / 500.0)
          - 1.0).cast("float")).as("embedding"))
    for (k <- Seq(8, 64, 256, 1024)) {
      val rnd = new scala.util.Random(42)
      val cents = Seq.fill(k)(Seq.fill(64)(rnd.nextDouble() * 2 - 1))
      for ((name, expr0) <- Seq(
        "flat" -> graft.operators.Similarity.nearestCellStruct(col("embedding"), cents),
        "2lvl" -> graft.operators.Similarity.nearestCellStructTwoLevel(col("embedding"), cents))) {
        val t0 = System.nanoTime()
        val cells = emb.select(expr0.getField("cell").as("cell"))
          .groupBy(col("cell")).count().count()
        println(f"[scale] cells $name k=$k%-5d n=$n ${(System.nanoTime() - t0) / 1e9}%7.2f s distinct=$cells")
      }
    }
  }

  /** Index-growth probe for incremental dedup: fold successive same-size
    * delta batches through one persisted band index — per-batch time must
    * stay near-flat as the index grows (the index streams map-side
    * against the broadcast delta; a shape that re-shuffled the index
    * would slow linearly with history). */
  private def incrementalProbe(spark: SparkSession, batchRows: Int, batches: Int): Unit = {
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("probe-inc").toString
    val idx = root + "/bands"
    for (b <- 0 until batches) {
      // every id ending in 9 repeats the text of its decade's first doc
      val base = when(pmod(col("id"), lit(10)) === 9, col("id") - 9).otherwise(col("id"))
      val docs = spark.range(b.toLong * batchRows, (b + 1).toLong * batchRows)
        .select(col("id").as("doc_id"),
          concat_ws(" ",
            (0 until 30).map(j => concat(lit(s"tok$j-"), base * 31 + j)): _*).as("text"))
      val t0 = System.nanoTime()
      val kept = graft.operators.Dedup.dedupIncrementalBatch(docs, idx)
        .filter(col("keep")).count()
      println(f"[scale] incremental batch=$b n=$batchRows ${(System.nanoTime() - t0) / 1e9}%7.2f s kept=$kept")
    }
    rmrf(root)
  }

  /** Linearity probe for the round-7 sampling/graph operators: documents
    * and embeddings replicated ×1/×10/×30 with shifted ids. token_budget
    * and epoch_shuffle must grow near-linearly (their cumsum/permutation
    * work is sharded — a super-linear step means a global sort crept
    * back); knn_graph is candidate-bounded by n·cap per cell, so growth
    * tracks cell population (near-linear while cells stay under the cap,
    * and the sub-blocking guard bounds it past that). */
  private def r7Probe(spark: SparkSession, reps: Seq[Int]): Unit = {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.1"
    val cents = graft.operators.Similarity.loadOrTrainCentroids(spark, dir)
    def time(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime(); val n = f
      println(f"[scale] $name%-22s ${(System.nanoTime() - t0) / 1e9}%7.2f s rows=$n")
    }
    for (k <- reps) {
      def repl(df: DataFrame, idCol: String): DataFrame =
        (0 until k).map(i => df.withColumn(idCol, col(idCol) + lit(i.toLong * 10000000L)))
          .reduce(_ unionByName _)
      val docs = repl(graft.sources.Tables.documents(spark, dir), "doc_id")
      val emb = repl(graft.sources.Tables.embeddings(spark, dir), "vec_id")
      time(s"token_budget x$k")(
        graft.operators.TextAnalysis.corpusTokenBudgetOf(docs).count())
      time(s"epoch_shuffle x$k")(
        graft.operators.TextAnalysis.corpusEpochShuffleOf(docs, 1).count())
      time(s"knn_graph x$k")(
        graft.operators.Similarity.knnGraphOf(emb, cents).count())
      // cross-table balanced sampling: docs and embeddings replicated with
      // the SAME id shift so the 1:1 join keys stay aligned
      val tmp = java.nio.file.Files.createTempDirectory(s"probe-sem-$k").toString
      docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
      emb.write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
      time(s"semantic_sample x$k")(
        graft.operators.Similarity.corpusSemanticSampleOf(spark, tmp, cents).count())
      rmrf(tmp) // replicated parquet + per-dir quantizer artifacts: GBs per run
    }
  }

  /** r8b additions: memorization / ppl-bucket / trend at ×1/×10/×30.
    * Documents and events replicate with id shifts; the Of-forms take the
    * DataFrames directly so no temp parquet is needed. Note memorization
    * under replication is the WORST case for the gram window (every gram's
    * df multiplies by k), which is exactly the hot-key behavior to probe. */
  private def r8bProbe(spark: SparkSession, reps: Seq[Int]): Unit = {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.1"
    // forced through the hash fold (not count()) so column pruning cannot
    // drop the windows/sums being timed — the tpchProbe discipline. df is
    // BY-NAME: ppl_bucket's eager localCheckpoint runs at construction
    // time and must land inside the timer.
    def time(name: String)(df: => DataFrame): Unit = {
      val t0 = System.nanoTime()
      val h = df.agg(sum(pmod(xxhash64(struct(col("*"))), lit(1000000007L))))
        .collect().head.getLong(0)
      println(f"[scale] $name%-22s ${(System.nanoTime() - t0) / 1e9}%7.2f s h=$h")
    }
    for (k <- reps) {
      def repl(df: DataFrame, idCols: Seq[String]): DataFrame =
        (0 until k).map { i =>
          idCols.foldLeft(df)((d, c) =>
            d.withColumn(c, col(c) + lit(i.toLong * 10000000L)))
        }.reduce(_ unionByName _)
      val docs = repl(graft.sources.Tables.documents(spark, dir), Seq("doc_id"))
      val ev = repl(graft.sources.Tables.events(spark, dir), Seq("event_id", "user_id"))
      time(s"memorization x$k")(graft.operators.CorpusStats.textMemorizationOf(docs))
      time(s"ppl_bucket x$k")(graft.operators.CorpusStats.corpusPplBucketOf(docs))
      time(s"events_trend x$k")(graft.operators.Analytics.eventsTrendOf(ev))
    }
  }

  /** Round-8c probe: the session's event-ledger and doc-local ops over
    * events/documents replicated ×k. Expectation: lifecycle/label_join/
    * seasonality/forecast scale with the one fact-sized exchange each
    * (user-day grain for the ledgers); gopher/ttr are doc-local (ttr pays
    * its combine-heavy token count). */
  private def r8cProbe(spark: SparkSession, reps: Seq[Int]): Unit = {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.1"
    def time(name: String)(df: => DataFrame): Unit = {
      val t0 = System.nanoTime()
      val h = df.agg(sum(pmod(xxhash64(struct(col("*"))), lit(1000000007L))))
        .collect().head.getLong(0)
      println(f"[scale] $name%-22s ${(System.nanoTime() - t0) / 1e9}%7.2f s h=$h")
    }
    for (k <- reps) {
      def repl(df: DataFrame, idCols: Seq[String]): DataFrame =
        (0 until k).map { i =>
          idCols.foldLeft(df)((d, c) =>
            d.withColumn(c, col(c) + lit(i.toLong * 10000000L)))
        }.reduce(_ unionByName _)
      val docs = repl(graft.sources.Tables.documents(spark, dir), Seq("doc_id"))
      val ev = repl(graft.sources.Tables.events(spark, dir), Seq("event_id", "user_id"))
      time(s"lifecycle x$k")(graft.operators.Growth.eventsLifecycleOf(ev))
      time(s"seasonality x$k")(graft.operators.Growth.eventsSeasonalityOf(ev))
      time(s"forecast x$k")(graft.operators.Growth.eventsForecastOf(ev))
      time(s"label_join x$k")(graft.operators.FeatureOps.ftLabelJoinOf(ev))
      time(s"gopher x$k")(graft.operators.CorpusStats.corpusGopherFilterOf(docs))
      time(s"ttr x$k")(graft.operators.CorpusStats.textTtrOf(docs))
    }
  }

  /** Round-8d probe: the line-dedup / cell-topics / snapshot / decile
    * wave. corpus_line_dedup is the interesting one — replicated docs
    * make EVERY line cross the ≥3-docs threshold (×10 ⇒ 10 copies), so
    * the probe exercises the hot-line join at its worst. */
  private def r8dProbe(spark: SparkSession, reps: Seq[Int]): Unit = {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.1"
    def time(name: String)(df: => DataFrame): Unit = {
      val t0 = System.nanoTime()
      val h = df.agg(sum(pmod(xxhash64(struct(col("*"))), lit(1000000007L))))
        .collect().head.getLong(0)
      println(f"[scale] $name%-22s ${(System.nanoTime() - t0) / 1e9}%7.2f s h=$h")
    }
    for (k <- reps) {
      def repl(df: DataFrame, idCols: Seq[String]): DataFrame =
        (0 until k).map { i =>
          idCols.foldLeft(df)((d, c) =>
            d.withColumn(c, col(c) + lit(i.toLong * 10000000L)))
        }.reduce(_ unionByName _)
      val docs = repl(graft.sources.Tables.documents(spark, dir), Seq("doc_id"))
      val ev = repl(graft.sources.Tables.events(spark, dir), Seq("event_id", "user_id"))
      val emb = repl(graft.sources.Tables.embeddings(spark, dir), Seq("vec_id"))
      time(s"line_dedup x$k")(graft.operators.Dedup.corpusLineDedupOf(docs))
      time(s"cell_topics x$k")(graft.operators.CorpusStats.corpusCellTopicsOf(docs, emb))
      time(s"snapshot x$k")(graft.operators.FeatureOps.ftDailySnapshotOf(ev))
      time(s"embed_drift x$k")(graft.operators.Similarity.embedDriftOf(emb))
      time(s"ab_lift x$k")(graft.operators.Growth.eventsAbLiftOf(ev))
    }
  }

  /** Scale probe for the multi-join TPC-H shapes: replicate the FACT
    * tables k× with CONSISTENT key shifts (lineitem+orders share the
    * orderkey shift, orders+customer the custkey shift) into a temp dir,
    * leave the dims fixed, and run the (spark, dir) queries unchanged.
    * Every query is forced through sum(xxhash64(struct(*))) so Catalyst
    * cannot prune the aggregate outputs being timed. */
  private def tpchProbe(spark: SparkSession, k: Int): Unit = {
    import org.apache.spark.sql.functions._
    val src = "/root/testdata/sf0.1"
    val out = java.nio.file.Files.createTempDirectory(s"probe-tpch-$k").toString
    def rep(df: DataFrame, keyCols: Seq[String]): DataFrame =
      (0 until k).map { i =>
        keyCols.foldLeft(df)((d, c) =>
          d.withColumn(c, col(c) + lit(i.toLong * 10000000L)))
      }.reduce(_ unionByName _)
    rep(graft.sources.Tables.lineitem(spark, src), Seq("l_orderkey"))
      .write.mode("overwrite").parquet(s"$out/lineitem.parquet")
    rep(graft.sources.Tables.orders(spark, src), Seq("o_orderkey", "o_custkey"))
      .write.mode("overwrite").parquet(s"$out/orders.parquet")
    rep(graft.sources.Tables.customer(spark, src), Seq("c_custkey"))
      .write.mode("overwrite").parquet(s"$out/customer.parquet")
    for (t <- Seq("part", "supplier", "nation", "region"))
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
    for ((name, fn) <- Seq[(String, (SparkSession, String) => DataFrame)](
      "q_nation_volume"   -> graft.operators.AnalyticsJoins.qNationVolume,
      "q_promo_share"     -> graft.operators.AnalyticsJoins.qPromoShare,
      "q_big_orders"      -> graft.operators.AnalyticsJoins.qBigOrders,
      "q_supplier_variety" -> graft.operators.AnalyticsJoins.qSupplierVariety,
      "q_sole_blame"      -> graft.operators.AnalyticsJoins.qSoleBlame,
      "q_market_share"    -> graft.operators.AnalyticsJoins.qMarketShare,
      "q_returned_items"  -> graft.operators.AnalyticsJoins.qReturnedItems,
      "graph_pagerank"    -> graft.operators.GraphOps.graphPagerank,
      "graph_triangles"   -> graft.operators.GraphOps.graphTriangles,
      "graph_bfs"         -> graft.operators.GraphOps.graphBfs)) {
      val t0 = System.nanoTime()
      // mod-p before summing: a raw sum of 2^63-range hashes ANSI-overflows
      val h = fn(spark, out).agg(sum(pmod(xxhash64(struct(col("*"))), lit(1000000007L))))
        .collect().head.getLong(0)
      println(f"[scale] $name%-19s x$k%-3d ${(System.nanoTime() - t0) / 1e9}%7.2f s h=$h")
    }
    rmrf(out)
  }

  /** Round-9 probe: the five graph gate analytics run over the ≤625-edge
    * nation graph; this proves the CORPUS-scale graph story executable —
    * derive the capped user×user co-activity graph and run pagerank +
    * connected components on it at ×1/×10/×30 event replication.
    * Replicated users are active at the SAME hours, so the per-hour user
    * count grows k× — the worst case for the pair join, which the
    * top-per-hour cap must absorb (edges stay bounded while input grows).
    * Components' round count is printed: flat rounds = the O(log n)
    * star fixpoint claim on a second domain. */
  private def r9Probe(spark: SparkSession, reps: Seq[Int]): Unit = {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.1"
    for (k <- reps) {
      def repl(df: DataFrame, idCols: Seq[String]): DataFrame =
        (0 until k).map { i =>
          idCols.foldLeft(df)((d, c) =>
            d.withColumn(c, col(c) + lit(i.toLong * 10000000L)))
        }.reduce(_ unionByName _)
      val ev = repl(graft.sources.Tables.events(spark, dir), Seq("event_id", "user_id"))
      val t0 = System.nanoTime()
      val edges = graft.operators.GraphOps.userCoSessionGraphOf(ev).localCheckpoint()
      val nEdges = edges.count()
      val tDerive = (System.nanoTime() - t0) / 1e9
      val nodes = edges.select(col("a").as("node"))
        .unionByName(edges.select(col("b").as("node"))).distinct().localCheckpoint()
      val nNodes = nodes.count()
      val t1 = System.nanoTime()
      // undirected pagerank: both edge directions carry mass
      val directed = edges.select(col("a").as("src"), col("b").as("dst"), col("w"))
        .unionByName(edges.select(col("b").as("src"), col("a").as("dst"), col("w")))
      val prH = graft.operators.GraphOps.graphPagerankOf(nodes, directed)
        .agg(sum(pmod(xxhash64(struct(col("*"))), lit(1000000007L))))
        .collect().head.getLong(0)
      val tPr = (System.nanoTime() - t1) / 1e9
      val t2 = System.nanoTime()
      val (labels, rounds) = graft.operators.Components.minLabelWithRounds(
        edges.select(col("a"), col("b")))
      val nComps = labels.select(col("lbl")).distinct().count()
      val tCc = (System.nanoTime() - t2) / 1e9
      println(f"[scale] cosession x$k%-3d derive $tDerive%6.2f s edges=$nEdges nodes=$nNodes | " +
        f"pagerank $tPr%6.2f s h=$prH | cc $tCc%6.2f s rounds=$rounds comps=$nComps")
    }
  }

  /** Round-9b probe: BPE learning (word-TYPE grain — replication grows
    * occurrence counts, NOT the vocabulary, so rounds should be
    * corpus-size-flat) and edit-distance dedup (segment blocking —
    * replicated docs multiply every title k×, the candidate join's worst
    * case since every copy collides with every other). */
  private def r9bProbe(spark: SparkSession, reps: Seq[Int]): Unit = {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.1"
    for (k <- reps) {
      def repl(df: DataFrame, idCols: Seq[String]): DataFrame =
        (0 until k).map { i =>
          idCols.foldLeft(df)((d, c) =>
            d.withColumn(c, col(c) + lit(i.toLong * 10000000L)))
        }.reduce(_ unionByName _)
      val docs = repl(graft.sources.Tables.documents(spark, dir), Seq("doc_id"))
      val t0 = System.nanoTime()
      val merges = graft.operators.Bpe.learnMerges(docs, 16)
      val tLearn = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val apH = graft.operators.Bpe.corpusBpeApplyOf(docs, merges)
        .agg(sum(pmod(xxhash64(struct(col("*"))), lit(1000000007L))))
        .collect().head.getLong(0)
      val tApply = (System.nanoTime() - t1) / 1e9
      val t2 = System.nanoTime()
      val nPairs = graft.operators.Dedup.dedupEditOf(docs, tau = 2).count()
      val tEdit = (System.nanoTime() - t2) / 1e9
      println(f"[scale] bpe x$k%-3d learn $tLearn%6.2f s (${merges.size} merges) | " +
        f"apply $tApply%6.2f s h=$apH | edit_dedup $tEdit%6.2f s pairs=$nPairs")
    }
  }

  /** r9f: retrieval + skyline + Markov attribution + second-domain CC at
    * ×1/×10/×30. Expected shapes: bm25's fact work is one tokenize pass
    * (linear); skyline replicates ROWS but not distinct (price, size)
    * pairs, so the pair-grain collapse is the linear part and everything
    * after it is constant; markov's fact work is one user window (linear
    * — the 5-scenario iteration is driver-side constant over the channel
    * matrix); graph_components rides the capped co-session derivation
    * (bounded by construction) + the log-round CC. */
  private def r9fProbe(spark: SparkSession, reps: Seq[Int]): Unit = {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.1"
    for (k <- reps) {
      def repl(df: DataFrame, idCols: Seq[String]): DataFrame =
        (0 until k).map { i =>
          idCols.foldLeft(df)((d, c) =>
            d.withColumn(c, col(c) + lit(i.toLong * 10000000L)))
        }.reduce(_ unionByName _)
      val docs = repl(graft.sources.Tables.documents(spark, dir), Seq("doc_id"))
      val t0 = System.nanoTime()
      val bmH = graft.operators.CorpusStats
        .corpusBm25Of(docs, graft.operators.CorpusStats.Bm25Query, 20)
        .agg(sum(pmod(xxhash64(struct(col("*"))), lit(1000000007L))))
        .collect().head.getLong(0)
      val tBm = (System.nanoTime() - t0) / 1e9
      val part = repl(graft.sources.Tables.part(spark, dir), Seq("p_partkey"))
      val t1 = System.nanoTime()
      val nSky = graft.operators.AnalyticsJoins.qSkylineOf(part).count()
      val tSky = (System.nanoTime() - t1) / 1e9
      val ev = repl(graft.sources.Tables.events(spark, dir), Seq("event_id", "user_id"))
      val t2 = System.nanoTime()
      val mkH = graft.operators.Growth.eventsAttributionMarkovOf(ev)
        .agg(sum(pmod(xxhash64(struct(col("*"))), lit(1000000007L))))
        .collect().head.getLong(0)
      val tMk = (System.nanoTime() - t2) / 1e9
      val t3 = System.nanoTime()
      val nCc = graft.operators.GraphOps.graphComponentsOf(ev).count()
      val tCc = (System.nanoTime() - t3) / 1e9
      println(f"[scale] r9f x$k%-3d bm25 $tBm%6.2f s h=$bmH | skyline $tSky%6.2f s rows=$nSky | " +
        f"markov $tMk%6.2f s h=$mkH | components $tCc%6.2f s users=$nCc")
    }
  }

  /** r9d: perceptron training at docs ×1/×10/×30 — rounds are one pass
    * over the (doc, bucket) feature table each, so total time should be
    * linear in the corpus with a flat per-round cost ratio; the learned
    * weights should STABILIZE (replication preserves the class-conditional
    * token distribution, so ×k teaches the same decision boundary). */
  private def r9dProbe(spark: SparkSession, reps: Seq[Int]): Unit = {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.1"
    for (k <- reps) {
      val docs = (0 until k).map { i =>
        graft.sources.Tables.documents(spark, dir)
          .withColumn("doc_id", col("doc_id") + lit(i.toLong * 10000000L))
      }.reduce(_ unionByName _)
      val t0 = System.nanoTime()
      val out = graft.operators.Classifier.corpusQualityClassifierOf(docs)
        .collect()
      val t = (System.nanoTime() - t0) / 1e9
      val acc = out.find(r => r.getString(0) == "acc" && r.getLong(1) == 4L)
        .map(_.getLong(2)).getOrElse(-1L)
      val m8 = out.find(r => r.getString(0) == "round_mistakes" && r.getLong(1) == 8L)
        .map(_.getLong(2)).getOrElse(-1L)
      println(f"[scale] classifier x$k%-3d train+score $t%6.2f s | " +
        f"acc_bp=$acc | round8_mistakes=$m8")
    }
  }

  /** Raw ANN recall@5 at BOTH gate scale factors (the knn_recall gate
    * FILTERS below-floor rows away, so floors must be pinned from this
    * unfiltered measurement): banded defaults plus the nprobe/rerank
    * sweep, against fresh artifact stores so the banded geometry trains. */
  def recallProbe(spark: SparkSession): Unit = {
    import graft.operators.Similarity
    for (sfDir <- Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
      val tmpPq = java.nio.file.Files.createTempDirectory("probe_pq").toString
      val tmpIvf = java.nio.file.Files.createTempDirectory("probe_ivf").toString
      spark.conf.set("graft.pq.dir", tmpPq)
      spark.conf.set("graft.ivf.dir", tmpIvf)
      try {
        def top5(df: org.apache.spark.sql.DataFrame) = probeTop5(df)
        def recallOf(a: Map[Long, Set[Long]], e: Map[Long, Set[Long]]) =
          probeRecallOf(a, e)
        val n = Similarity.corpusCount(spark, sfDir)
        val brute = top5(Similarity.knnBrute(spark, sfDir))
        val t0 = System.nanoTime()
        val pq = recallOf(top5(Similarity.knnPq(spark, sfDir)), brute)
        val tTrain = (System.nanoTime() - t0) / 1e9
        val ivf = recallOf(top5(Similarity.knnIvf(spark, sfDir)), brute)
        val ivfpq = recallOf(top5(Similarity.knnIvfPq(spark, sfDir)), brute)
        val hamming = recallOf(top5(Similarity.knnHamming(spark, sfDir)), brute)
        val hammingRr = recallOf(
          top5(Similarity.knnHammingRerank(spark, sfDir)), brute)
        println(f"[recall] $sfDir n=$n banded: pq=$pq%.2f ivf=$ivf%.2f " +
          f"ivfpq=$ivfpq%.2f hamming=$hamming%.2f hamming_rr=$hammingRr%.2f " +
          f"(first pq call incl train $tTrain%.1f s)")
        for (np <- Seq(2, 4); rr <- Seq(50, Similarity.rerankFor(n))) {
          val r = recallOf(top5(Similarity.knnIvfPqWith(spark, sfDir, np, rr)), brute)
          println(f"[recall]   ivfpq nprobe=$np rerank=$rr -> $r%.2f")
        }
        for (rr <- Seq(50, Similarity.rerankFor(n))) {
          val r = recallOf(top5(Similarity.knnPqWith(spark, sfDir, rr)), brute)
          println(f"[recall]   pq rerank=$rr -> $r%.2f")
        }
      } finally {
        spark.conf.unset("graft.pq.dir"); spark.conf.unset("graft.ivf.dir")
      }
    }
  }

  /** Hostile channel alphabet for the markov attribution family: the
    * driver-side absorption matrix is documented as bounded by product
    * instrumentation (≤ (channels+3)² transition rows) — this measures
    * that bound at 500 channels (50-500× any real instrumentation),
    * i.e. ~253k collected rows and 501 removal scenarios, so the
    * documented "bounded driver traffic" claim carries a number. */
  def markovProbe(spark: SparkSession): Unit = {
    import spark.implicits._
    for (nChan <- Seq(50, 200, 500)) {
      val rnd = new scala.util.Random(17)
      val n = 200000
      val ev = (0 until n).map { i =>
        val user = i / 8
        val t = new java.sql.Timestamp(1704067200000L + i.toLong * 1000L)
        val chan = if (i % 8 == 7 && rnd.nextBoolean()) "purchase"
        else s"ch${rnd.nextInt(nChan)}"
        (user.toLong, t, i.toLong, chan)
      }.toDF("user_id", "ts", "event_id", "event_type")
        .localCheckpoint()
      val t0 = System.nanoTime()
      val out = graft.operators.Growth.eventsAttributionMarkovOf(ev).collect()
      val t = (System.nanoTime() - t0) / 1e9
      println(f"[scale] markov channels=$nChan%-4d events=$n $t%6.2f s | " +
        f"channel_rows=${out.length} | bound=${(nChan + 3) * (nChan + 3)} transition rows")
    }
  }

  /** Quantizer TRAINING cost vs corpus size, raw vs hash-sampled: Lloyd
    * costs multiple full input scans per iteration, so raw training
    * scales linearly with the corpus while the capped sample flattens —
    * the measurement behind Similarity.sampleForTraining's cap. */
  def trainProbe(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions._
    for (n <- Seq(100000L, 400000L)) {
      val emb = spark.range(0, n).select(col("id").as("vec_id"),
        array((0 until 64).map(i =>
          sin(col("id") * (i * 37 + 1)).cast("float")): _*).as("embedding"))
        .localCheckpoint()
      def time(f: => Unit): Double = {
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      val raw = time(graft.operators.Similarity.kmeansCentroids(emb, 16, 2): Unit)
      val capped = time(graft.operators.Similarity.kmeansCentroids(
        graft.operators.Similarity.sampleForTraining(emb, n), 16, 2): Unit)
      // the production shape: banded √N cells trained on the capped sample
      val kBand = graft.operators.Similarity.cellsFor(n)
      val banded = time(graft.operators.Similarity.kmeansCentroids(
        graft.operators.Similarity.sampleForTraining(emb, n), kBand, 2): Unit)
      println(f"[scale] train n=$n%-7d raw16=$raw%6.2f s capped16=$capped%6.2f s " +
        f"banded(k=$kBand)=$banded%6.2f s (cap=${graft.operators.Similarity.TrainingSampleCap})")
    }
  }

  /** End-to-end IVF QUERY cost vs geometry at a 200k-vector synthetic
    * corpus: the historical fixed geometry (16 cells, nprobe 2) against
    * the banded one (cellsFor/nprobeFor). Probing ALL cells degenerates
    * to exact brute force (knnIvfOver's documented contract), which
    * doubles as the recall truth here. Reports the corpus-side cell
    * assignment separately — in production it persists with the index
    * (the IVFFlat lists / the codes artifact), so the query-side delta is
    * the number that matters per query. */
  def ivfQueryProbe(spark: SparkSession): Unit =
    Seq(200000L, 400000L).foreach(ivfQueryProbeAt(spark, _))

  /** The 1M rung alone (cells>1024: two-level assignment + 64·k training
    * cap both active — the same boundary `pqscale1m` crosses). */
  def ivfQueryProbe1m(spark: SparkSession): Unit =
    ivfQueryProbeAt(spark, 1200000L)

  private def ivfQueryProbeAt(spark: SparkSession, n: Long): Unit = {
    import org.apache.spark.sql.functions._
    val emb = spark.range(0, n).select(col("id").as("vec_id"),
      array((0 until 64).map(i =>
        sin(col("id") * (i * 37 + 1)).cast("float")): _*).as("embedding"))
      .localCheckpoint()
    val S = graft.operators.Similarity
    def time[T](f: => T): (T, Double) = probeTimed(f)
    def top5(df: org.apache.spark.sql.DataFrame) = probeTop5(df)
    val sample = S.sampleForTraining(emb, n)
    val cents16 = S.kmeansCentroids(sample, 16, 2)
    val kBand = S.cellsFor(n)
    val (centsBand, tTrain) = time(S.kmeansCentroids(sample, kBand, 2))
    val truth = top5(S.knnIvfOver(emb, cents16, nprobe = 16))
    for ((tag, cents, np) <- Seq(
        ("fixed16", cents16, 2),
        (s"banded(k=$kBand)", centsBand, S.nprobeFor(n)))) {
      val (_, tAssign) = time(
        emb.select(S.nearestCellExpr(col("embedding"), cents).as("c"))
          .groupBy(col("c")).count().collect())
      val (r, tQ) = time(top5(S.knnIvfOver(emb, cents, np)))
      val recall = truth.map { case (q, t) =>
        r.getOrElse(q, Set.empty[Long]).intersect(t).size.toDouble / t.size
      }.sum / truth.size
      println(f"[scale] ivfquery n=$n geom=$tag%-14s np=$np%-3d " +
        f"assign=$tAssign%6.2f s e2e=$tQ%6.2f s recall@5=$recall%.2f " +
        f"(banded train $tTrain%.1f s)")
    }
    // the production path: inverted lists persisted PARTITIONED BY CELL,
    // so the assignment cosines are build-time and the query reads only
    // the probed cells' partitions
    val idxPath = sys.props("java.io.tmpdir") + "/graft_probe_ivfflat"
    val (_, tBuild) = time(graft.serving.StorePaths.writeParquetAtomic(
      emb.select(S.nearestCellExpr(col("embedding"), centsBand).as("cell"),
        col("vec_id"), col("embedding")).repartition(col("cell")),
      idxPath, Seq("cell")))
    val idx = spark.read.parquet(idxPath)
      .select(col("cell"), col("vec_id").as("neighbor_id"), col("embedding"))
    val np = S.nprobeFor(n)
    val (ri, tIdx) = time(top5(
      S.knnIvfRank(emb, idx, centsBand, np, 0L, 10L, pruneCells = true)))
    val recallI = truth.map { case (q, t) =>
      ri.getOrElse(q, Set.empty[Long]).intersect(t).size.toDouble / t.size
    }.sum / truth.size
    println(f"[scale] ivfquery n=$n geom=indexed(k=$kBand) np=$np%-3d " +
      f"build=$tBuild%6.2f s query=$tIdx%6.2f s recall@5=$recallI%.2f")
    val ip = new org.apache.hadoop.fs.Path(idxPath)
    ip.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(ip, true): Unit
  }

  /** PQ/IVFPQ recall with the CURRENT corpus-banded geometry at 10×/50×
    * the largest gate corpus — the question the r9 verdict asked of the
    * fixed geometry ("recall must not decay with corpus size") re-asked
    * of the banded one, on a synthetic corpus dir shaped like testdata
    * (embeddings.parquet: vec_id, embedding float[64], label). All
    * artifact stores are pointed at throwaway temp dirs. */
  def pqScaleProbe(spark: SparkSession,
                   sizes: Seq[Long] = Seq(20000L, 100000L, 400000L)): Unit = {
    import org.apache.spark.sql.functions._
    val S = graft.operators.Similarity
    def top5(df: org.apache.spark.sql.DataFrame) = probeTop5(df)
    def recallOf(a: Map[Long, Set[Long]], e: Map[Long, Set[Long]]) =
      probeRecallOf(a, e)
    for (n <- sizes) {
      val dir = sys.props("java.io.tmpdir") + s"/graft_pqscale_$n"
      val tbl = new org.apache.hadoop.fs.Path(dir + "/embeddings.parquet")
      val f = tbl.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!f.exists(new org.apache.hadoop.fs.Path(dir + "/embeddings.parquet/_SUCCESS")))
        spark.range(0, n).select(col("id").as("vec_id"),
          array((0 until 64).map(i =>
            sin(col("id") * (i * 37 + 1)).cast("float")): _*).as("embedding"),
          (col("id") % 16).cast("int").as("label"))
          .coalesce(8).write.mode("overwrite").parquet(dir + "/embeddings.parquet")
      // GRAFT_PQSCALE_STORE reuses a prior run's trained artifacts (the
      // corpus fingerprint gates staleness) — re-measuring a sweep point
      // without the ~12-min 2.4M retrain
      val stores = sys.env.getOrElse("GRAFT_PQSCALE_STORE",
        java.nio.file.Files.createTempDirectory("graft_pqscale_store").toString)
      Seq("graft.ivf.dir", "graft.pq.dir", "graft.ivfflat.dir", "graft.knngraph.dir")
        .foreach(k => spark.conf.set(k, stores + "/" + k))
      try {
        val brute = top5(S.knnBrute(spark, dir))
        def time[T](x: => T): (T, Double) = probeTimed(x)
        val (_, tCents) = time(S.loadOrTrainCentroids(spark, dir))
        val (pq, tPq) = time(recallOf(top5(S.knnPq(spark, dir)), brute))
        val (_, tPqWarm) = time(S.knnPq(spark, dir).collect())
        val (ivfpq, tIvfpq) = time(recallOf(top5(S.knnIvfPq(spark, dir)), brute))
        println(f"[scale] pqscale n=$n%-7d geometry: nSub=${S.pqSubFor(n)} " +
          f"cells=${S.cellsFor(n)} nprobe=${S.nprobeFor(n)} " +
          f"rerank=${S.pqRerankFor(n)} (binary band ${S.rerankFor(n)}) | " +
          f"pq=$pq%.2f ivfpq=$ivfpq%.2f | quantizer=$tCents%.1f s " +
          f"pq_train+q=$tPq%.1f s pq_warm=$tPqWarm%.1f s ivfpq_warm=$tIvfpq%.1f s")
        for (np <- Seq(S.nprobeFor(n), 2 * S.nprobeFor(n));
             rr <- Seq(S.rerankFor(n), 2 * S.rerankFor(n), 4 * S.rerankFor(n))) {
          val (r, t) = time(recallOf(top5(S.knnIvfPqWith(spark, dir, np, rr)), brute))
          println(f"[scale]   ivfpq sweep nprobe=$np%-3d rerank=$rr%-4d -> $r%.2f ($t%.1f s)")
        }
      } finally Seq("graft.ivf.dir", "graft.pq.dir", "graft.ivfflat.dir",
        "graft.knngraph.dir").foreach(spark.conf.unset)
    }
  }

  /** Range-search pruning at index scale, on a CLUSTERED corpus (the
    * iid-uniform pqscale corpora are the metric-pruning worst case — cell
    * radii near 90°, nothing prunes, and KnnRangeSpec documents that; this
    * probe measures the case range pruning exists for): 64 tight clusters
    * (center per id%64 + 5% jitter), banded quantizer + persisted IVFFlat
    * lists + per-cell radii, then `knn_range` wall-time and admitted-cell
    * fraction vs the unpruned brute-force threshold scan, with a
    * result-set equality check (the pruning is exact by construction —
    * the probe re-proves it at a rung the spec can't afford). */
  def rangeProbe(spark: SparkSession, sizes: Seq[Long] = Seq(200000L)): Unit = {
    import org.apache.spark.sql.functions._
    val S = graft.operators.Similarity
    for (n <- sizes) {
      // Corpus model: the query band stays FIXED while unrelated mass
      // grows. Ids < 31250 form 10 tight query clusters of 3125 on axes
      // e0..e9 (all gate queries vec_id < 10 land in cluster 0); every
      // further id spreads over ±e10..±e63 — ORTHOGONAL to the query
      // clusters by construction (random 64-dim directions cannot do
      // this: at C ≥ a few hundred, ~1% of center pairs land inside a
      // 0.30 band and the result set grows linearly again, which this
      // probe measured before switching models). The pruned query's work
      // (admitted cells × band rows) should hold flat as n grows; the
      // brute scan is linear in n.
      val dir = sys.props("java.io.tmpdir") + s"/graft_rangeprobe_$n"
      val f = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!f.exists(new org.apache.hadoop.fs.Path(dir + "/embeddings.parquet/_SUCCESS"))) {
        val inBand = col("id") < 31250L
        val qc = (col("id") / 3125L).cast("int")   // query cluster 0..9
        val fc = (col("id") % 108L).cast("int")    // far direction 0..107
        val fd = lit(10) + pmod(col("fc"), lit(54)) // far dim 10..63
        spark.range(0, n)
          .withColumn("fc", fc)
          .select(col("id").as("vec_id"),
            array((0 until 64).map { d =>
              val base = when(inBand,
                  when(qc === d, lit(1.0)).otherwise(lit(0.0)))
                .otherwise(when(fd === d,
                  when(col("fc") < 54, lit(1.0)).otherwise(lit(-1.0)))
                  .otherwise(lit(0.0)))
              // jitter sized to keep cell radii INSIDE the bound's slack:
              // at 0.05/dim the 64-dim jitter norm is ~0.4, cells read
              // cm ~ 0.93 and an orthogonal cell's cap cq·cm + sin·sin ~
              // 0.37 > τ — nothing prunes (measured 62-64% admitted);
              // at 0.02/dim cm ~ 0.987 and the cap ~ 0.16 < τ − ε
              (base + sin(col("id") * (d * 53 + 11)) * lit(0.02)).cast("float")
            }: _*).as("embedding"),
            when(inBand, qc).otherwise(lit(10) + col("fc")).as("label"))
          .coalesce(8).write.mode("overwrite").parquet(dir + "/embeddings.parquet")
      }
      val stores = sys.env.getOrElse("GRAFT_RANGEPROBE_STORE",
        java.nio.file.Files.createTempDirectory("graft_rangeprobe_store").toString)
      Seq("graft.ivf.dir", "graft.ivfflat.dir")
        .foreach(k => spark.conf.set(k, stores + "/" + k))
      try {
        def time[T](x: => T): (T, Double) = probeTimed(x)
        val (_, tBuild) = time {
          S.loadOrTrainCentroids(spark, dir)
          S.knnRange(spark, dir).count() // trains + builds lists + radii
        }
        val (pruned, tQ) = time(S.knnRange(spark, dir).collect())
        // stage split (the lshtwin discipline): where does the pruned
        // query's wall go — probe-frame job, candidate join, or the
        // presentation sort's child re-execution?
        val (probeFrame, tProbe) = time(
          S.rangeProbeFrame(spark, dir, quantized = false))
        val (_, tJoin) = time(S.rangeCandidates(spark, dir, probeFrame).collect())
        val (_, tSorted) = time(S.rangeCandidates(spark, dir, probeFrame)
          .orderBy(col("query_id"), col("neighbor_id")).collect())
        println(f"[scale]   rangeprobe split: probe_frame=$tProbe%5.2f s " +
          f"join_unsorted=$tJoin%5.2f s join_sorted=$tSorted%5.2f s")
        // unpruned reference: brute-force threshold over the full corpus
        val emb = graft.sources.Tables.embeddings(spark, dir)
        val q = emb.filter(col("vec_id") < 10)
          .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
        val (brute, tB) = time(
          emb.select(col("vec_id").as("neighbor_id"), col("embedding"))
            .crossJoin(broadcast(q))
            .filter(col("neighbor_id") =!= col("query_id"))
            .withColumn("cos", round(
              call_function("cosine_similarity", col("embedding"), col("qvec")), 6))
            .filter(col("cos") >= lit(S.RangeTau))
            .select(col("query_id"), col("neighbor_id"), col("cos")).collect())
        def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1), r.getDouble(2))
        val equal = pruned.map(key).toSet == brute.map(key).toSet
        // admitted (query, cell) fraction, replayed driver-side from radii
        val cents = S.loadOrTrainCentroids(spark, dir)
        val radii = S.cellRadii(spark, dir, quantized = false)
          .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
        val qs = q.collect().map(_.getSeq[Float](1).map(_.toDouble).toIndexedSeq)
        def cosD(a: Seq[Double], b: Seq[Double]): Double = {
          var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
          while (i < a.length) { d += a(i)*b(i); na += a(i)*a(i); nb += b(i)*b(i); i += 1 }
          d / math.sqrt(math.max(na * nb, 1e-300))
        }
        val admits = for (qv <- qs; cell <- cents.indices) yield {
          // an EMPTY trained cell has no radii row (and the production
          // inner join correctly never probes it) — never admitted
          radii.get(cell).exists { cm =>
            val cq = cosD(qv, cents(cell))
            cq >= cm || cq * cm + math.sqrt(math.max(1 - cq*cq, 0)) *
              math.sqrt(math.max(1 - cm*cm, 0)) >= S.RangeTau - 1e-4
          }
        }
        val adm = admits.count(identity)
        println(f"[scale] rangeprobe n=$n%-7d cells=${cents.size} " +
          f"admitted=$adm/${admits.size} (${100.0*adm/admits.size}%.1f%%) | " +
          f"build=$tBuild%6.1f s pruned_query=$tQ%5.2f s brute=$tB%5.2f s " +
          f"rows=${pruned.length} equal=$equal")
      } finally Seq("graft.ivf.dir", "graft.ivfflat.dir")
        .foreach(spark.conf.unset)
    }
  }

  /** Binary-rung ladder (the r11 verdict's ask): knn_hamming /
    * knn_hamming_rerank recall@5 and end-to-end cost at the pq ladder's
    * rungs, on the SAME synthetic iid-uniform corpus as [[pqScaleProbe]]
    * (shared on-disk dirs — an adversarial corpus for sign bits, like for
    * PQ codes). Sweeps the shortlist around the banded
    * [[graft.operators.Similarity.rerankFor]] to place the knee. */
  def hammingProbe(spark: SparkSession,
                   sizes: Seq[Long] = Seq(200000L, 400000L, 1200000L)): Unit = {
    import org.apache.spark.sql.functions._
    val S = graft.operators.Similarity
    for (n <- sizes) {
      val dir = sys.props("java.io.tmpdir") + s"/graft_pqscale_$n"
      val f = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!f.exists(new org.apache.hadoop.fs.Path(dir + "/embeddings.parquet/_SUCCESS")))
        spark.range(0, n).select(col("id").as("vec_id"),
          array((0 until 64).map(i =>
            sin(col("id") * (i * 37 + 1)).cast("float")): _*).as("embedding"),
          (col("id") % 16).cast("int").as("label"))
          .coalesce(8).write.mode("overwrite").parquet(dir + "/embeddings.parquet")
      val emb = graft.sources.Tables.embeddings(spark, dir)
      val (brute, tBrute) = probeTimed(probeTop5(S.knnBrute(spark, dir)))
      val (raw, tRaw) = probeTimed(
        probeRecallOf(probeTop5(S.knnHammingOf(emb)), brute))
      println(f"[scale] hamming n=$n%-7d raw(k=5) recall@5=$raw%.2f " +
        f"($tRaw%5.1f s; brute truth $tBrute%.1f s)")
      val band = S.rerankFor(n)
      for (sl <- Seq(band / 4, band, 4 * band).map(s => math.min(s, n.toInt)).distinct) {
        val (r, t) = probeTimed(
          probeRecallOf(probeTop5(S.knnHammingRerankOf(emb, sl)), brute))
        val tag = if (sl == band) "banded" else "sweep "
        println(f"[scale]   hamming_rr $tag shortlist=$sl%-6d -> " +
          f"recall@5=$r%.2f ($t%5.1f s)")
      }
    }
  }

  /** ASSERTED recall floors at the 1.2M rung (r13 verdict item 6): the
    * gate-SF knn_recall floors can't see a banding regression whose
    * damage only shows past ~1M vectors (raw hamming decays 0.20 → 0.00
    * between 1.2M and 10M; the ivfpq knee moved 0.80 → 0.70 between
    * 1.2M and 2.4M), so this probe measures hamming_rr and ivfpq banded
    * recall@5 against brute truth at n=1.2M and FAILS (non-zero exit)
    * below the pinned floors — floors set one band step under the r13
    * measured ladder values (hamming_rr 0.90-0.94 → floor 0.85; ivfpq
    * 0.80 → floor 0.75). Re-measure protocol: run with
    * `GRAFT_PQSCALE_STORE` pointed at a persistent dir so a re-run
    * reuses the trained quantizer/codebooks (zero-retrain, the r13
    * refutation discipline) and only the query passes repeat. */
  def floorsProbe(spark: SparkSession,
                  rungs: Seq[Long] = Seq(1200000L, 5000000L)): Unit = {
    import org.apache.spark.sql.functions._
    val S = graft.operators.Similarity
    // per-rung floors, one band step under the measured r13/r14 ladder
    // values: 1.2M = the last rung of the 32k clamp band (hamming_rr
    // 0.92 / ivfpq 0.80 measured); 5M = the first measured rung of the
    // r14 pqRerankFor band (hamming_rr 0.90 at the 32k binary clamp /
    // ivfpq 0.90 at rr=n/40 measured)
    val floors = Map(1200000L -> (0.85, 0.75), 5000000L -> (0.85, 0.85))
    for (n <- rungs) {
      val (floorH, floorP) = floors.getOrElse(n, (0.85, 0.75))
      val dir = sys.props("java.io.tmpdir") + s"/graft_pqscale_$n"
      val f = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!f.exists(new org.apache.hadoop.fs.Path(dir + "/embeddings.parquet/_SUCCESS")))
        spark.range(0, n).select(col("id").as("vec_id"),
          array((0 until 64).map(i =>
            sin(col("id") * (i * 37 + 1)).cast("float")): _*).as("embedding"),
          (col("id") % 16).cast("int").as("label"))
          .coalesce(8).write.mode("overwrite").parquet(dir + "/embeddings.parquet")
      val stores = sys.env.getOrElse("GRAFT_PQSCALE_STORE",
        java.nio.file.Files.createTempDirectory("graft_pqscale_store").toString)
      Seq("graft.ivf.dir", "graft.pq.dir", "graft.ivfflat.dir", "graft.knngraph.dir")
        .foreach(k => spark.conf.set(k, stores + "/" + k))
      try {
        val emb = graft.sources.Tables.embeddings(spark, dir)
        val brute = probeTop5(S.knnBrute(spark, dir))
        val hrr = probeRecallOf(
          probeTop5(S.knnHammingRerankOf(emb, S.rerankFor(n))), brute)
        val ivfpq = probeRecallOf(probeTop5(S.knnIvfPq(spark, dir)), brute)
        val okH = hrr >= floorH
        val okP = ivfpq >= floorP
        println(f"[scale] floors n=$n hamming_rr=$hrr%.2f (floor $floorH%.2f: " +
          f"${if (okH) "PASS" else "FAIL"}) ivfpq=$ivfpq%.2f (floor $floorP%.2f: " +
          f"${if (okP) "PASS" else "FAIL"})")
        require(okH && okP,
          f"recall floor violated at n=$n: hamming_rr=$hrr%.2f ivfpq=$ivfpq%.2f")
      } finally Seq("graft.ivf.dir", "graft.pq.dir", "graft.ivfflat.dir",
        "graft.knngraph.dir").foreach(spark.conf.unset)
    }
  }

  /** Round-12 probe: the two new growing-domain flow ops (truncated
    * k-core peel + rank-oriented triangle census) over the ×1/×10/×30
    * replicated co-activity graph — the r9 cosession harness extended to
    * the gates this round added. Watch: peel cost per round stays
    * O(|E|), census wedges stay bounded under the ≤8 cap. */
  private def graphUsersProbe(spark: SparkSession, reps: Seq[Int]): Unit = {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.1"
    for (k <- reps) {
      def repl(df: DataFrame, idCols: Seq[String]): DataFrame =
        (0 until k).map { i =>
          idCols.foldLeft(df)((d, c) =>
            d.withColumn(c, col(c) + lit(i.toLong * 10000000L)))
        }.reduce(_ unionByName _)
      val ev = repl(graft.sources.Tables.events(spark, dir), Seq("event_id", "user_id"))
      val edges = graft.operators.GraphOps.userCoSessionGraphOf(ev)
        .select(col("a"), col("b")).localCheckpoint()
      val nEdges = edges.count()
      val t0 = System.nanoTime()
      val core = graft.operators.GraphOps.kcoreTruncatedPeel(
        edges, graft.operators.GraphOps.KCoreUsersK,
        graft.operators.GraphOps.KCoreUsersRounds)
      val nCore = core.count()
      val tPeel = (System.nanoTime() - t0) / 1e9
      val nodes = edges.select(col("a").as("node"))
        .unionByName(edges.select(col("b").as("node"))).distinct()
      val t1 = System.nanoTime()
      val census = graft.operators.GraphOps
        .triangleCensusOf(edges, nodes, "user_id")
      val nTri = census.agg(sum(col("n_tri"))).collect().head.getLong(0) / 3
      val tTri = (System.nanoTime() - t1) / 1e9
      println(f"[scale] graphusers x$k%-3d edges=$nEdges | " +
        f"kcore $tPeel%6.2f s in_core=$nCore | triangles $tTri%6.2f s n_tri=$nTri")
    }
  }

  def main(args: Array[String]): Unit = {
    val k = args.headOption.filter(_.forall(_.isDigit)).map(_.toInt).getOrElse(10)
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "64")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = "/root/testdata/sf0.1"

    if (args.headOption.contains("lshtwin")) {
      // stage split of dedup_embed_lsh_oracle: bucket projection vs pair
      // join vs full pipeline (r13 item 5 — is the twin bucket-bound or
      // pair-bound?)
      def t(label: String)(body: => Long): Unit = {
        body // warm
        val t0 = System.nanoTime(); val n = body
        println(f"[lshtwin] $label%-14s ${(System.nanoTime() - t0) / 1e9}%6.2f s  rows=$n")
      }
      val full = graft.operators.OracleVariants.dedupEmbedLshOracle(spark, dir)
      t("full")(full.count())
      val (tagged, probed, exact) =
        graft.operators.OracleVariants.dedupEmbedLshParts(spark, dir)
      t("buckets")(tagged.count())
      t("pairs")(probed.join(exact, Seq("tbl", "bucket"))
        .filter(org.apache.spark.sql.functions.col("id_a") <
          org.apache.spark.sql.functions.col("id_b")).count())
      spark.stop()
      return
    }
    if (args.headOption.contains("ngram")) {
      ngramProbe(spark, Seq(2000, 4000, 8000))
      spark.stop()
      return
    }
    if (args.headOption.contains("embed")) {
      embedProbe(spark, Seq(4000, 8000, 16000))
      spark.stop()
      return
    }
    if (args.headOption.contains("semantic")) {
      semanticProbe(spark, Seq(8000, 16000, 32000))
      spark.stop()
      return
    }
    if (args.headOption.contains("incremental")) {
      incrementalProbe(spark, batchRows = 20000, batches = 4)
      spark.stop()
      return
    }
    if (args.headOption.contains("tpch")) {
      tpchProbe(spark, args.drop(1).headOption.map(_.toInt).getOrElse(1))
      spark.stop()
      return
    }
    if (args.headOption.contains("r7")) {
      r7Probe(spark, Seq(1, 10, 30))
      spark.stop()
      return
    }
    if (args.headOption.contains("r8b")) {
      r8bProbe(spark, Seq(1, 10, 30))
      spark.stop()
      return
    }
    if (args.headOption.contains("r8c")) {
      r8cProbe(spark, Seq(1, 10, 30))
      spark.stop()
      return
    }
    if (args.headOption.contains("r8d")) {
      r8dProbe(spark, Seq(1, 10, 30))
      spark.stop()
      return
    }
    if (args.headOption.contains("r9")) {
      r9Probe(spark, Seq(1, 10, 30))
      spark.stop()
      return
    }
    if (args.headOption.contains("r9d")) {
      r9dProbe(spark, Seq(1, 10, 30))
      spark.stop()
      return
    }
    if (args.headOption.contains("r9f")) {
      r9fProbe(spark, Seq(1, 10, 30))
      spark.stop()
      return
    }
    if (args.headOption.contains("r9b")) {
      r9bProbe(spark, Seq(1, 10, 30))
      spark.stop()
      return
    }
    if (args.headOption.contains("cc")) {
      ccProbe(spark)
      spark.stop()
      return
    }
    if (args.headOption.contains("usersloop")) {
      val sizes = args.drop(1).filter(_.forall(_.isDigit)).map(_.toLong)
      usersLoopProbe(spark, if (sizes.nonEmpty) sizes.toSeq else Seq(300000L))
      spark.stop()
      return
    }
    if (args.headOption.contains("recall")) {
      recallProbe(spark)
      spark.stop()
      return
    }
    if (args.headOption.contains("markov")) {
      markovProbe(spark)
      spark.stop()
      return
    }
    if (args.headOption.contains("train")) {
      trainProbe(spark)
      spark.stop()
      return
    }
    if (args.headOption.contains("ivfquery")) {
      val sizes = args.drop(1).filter(_.forall(_.isDigit)).map(_.toLong)
      if (sizes.nonEmpty) sizes.foreach(ivfQueryProbeAt(spark, _))
      else ivfQueryProbe(spark)
      spark.stop()
      return
    }
    if (args.headOption.contains("ivfquery1m")) {
      ivfQueryProbe1m(spark)
      spark.stop()
      return
    }
    if (args.headOption.contains("graphusers")) {
      graphUsersProbe(spark, Seq(1, 10, 30))
      spark.stop()
      return
    }
    if (args.headOption.contains("hamming")) {
      val sizes = args.drop(1).filter(_.forall(_.isDigit)).map(_.toLong)
      if (sizes.nonEmpty) hammingProbe(spark, sizes.toIndexedSeq)
      else hammingProbe(spark)
      spark.stop()
      return
    }
    if (args.headOption.contains("floors")) {
      floorsProbe(spark)
      spark.stop()
      return
    }
    if (args.headOption.contains("rangeprobe")) {
      val sizes = args.drop(1).filter(_.forall(_.isDigit)).map(_.toLong)
      if (sizes.nonEmpty) rangeProbe(spark, sizes.toIndexedSeq)
      else rangeProbe(spark)
      spark.stop()
      return
    }
    if (args.headOption.contains("pqscale")) {
      val sizes = args.drop(1).filter(_.forall(_.isDigit)).map(_.toLong)
      if (sizes.nonEmpty) pqScaleProbe(spark, sizes.toIndexedSeq)
      else pqScaleProbe(spark)
      spark.stop()
      return
    }
    // the 1M rung crosses the cells>1024 boundary where BOTH large-index
    // mechanisms engage at once: two-level assignment (cells=1096 > 512)
    // and the 64·k training-cap band (70144 > the flat 65536)
    if (args.headOption.contains("pqscale1m")) {
      pqScaleProbe(spark, Seq(1200000L))
      spark.stop()
      return
    }
    if (args.headOption.contains("cells")) {
      spark.sparkContext.setLogLevel("WARN") // surface codegen-fallback warnings
      cellsProbe(spark)
      spark.stop()
      return
    }

    def rep(df: DataFrame, keyCols: Seq[String]): DataFrame =
      (0 until k).map { i =>
        keyCols.foldLeft(df)((d, c) =>
          d.withColumn(c, col(c) + lit(i.toLong * 10000000L)))
      }.reduce(_ unionByName _)

    def time(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime(); val n = f
      println(f"[scale] $name%-22s ${(System.nanoTime() - t0) / 1e9}%7.2f s rows=$n")
    }

    val ev = rep(graft.sources.Tables.events(spark, dir), Seq("user_id", "event_id"))
    val li = rep(graft.sources.Tables.lineitem(spark, dir), Seq("l_orderkey"))
    val docs = rep(graft.sources.Tables.documents(spark, dir), Seq("doc_id"))

    time(s"q1_agg x$k")(li.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("l_quantity")), avg(col("l_extendedprice"))).count())

    time(s"ft_latest x$k")(graft.operators.LatestValue.latest(
      ev, Seq("user_id"), Seq("ts", "event_id"),
      Seq("ts", "event_id", "value")).count())

    val entity = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("entity_ts"), col("event_id").as("row_id"))
    val feats = ev.filter(col("event_type") =!= "purchase")
      .select(col("user_id"), col("ts"), col("value"))
    time(s"pit_join x$k")(graft.operators.PointInTimeJoin.asof(
      entity, feats, Seq("user_id"), "entity_ts", "ts", Seq("value")).count())

    time(s"corpus_mix x$k")(
      graft.operators.TextAnalysis.corpusMixOf(docs).count())
    time(s"events_retention x$k")(
      graft.operators.Analytics.eventsRetentionOf(ev).count())
    time(s"events_attribution x$k")(
      graft.operators.Analytics.eventsAttributionOf(ev).count())
    time(s"corpus_dedup_spans x$k")(
      graft.operators.TextAnalysis.corpusDedupSpansOf(docs).count())
    time(s"corpus_dsir x$k")(
      graft.operators.TextAnalysis.corpusDsirOf(docs).count())
    time(s"events_transitions x$k")(
      graft.operators.Analytics.eventsTransitionsOf(ev).count())
    time(s"corpus_filter x$k")(
      graft.operators.TextAnalysis.corpusFilterOf(docs).count())
    time(s"events_top_paths x$k")(
      graft.operators.Analytics.eventsTopPathsOf(ev).count())
    time(s"corpus_qsample x$k")(
      graft.operators.TextAnalysis.corpusQualitySampleOf(docs).count())
    time(s"q_argmin_join x$k")(graft.operators.Analytics.qArgminJoinOf(
      li, graft.sources.Tables.part(spark, dir),
      graft.sources.Tables.supplier(spark, dir)).count())
    time(s"multimodal_dedup x$k")(graft.operators.Multimodal.multimodalDedupOf(
      docs.select(col("doc_id"), encode(col("text"), "utf-8").as("blob"))).count())
    time(s"events_active_users x$k")(
      graft.operators.Analytics.eventsActiveUsersOf(ev).count())
    time(s"events_inter_arrival x$k")(
      graft.operators.Analytics.eventsInterArrivalOf(ev).count())
    // agg over the gate columns, not count(): a bare count() lets Catalyst
    // prune the entropy sums / fingerprint hashes the probe exists to time
    time(s"text_entropy x$k")(
      graft.operators.CorpusStats.textEntropyOf(docs)
        .agg(sum(col("entropy_num_e4"))).collect().head.getLong(0))
    time(s"corpus_tfidf x$k")(
      graft.operators.CorpusStats.corpusTfidfTopkOf(docs).count())
    time(s"corpus_pmi x$k")(
      graft.operators.CorpusStats.corpusPmiTopkOf(docs).count())
    time(s"text_winnow x$k")(
      graft.operators.CorpusStats.textWinnowOf(docs)
        .agg(sum(col("n_fp"))).collect().head.getLong(0))
    time(s"corpus_chunk x$k")(
      graft.operators.TextAnalysis.corpusChunkOf(docs, 512L, 384L).count())
    time(s"events_stickiness x$k")(
      graft.operators.Analytics.eventsStickinessOf(ev).count())
    // agg over the gate column so Catalyst cannot prune the regex passes
    time(s"text_readability x$k")(
      graft.operators.TextAnalysis.textReadabilityOf(docs)
        .agg(sum(col("lix_e2"))).collect().head.getLong(0))

    spark.stop()
  }
}
