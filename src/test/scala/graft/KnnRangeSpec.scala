package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** Exactness and pruning-reality pins for the radius-search family:
  * `knn_range` must equal brute force EXACTLY (the triangle-inequality
  * cell pruning is a proof, not an nprobe recall trade), in both the
  * float production form and the ×1000-quantized twin whose DuckDB
  * oracle brute-forces the same membership. */
class KnnRangeSpec extends SparkSpecBase {

  private val tau = Similarity.RangeTau
  private val sf001 = "/root/testdata/sf0.01"

  private def rows(df: DataFrame): Seq[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq.sorted

  /** Independent brute-force threshold reference (no index, no pruning). */
  private def brute(dir: String, quantized: Boolean): Seq[(Long, Long, Double)] = {
    val emb = graft.sources.Tables.embeddings(spark, dir)
    val vec: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      if (quantized) c => transform(c, x => round(x.cast("double") * 1000).cast("long"))
      else c => c
    val cosF =
      if (quantized) (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
        call_function("quantized_cosine", a, b)
      else (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
        call_function("cosine_similarity", a, b)
    val q = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), vec(col("embedding")).as("qvec"))
    rows(emb.select(col("vec_id").as("neighbor_id"), vec(col("embedding")).as("cv"))
      .crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", round(cosF(col("cv"), col("qvec")), if (quantized) 4 else 6))
      .filter(col("cos") >= lit(tau))
      .select(col("query_id"), col("neighbor_id"), col("cos")))
  }

  test("knn_range equals float brute force exactly at both gate SFs") {
    for (dir <- Seq(sfDir, sf001)) {
      val pruned = rows(Similarity.knnRange(spark, dir))
      val ref = brute(dir, quantized = false)
      assert(pruned == ref,
        s"$dir: pruned range search diverged from brute force " +
          s"(${pruned.size} vs ${ref.size} rows)")
      assert(ref.nonEmpty, s"$dir: vacuous exactness pin — widen tau")
      assert(pruned.forall(t => t._1 != t._2 && t._3 >= tau))
    }
  }

  test("quantized twin equals quantized brute force exactly at both gate SFs") {
    for (dir <- Seq(sfDir, sf001)) {
      val pruned = rows(Similarity.rangeSearch(spark, dir, quantized = true))
      val ref = brute(dir, quantized = true)
      assert(pruned == ref,
        s"$dir: quantized pruned search diverged from brute force")
      assert(ref.nonEmpty, s"$dir: vacuous quantized pin — widen tau")
    }
  }

  test("radii are sane and carry one row per trained cell") {
    val cents = Similarity.loadOrTrainCentroids(spark, sf001)
    val radii = Similarity.cellRadii(spark, sf001, quantized = false)
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(radii.size == cents.size, "one radius row per trained cell")
    assert(radii.values.forall(cm => cm >= -1.0001 && cm <= 1.0001))
  }

  /** Clustered corpus where the bound provably FIRES: 3 tight clusters on
    * near-orthogonal axes. A query in cluster 0 sees a cluster-1 cell at
    * cq ~ 0 with cm ~ 0.99, so the cap cq*cm + sin*sin ~ 0.14 < tau and
    * the cell prunes — while every intra-cluster pair clears tau, so the
    * exactness pin runs WITH pruning active (the gate corpora, being
    * near-random at 500-2000 rows, admit every cell: radii there are too
    * wide for the bound — the honest metric-pruning limit; clustered data
    * is where range pruning earns its partition filter, measured at probe
    * scale in SURVEY §5). */
  private lazy val clusteredDir: String = {
    val dim = 64
    val vecs = (0 until 150).map { i =>
      val c = i % 3
      val v = Array.tabulate(dim) { d =>
        val jitter = (((i * 2654435761L + d * 1315423911L) & 0xffff) / 65535.0f - 0.5f) * 0.1f
        if (d == c * 20) 1.0f + jitter else jitter
      }
      (i.toLong, v.toSeq, c)
    }
    val dir = java.nio.file.Files.createTempDirectory("graft-range").toString
    spark.createDataFrame(vecs).toDF("vec_id", "embedding", "label")
      .withColumn("embedding", col("embedding").cast("array<float>"))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("bound fires on clustered data and the pruned result is still exact") {
    val dir = clusteredDir
    val cents = Similarity.loadOrTrainCentroids(spark, dir)
    val radii = Similarity.cellRadii(spark, dir, quantized = false)
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    // independent driver-side replay of the admissibility bound
    val qs = graft.sources.Tables.embeddings(spark, dir)
      .filter(col("vec_id") < 10).select("vec_id", "embedding")
      .collect().map(r => r.getSeq[Float](1).map(_.toDouble).toIndexedSeq)
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / math.sqrt(math.max(na * nb, 1e-300))
    }
    val admits = for (qv <- qs; cell <- cents.indices) yield {
      val cq = cos(qv, cents(cell)); val cm = radii(cell)
      cq >= cm || cq * cm + math.sqrt(math.max(1 - cq * cq, 0)) *
        math.sqrt(math.max(1 - cm * cm, 0)) >= tau - 1e-4
    }
    assert(admits.count(identity) < admits.size,
      s"no (query, cell) pair pruned on clustered data " +
        s"(${admits.count(identity)}/${admits.size}) — the bound never fires")
    val pruned = rows(Similarity.knnRange(spark, dir))
    val ref = brute(dir, quantized = false)
    assert(ref.nonEmpty, "clustered corpus has no in-band pairs — pin broken")
    assert(pruned == ref,
      "pruning dropped or admitted rows on the corpus where it fires")
  }
}
