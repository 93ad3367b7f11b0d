package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Contract pins for incremental dedup: first-seen-wins against a
  * persisted band index, every seen document indexed (dropped ones too),
  * keep-set independent of batching. The cross-engine arithmetic is
  * hash-proven by `dedup_incremental_oracle`; these pin the fold's
  * mechanics on known band topologies. */
class IncrementalDedupSpec extends SparkSpecBase {
  import spark.implicits._

  private def keeps(df: org.apache.spark.sql.DataFrame): Map[Long, Boolean] =
    df.collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("keep")).toMap

  test("fold drops on any band seen earlier — including on a DROPPED doc") {
    // doc1 {A,B} keeps; doc2 {B,C} drops (B seen on 1); doc3 {C} drops
    // even though its only match (2) was itself dropped — every seen
    // doc's bands are indexed, so duplicate clusters cannot resurrect;
    // doc4 {D} keeps; doc5 has no bands (too short to shingle) and keeps
    val docs = (1L to 5L).toDF("doc_id")
    val sigs = Seq(
      (1L, 0, 100L), (1L, 1, 200L),
      (2L, 1, 200L), (2L, 2, 300L),
      (3L, 2, 300L),
      (4L, 0, 400L)).toDF("doc_id", "band_id", "band_hash")
    val idx = Files.createTempDirectory("graft-inc-a").toString + "/bands"
    val out = keeps(Dedup.dedupIncrementalFold(docs, sigs, idx))
    assert(out == Map(1L -> true, 2L -> false, 3L -> false, 4L -> true, 5L -> true))
    // the index now holds EVERY doc's bands: re-folding doc 4 alone drops it
    val againDf = Dedup.dedupIncrementalFold(
      Seq(4L).toDF("doc_id"),
      Seq((4L, 0, 400L)).toDF("doc_id", "band_id", "band_hash"), idx)
    assert(keeps(againDf) == Map(4L -> false))
    // scale pin: the index probe streams the index against the BROADCAST
    // delta — the unbounded side must never hash-exchange (the decisions
    // frame is checkpointed, so inspect a freshly-built probe plan)
    val probe = spark.read.parquet(idx)
      .join(broadcast(Seq((0, 400L)).toDF("band_id", "band_hash")
        .withColumn("doc_id", lit(4L))), Seq("band_id", "band_hash"))
    val tree = probe.queryExecution.executedPlan.treeString
    assert(tree.contains("BroadcastHashJoin"),
      "index probe must be a broadcast-hash join of the delta")
  }

  test("keep-set is independent of batching (production signatures, real corpus)") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val ids = docs.select(col("doc_id")).orderBy(col("doc_id"))
      .collect().map(_.getLong(0))
    def run(nBatches: Int): Map[Long, Boolean] = {
      val idx = Files.createTempDirectory(s"graft-inc-b$nBatches").toString + "/bands"
      val cuts = (0 to nBatches).map(i => i * ids.length / nBatches)
      val parts = (0 until nBatches).map { i =>
        val lo = if (cuts(i) == 0) Long.MinValue else ids(cuts(i) - 1)
        val hi = if (cuts(i + 1) == ids.length) Long.MaxValue else ids(cuts(i + 1) - 1)
        docs.filter(col("doc_id") > lo && col("doc_id") <= hi)
      }
      parts.map(p => keeps(Dedup.dedupIncrementalBatch(p, idx)))
        .reduce(_ ++ _)
    }
    val one = run(1)
    assert(one.nonEmpty && one.values.exists(!_),
      "corpus should contain at least one duplicate to make the test meaningful")
    assert(run(2) == one)
    assert(run(5) == one)
  }

  test("cross-batch duplicate drops; the earlier copy keeps") {
    val idx = Files.createTempDirectory("graft-inc-c").toString + "/bands"
    val text = "the quick brown fox jumps over the lazy dog again and again today"
    val b1 = Seq((10L, text)).toDF("doc_id", "text")
    val b2 = Seq((20L, text), (21L, "completely different words appear in this entirely fresh document body"))
      .toDF("doc_id", "text")
    assert(keeps(Dedup.dedupIncrementalBatch(b1, idx)) == Map(10L -> true))
    assert(keeps(Dedup.dedupIncrementalBatch(b2, idx)) ==
      Map(20L -> false, 21L -> true))
  }
}
