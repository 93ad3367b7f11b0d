package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.TextAnalysis

/** Round-9e depth ops: the output-shard manifest. */
class Round9eOpsSpec extends SparkSpecBase {
  import spark.implicits._

  private def randomCorpus(seed: Int, n: Int) = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { i =>
      val words = 1 + rnd.nextInt(40)
      (i.toLong * 17 + 3, "en", "web",
        (0 until words).map(w => s"w$w").mkString(" "))
    }.toDF("doc_id", "lang", "source", "text")
  }

  test("shard_manifest equals the naive global-cumsum reference") {
    val docs = randomCorpus(7, 400)
    val out = TextAnalysis.corpusShardManifestOf(docs, targetShards = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq.sorted
    // the naive single-window form the 100 TB plan refuses to run: one
    // global cumsum ORDER BY (h, doc_id), same shard arithmetic
    val t = docs.select(col("doc_id"),
      size(regexp_extract_all(col("text"), lit("\\S+"), lit(0)))
        .cast("long").as("n_toks"),
      TextAnalysis.idHash(col("doc_id")).as("h"))
    val total = t.agg(sum(col("n_toks"))).head().getLong(0)
    val ssize = math.max(total / 16, 1L)
    val naive = t
      .withColumn("run", sum(col("n_toks")).over(Window.orderBy(col("h"), col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("shard_id", expr(s"(run - n_toks) div $ssize"))
      .groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("tok_sum"),
        min(col("h")).as("min_h"), max(col("h")).as("max_h"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq.sorted
    assert(out == naive, "sharded cumsum must equal the naive global window")
  }

  test("shard_manifest conserves the corpus and bounds shard overflow") {
    val docs = randomCorpus(11, 600)
    val rows = TextAnalysis.corpusShardManifestOf(docs, targetShards = 16).collect()
    val total = docs.select(size(regexp_extract_all(col("text"),
      lit("\\S+"), lit(0))).cast("long").as("n")).agg(sum("n")).head().getLong(0)
    assert(rows.map(_.getAs[Long]("n_docs")).sum == 600L)
    assert(rows.map(_.getAs[Long]("tok_sum")).sum == total)
    // shards are contiguous hash ranges: ranges may touch only at an
    // equal hash (ties broken by doc_id), never interleave
    val sorted = rows.sortBy(_.getAs[Long]("shard_id"))
    sorted.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[Long]("max_h") <= b.getAs[Long]("min_h"),
          s"shard ranges interleave: $a vs $b")
      case _ =>
    }
    // docs are atomic, so a shard holds the docs STARTING in its window:
    // its token sum is < ssize + the largest doc (the straddle bound)
    val ssize = math.max(total / 16, 1L)
    val maxDoc = docs.select(size(regexp_extract_all(col("text"),
      lit("\\S+"), lit(0))).cast("long").as("n")).agg(max("n")).head().getLong(0)
    sorted.foreach { r =>
      assert(r.getAs[Long]("tok_sum") < ssize + maxDoc,
        s"shard ${r.getAs[Long]("shard_id")} exceeds the straddle bound")
    }
  }

  test("shard_manifest: a sub-shard-sized corpus lands in one shard") {
    val tiny = Seq((1L, "en", "web", "a b c"), (2L, "en", "web", "d e"))
      .toDF("doc_id", "lang", "source", "text")
    val rows = TextAnalysis.corpusShardManifestOf(tiny, targetShards = 64).collect()
    // total 5 tokens, ssize = max(5 div 64, 1) = 1 → every token offset
    // its own shard; with targetShards larger than the corpus the op
    // degenerates to per-doc rows, never divides by zero
    assert(rows.map(_.getAs[Long]("n_docs")).sum == 2L)
  }
}
