package graft

import org.apache.spark.sql.functions._

import graft.operators.JoinUtils

class JoinUtilsSpec extends SparkSpecBase {
  import spark.implicits._

  test("salted join is result-identical to the plain join on skewed keys") {
    // 90% of left rows share one hot key
    val left = spark.range(0, 10000)
      .select(when(col("id") % 10 =!= 0, lit(42L)).otherwise(col("id")).as("k"),
        col("id").as("payload"))
    val right = Seq((42L, "hot"), (0L, "a"), (10L, "b"), (7777L, "never")).toDF("k", "v")
    val plain = left.join(right, Seq("k"))
      .select("k", "payload", "v").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted
    // default mode is content salting (retry-exact; spreads the
    // distinct-payload hot rows of this dataset)
    val salted = JoinUtils.saltedJoin(left, right, Seq("k"), saltFactor = 8)
      .select("k", "payload", "v").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted
    assert(salted.toSeq == plain.toSeq)
    // nonce mode (opt-in; spreads identical duplicates, not retry-exact)
    val saltedC = JoinUtils.saltedJoin(left, right, Seq("k"), 8, contentSalt = false)
      .select("k", "payload", "v").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted
    assert(saltedC.toSeq == plain.toSeq)
    // the DEFAULT salt spreads this hot key: distinct payloads hash to >1 salt
    val nSalts = left.filter(col("k") === 42L)
      .withColumn("__salt",
        pmod(xxhash64(col("k"), col("payload")), lit(8L)).cast("int"))
      .select("__salt").distinct().count()
    assert(nSalts > 1, "content salt left the distinct-payload hot key on one salt")
    assert(plain.count(_._1 == 42L) == 9000)
    // the salted plan actually spreads the hot key: join keys include __salt
    val planStr = JoinUtils.saltedJoin(left, right, Seq("k"), 8)
      .queryExecution.optimizedPlan.toString
    assert(planStr.contains("__salt"))
  }

  test("AQE splits a skewed sort-merge join (the runtime half of skew handling)") {
    // saltedJoin is the manual answer for shapes AQE can't rebalance; this
    // pins the AUTOMATIC answer — AQE's OptimizeSkewedJoin must kick in on
    // a skewed SMJ so the declarative plans the engine emits self-heal at
    // scale. Thresholds are lowered so a local dataset trips the same code
    // path a 100 TB hot key would.
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      // AQE replans with its OWN broadcast threshold — disable that too or
      // the runtime demotes the SMJ to broadcast and no skew split happens
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16384",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16384",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // 95% of 200k left rows share one hot key
      val left = spark.range(0, 200000)
        .select(when(col("id") % 20 =!= 0, lit(42L)).otherwise(col("id")).as("k"),
          concat(lit("payload_"), col("id")).as("payload"))
      val right = spark.range(0, 50000).select(col("id").as("k"),
        concat(lit("dim_"), col("id")).as("v"))
      val joined = left.join(right, Seq("k"))
      val n = joined.count()
      // 190k hot-key rows match the one k=42 dim row; of the 10k pass-through
      // keys (multiples of 20) only those < 50000 (2500) have a dim row
      assert(n == 190000L + 2500L)
      val df2 = left.join(right, Seq("k"))
      df2.collect()
      val adaptive = df2.queryExecution.executedPlan
        .collectFirst { case a: AdaptiveSparkPlanExec => a }
        .getOrElse(fail("expected an adaptive plan"))
      // AQE may keep the SMJ or replan it as a shuffled-hash join; either
      // way OptimizeSkewedJoin must have split the hot partition. Query
      // stages are LEAF nodes (collect cannot see inside them), so assert
      // on the final plan's rendering: the join carries skew=true and the
      // skewed side reads through an AQEShuffleRead marked "skewed".
      val finalStr = adaptive.executedPlan.treeString
      assert(finalStr.contains("SortMergeJoin") || finalStr.contains("ShuffledHashJoin"),
        s"expected a shuffled join under AQE:\n${finalStr.take(3000)}")
      assert(finalStr.contains("skew=true") && finalStr.contains("AQEShuffleRead skewed"),
        s"AQE did not split the skewed join:\n${finalStr.take(3000)}")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("salted join spreads FULLY IDENTICAL duplicate rows (opt-in nonce salt)") {
    // hot keys can be exact duplicate rows (retries, log replays); a
    // content-hash salt maps them all to one salt value and the hot
    // partition survives intact — the opt-in nonce salt must not
    val left = spark.range(0, 8000).select(lit(42L).as("k"), lit("dup").as("payload"))
    val right = Seq((42L, "hot"), (7L, "cold")).toDF("k", "v")
    val salted = JoinUtils.saltedJoin(left, right, Seq("k"), saltFactor = 8,
      contentSalt = false)
    assert(salted.count() == 8000)
    // the salt the join uses internally must take >1 value on identical rows
    val nSalts = left
      .withColumn("__salt", pmod(monotonically_increasing_id(), lit(8L)).cast("int"))
      .select("__salt").distinct().count()
    assert(nSalts > 1, "identical duplicate rows all landed on one salt")
  }
}
