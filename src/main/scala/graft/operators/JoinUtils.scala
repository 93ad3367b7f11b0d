package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Join-shape utilities for cluster scale: manual key salting for skew
  * that AQE cannot split (AQE's skew-join only rebalances sort-merge joins;
  * a salted join also covers aggregation-feeding joins and deliberate
  * pre-partitioning).
  */
object JoinUtils {

  /** Inner equi-join with the left side salted over `saltFactor` sub-keys:
    * left rows scatter across salts, right rows replicate `saltFactor`×,
    * and the join key becomes (key, salt) — a hot key's rows land on
    * `saltFactor` partitions instead of one. Result-identical to the plain
    * join (spec-proven, including a duplicate-row corpus); replication
    * cost is `saltFactor`× the right side, so salt the side with the
    * skewed keys and keep the replicated side the smaller one.
    *
    * Two salting modes, because no single salt is both retry-exact and
    * duplicate-spreading (pick per workload):
    *
    *  - `contentSalt = true` (DEFAULT — the safe mode): salt = hash of the
    *    whole row — a pure function of content, so the join is exact under
    *    ANY partial stage retry. All copies of an identical row share one
    *    salt, so it only spreads hot KEYS whose rows differ (the
    *    distinct-payload shape, which is the common one).
    *  - `contentSalt = false` (opt-in): per-row nonce from
    *    `monotonically_increasing_id()` — spreads even FULLY IDENTICAL
    *    duplicate rows (retries, log replays). The nonce is
    *    input-order-dependent; Spark does not propagate expression
    *    nondeterminism into stage-retry planning (SPARK-38388), so a
    *    mid-shuffle fetch-failure retry that recomputes only some map
    *    tasks can re-salt their rows differently — harmless for identical
    *    duplicates (any copy↔salt assignment yields the same bytes), but
    *    silently wrong for DISTINCT rows under executor loss. Opt in ONLY
    *    when the hot key's rows are exact duplicates; the default must be
    *    the mode that can never drop or duplicate output.
    */
  def saltedJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
                 saltFactor: Int, contentSalt: Boolean = true): DataFrame = {
    require(saltFactor >= 1, "saltFactor must be >= 1")
    val salt =
      if (contentSalt)
        pmod(xxhash64(left.columns.map(col).toIndexedSeq: _*), lit(saltFactor.toLong))
      else pmod(monotonically_increasing_id(), lit(saltFactor.toLong))
    val l = left.withColumn("__salt", salt.cast("int"))
    val r = right.withColumn("__salt",
      explode(array((0 until saltFactor).map(lit): _*)))
    l.join(r, keys :+ "__salt").drop("__salt")
  }

  /** GROUPING SETS aggregation used by the `q_grouping_sets` gate query:
    * order totals by (status, priority), by status alone, and overall —
    * one pass, partial-aggregated before the shuffle like any groupBy. */
  def qGroupingSets(spark: SparkSession, dir: String): DataFrame = {
    graft.sources.Tables.orders(spark, dir).createOrReplaceTempView("orders_gs")
    spark.sql(
      """SELECT
        |  coalesce(o_orderstatus, 'ALL') AS status,
        |  coalesce(o_orderpriority, 'ALL') AS priority,
        |  count(*) AS n_orders,
        |  round(sum(o_totalprice), 2) AS total_price
        |FROM orders_gs
        |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
        |ORDER BY status, priority""".stripMargin)
  }

  val qGroupingSetsSql: String =
    """SELECT
      |  coalesce(o_orderstatus, 'ALL') AS status,
      |  coalesce(o_orderpriority, 'ALL') AS priority,
      |  count(*) AS n_orders,
      |  round(sum(o_totalprice), 2) AS total_price
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
      |ORDER BY status, priority""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_grouping_sets" -> (qGroupingSets _))

  val oracle: Map[String, String] = Map(
    "q_grouping_sets" -> qGroupingSetsSql)
}
