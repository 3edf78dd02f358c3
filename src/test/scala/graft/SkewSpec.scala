package graft

import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanExec}
import org.apache.spark.sql.functions._

/** AQE skew handling, demonstrated rather than assumed: the repo's
  * scale posture for residual join skew (beyond the structural caps —
  * LSH bucket cap, salted join) is "AQE splits the hot partition at
  * runtime". This suite pins that behavior with thresholds scaled to
  * fixture size: the skewed sort-merge join plans an AQEShuffleRead
  * whose partition count EXCEEDS the shuffle partition count (the hot
  * partition was split) and the result matches the skew-blind
  * [[graft.operators.Table.joinSalted]] path row for row. */
class SkewSpec extends SparkSpec {

  test("AQE splits a skewed join partition; result matches salted join") {
    import spark.implicits._
    withConf(
      "spark.sql.adaptive.enabled" -> "true",
      // fixture-scaled thresholds: the hot key's partition (~1 MB of
      // rows) is >5x the median and above the skew floor
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      // 100k rows, 90% on one hot key, payload padding to trip the
      // byte thresholds; dim side has every key once.
      val fact = spark.range(100000)
        .select(
          when(col("id") % 10 =!= 0, lit(7L)).otherwise(col("id") % 97)
            .as("k"),
          concat(lit("x"), lpad(col("id").cast("string"), 64, "0"))
            .as("pay"))
      val dim = spark.range(97).select(col("id").as("k"),
        concat(lit("d"), col("id").cast("string")).as("dv"))
      val joined = fact.join(dim, "k")
      // drive THIS queryExecution (a count() or derived select would
      // plan its own tree and leave this one without AQE's final plan)
      val a = joined.collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).sorted
      assert(a.length == 100000)
      // QueryStageExec wrappers are leaf-like — unwrap explicitly
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.QueryStageExec
      def allNodes(p: SparkPlan): Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => allNodes(a.executedPlan)
        case qs: QueryStageExec => qs +: allNodes(qs.plan)
        case other => other +: other.children.flatMap(allNodes)
      }
      val aqe = joined.queryExecution.executedPlan
        .collectFirst { case a: AdaptiveSparkPlanExec => a }
      assert(aqe.nonEmpty, "expected an adaptive plan")
      val reads = allNodes(aqe.get).collect {
        case r: AQEShuffleReadExec => r
      }
      // at least one shuffle read re-reads more partitions than the
      // static shuffle produced = the skewed partition was split
      val parts = spark.sessionState.conf.numShufflePartitions
      assert(reads.nonEmpty &&
        reads.exists(_.partitionSpecs.size > parts),
        s"no split shuffle read in ${aqe.get.executedPlan}")

      // differential vs the structural (salted) path
      import graft.operators.Table
      val salted = Table(fact).joinSalted(Table(dim), "k", "k", "k",
        factor = 8)
      val b = salted.df.select(col("k"), col("pay"), col("dv")).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).sorted
      assert(a.sameElements(b))
    }
  }
}
