package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.queries.QuerySpec

/** The registry checks only pass if the sweep can fail them: each
  * planted fault must trip its own check and no other, and a clean
  * query none. */
class RegistrySweepSpec extends SparkSpec {

  private def rows(s: SparkSession): DataFrame = {
    import s.implicits._
    (0L until 64L).map(i => (i, i % 5)).toDF("id", "k")
  }

  private val planted = Seq(
    QuerySpec("clean", (s, _) => rows(s).groupBy("k").count()),
    QuerySpec("throws", (_, _) => sys.error("planted failure")),
    QuerySpec("leaks", (s, _) => rows(s).persist()),
    QuerySpec("unseeded", (s, _) => rows(s).withColumn("r", rand())),
    // the hint plans the cartesian product a large right side would get
    QuerySpec("cartesian", (s, _) =>
      rows(s).crossJoin(rows(s).hint("shuffle_replicate_nl"))),
    QuerySpec("global_window", (s, _) =>
      rows(s).withColumn("rk", row_number().over(Window.orderBy("id")))))

  test("each planted fault trips its own check and no other") {
    val got = RegistrySweep.sweep(spark, "", planted)
      .map(r => r.name -> r).toMap
    def flags(name: String) = {
      val r = got(name)
      (r.error.isEmpty, !r.deterministic, r.leaked,
        r.globalWindowOverRawRows, r.cartesian)
    }
    assert(flags("clean") == ((true, false, false, false, false)))
    assert(flags("unseeded") == ((true, true, false, false, false)))
    assert(flags("leaks") == ((true, false, true, false, false)))
    assert(flags("global_window") == ((true, false, false, true, false)))
    assert(flags("cartesian") == ((true, false, false, false, true)))
    // a query that throws is recorded and the sweep goes on past it
    assert(got("throws").error.map(_.getMessage) == Some("planted failure"))
    assert(got.keySet == planted.map(_.name).toSet)
    assert(spark.sharedState.cacheManager.isEmpty)
  }
}
