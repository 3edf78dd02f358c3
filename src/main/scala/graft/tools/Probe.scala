package graft.tools

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{Session, SparkEntry}

/** Times registry queries the way `graft.Bench` does and attributes
  * each rep's wall time to the Spark jobs it launched:
  * `runMain graft.tools.Probe <q1,q2,...> [sfDir] [reps] [--plans]`.
  *
  * Per query the cache and the ANN IndexCache are cleared, so rep 0
  * pays codegen and any index build, as Bench's settle rep does. A rep
  * builds the query and writes it to the noop sink (the bench's timed
  * action); it prints wall time, rows and every job with its duration
  * and call site. Rows come from an untimed count() afterwards, which
  * is left out of the job list and the plans. `--plans` prints the
  * executed plan of every action of the rep, with the plans of the
  * cached relations it read, then the returned frame's plan. */
object Probe {

  def main(args: Array[String]): Unit = {
    val (flags, pos) = args.partition(_.startsWith("--"))
    require(pos.nonEmpty && flags.forall(_ == "--plans"),
      "usage: Probe <q1,q2,...> [sfDir] [reps] [--plans]")
    val names = pos(0).split(",").map(_.trim).filter(_.nonEmpty)
    val dir = pos.lift(1).getOrElse("/root/testdata/sf0.1")
    val reps = pos.lift(2).fold(2)(_.toInt)
    val plans = flags.nonEmpty
    val spark = Session()
    val sc = spark.sparkContext

    // Jobs of the timed action carry its job group; listener delivery is
    // asynchronous, so each rep waits a moment before reading them.
    val starts = new ConcurrentHashMap[Int, (Long, String, String)]()
    val jobs = new ConcurrentLinkedQueue[(Int, Long, String, String)]()
    sc.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val site = js.stageInfos.lastOption.fold("?")(si =>
          si.name.take(60) + " <- " + si.details.linesIterator
            .find(l => l.contains("graft") && !l.contains("tools."))
            .getOrElse("").trim.take(80))
        val group = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
        starts.put(js.jobId, (js.time, group, site))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        Option(starts.remove(je.jobId)).foreach { case (t, group, site) =>
          jobs.add((je.jobId, je.time - t, group, site)) }
    })
    val actions = new ConcurrentLinkedQueue[(String, QueryExecution)]()
    if (plans) spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        actions.add((f, qe))
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        actions.add((f + " FAILED", qe))
    })

    for (name <- names) {
      val fn = SparkEntry.queries(name)
      spark.catalog.clearCache()
      graft.operators.IndexCache.clear()
      for (i <- 0 until reps) {
        val group = s"probe $name rep$i"
        jobs.clear(); actions.clear()
        // Query executions are numbered in creation order: the rep's
        // actions are the ones created between the two markers.
        val first = spark.range(0).queryExecution.id
        sc.setJobGroup(group, group)
        val t0 = System.nanoTime()
        val df = fn(spark, dir)
        df.write.format("noop").mode("overwrite").save()
        val wall = (System.nanoTime() - t0) / 1e9
        sc.clearJobGroup()
        val last = spark.range(0).queryExecution.id
        val rows = df.count()
        Thread.sleep(1000)
        val js = jobs.asScala.filter(_._3 == group).toSeq.sortBy(_._1)
        println(f"[$name rep$i] rows=$rows wall=$wall%.2fs jobs=${js.size} " +
          f"jobSum=${js.map(_._2).sum / 1e3}%.2fs")
        js.foreach { case (id, ms, _, site) => println(f"  j$id%-4d $ms%6dms  $site") }
        if (plans) printPlans(name, actions.asScala.toSeq
          .filter { case (_, qe) => qe.id > first && qe.id < last }, df)
      }
    }
    spark.stop()
  }

  private def printPlans(name: String, acts: Seq[(String, QueryExecution)],
                         df: org.apache.spark.sql.DataFrame): Unit = {
    println(s"########## $name — executed plans, in action order ##########")
    acts.zipWithIndex.foreach { case ((f, qe), i) =>
      println(s"\n===== action $i [$f] =====")
      println(qe.executedPlan.toString)
      qe.optimizedPlan.collect { case r: InMemoryRelation =>
        println("----- cached relation plan -----")
        println(r.cachedPlan.toString)
      }
    }
    println(s"\n===== final frame plan =====")
    println(df.queryExecution.executedPlan.toString)
  }
}
