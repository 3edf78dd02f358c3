package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import Collector.{Job, Plan, Stage, Task}
import Main.Rep

/** Per-layer metrics and spans of a traced run, computed from the
  * benchmark's own rep records and the [[Collector]]'s events.
  *
  * Layout: run → query → rep → build, plan and exec → Spark job → stage.
  * `queries.build_s` and `queries.exec_s` are self times: the planning
  * phases of the queries executed inside them are reported under
  * `plans.*` instead, so build + plans + exec add up to the rep. */
object Layers {

  /** Physical nodes whose timing SQL metrics are reported by name; the
    * run artifact keeps every node. */
  val Ops: Seq[String] = Seq("WholeStageCodegen", "HashAggregate",
    "ObjectHashAggregate", "Sort", "Exchange", "BroadcastExchange", "Scan")

  /** Every per-layer metric a traced run reports, in BENCHMARK.json order. */
  val names: Seq[String] = Seq(
    "queries.build_s", "queries.exec_s",
    "plans.analyze_s", "plans.optimize_s", "plans.physical_s",
    "plans.codegen_compiles.cold", "plans.codegen_compiles.warm",
    "plans.codegen_ms.cold", "plans.codegen_ms.warm",
    "operators.stage_jobs", "operators.stage_s", "operators.staged_mb",
    "index.build_s", "functions.kernel_s",
    "sources.scan_s", "sources.read_mb", "sources.read_rows",
    "sources.write_mb", "sources.write_rows", "sources.rows_per_result",
    "sched.jobs", "sched.stages", "sched.tasks", "sched.idle_s",
    "sched.busy_cores",
    "exec.run_s", "exec.cpu_s", "exec.cpu_frac", "exec.gc_s",
    "exec.failed_tasks",
    "jvm.gc_s", "jvm.jit_ms",
    "shuffle.write_mb", "shuffle.read_mb", "shuffle.fetch_wait_s",
    "shuffle.spill_mb") ++ Ops.map(o => s"ops.$o.time_s") ++ Seq(
    "trace.overhead_frac", "trace.reconcile_err")

  private val MiB = 1048576.0
  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n == 0) 0.0 else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
  private def overlap(a: (Double, Double), b: (Double, Double)): Double =
    math.max(0.0, math.min(a._2, b._2) - math.max(a._1, b._1))

  /** Events of the collector, once the listener bus has delivered all of
    * them: a sentinel job is run and its end awaited (events of one
    * listener queue arrive in order). */
  private final case class Events(jobs: Seq[Job], stages: Map[Int, Stage],
                                  tasks: Map[Int, Seq[Task]], plans: Seq[Plan],
                                  staged: Int => Long, jobEnd: Int => Double)

  private def events(spark: SparkSession, c: Collector): Events = {
    val sc = spark.sparkContext
    sc.setJobGroup("sentinel", "sentinel")
    sc.parallelize(Seq(1), 1).count()
    sc.clearJobGroup()
    val deadline = System.currentTimeMillis() + 30000
    def done = Collector.snapshot(c.jobs).filter(_.group == "sentinel")
      .exists(j => c.jobEnd(j.id).isDefined)
    while (!done && System.currentTimeMillis() < deadline) Thread.sleep(5)
    Events(Collector.snapshot(c.jobs),
      Collector.snapshot(c.stages).map(s => s.id -> s).toMap,
      Collector.snapshot(c.tasks).groupBy(_.stage),
      Collector.snapshot(c.plans),
      id => c.staged.getOrDefault(id, 0L),
      id => c.jobEnd(id).map(_.toDouble).getOrElse(0.0))
  }

  /** Additive raw values of one rep. */
  private def repValues(r: Rep, ev: Events): Map[String, Double] = {
    val win = (r.start, r.end)
    val jobs = ev.jobs.filter(_.group == r.group)
    val stageIds = jobs.flatMap(_.stageIds).toSet
    val tasks = stageIds.toSeq.flatMap(ev.tasks.getOrElse(_, Nil))
    val plans = ev.plans.filter(p => p.start >= r.start - 1 && p.start <= r.end + 1)
    def phaseIn(sel: Plan => (Long, Long), w: (Double, Double)): Double =
      plans.map(p => overlap((sel(p)._1.toDouble, sel(p)._2.toDouble), w)).sum / 1e3
    val phases = Seq[Plan => (Long, Long)](_.analysis, _.optimization, _.physical)
    val build = (r.start, r.built)
    val exec = (r.built, r.end)
    val planBuild = phases.map(phaseIn(_, build)).sum
    val planExec = phases.map(phaseIn(_, exec)).sum
    // Wall time of the rep with no task running: driver fixed cost.
    val intervals = tasks.map(t => (t.launch.toDouble max r.start, t.finish.toDouble min r.end))
      .filter(i => i._2 > i._1).sortBy(_._1)
    var covered = 0.0; var reach = r.start
    intervals.foreach { case (a, b) =>
      if (b > reach) { covered += b - math.max(a, reach); reach = b }
    }
    // Staging jobs: those that stored RDD blocks (eager local
    // checkpoints and persisted frames).
    val staging = jobs.filter(j => ev.staged(j.id) > 0)
    val ops = plans.flatMap(_.ops).groupMapReduce(_._1)(_._2)(_ + _)
    Map(
      "wall_s" -> r.wall,
      "queries.build_s" -> ((build._2 - build._1) / 1e3 - planBuild),
      "queries.exec_s" -> ((exec._2 - exec._1) / 1e3 - planExec),
      "plans.analyze_s" -> phaseIn(_.analysis, win),
      "plans.optimize_s" -> phaseIn(_.optimization, win),
      "plans.physical_s" -> phaseIn(_.physical, win),
      "compiles" -> r.compiles.toDouble,
      "compile_ms" -> r.compileMs,
      "operators.stage_jobs" -> staging.size.toDouble,
      "operators.stage_s" -> staging.map(j => ev.jobEnd(j.id) - j.start)
        .filter(_ > 0).sum / 1e3,
      "operators.staged_mb" -> staging.map(j => ev.staged(j.id)).sum / MiB,
      "sources.read_mb" -> tasks.map(_.readBytes).sum / MiB,
      "sources.read_rows" -> tasks.map(_.readRows).sum.toDouble,
      "sources.write_mb" -> tasks.map(_.writeBytes).sum / MiB,
      "sources.write_rows" -> tasks.map(_.writeRows).sum.toDouble,
      "sched.jobs" -> jobs.size.toDouble,
      "sched.stages" -> stageIds.count(ev.stages.contains).toDouble,
      "sched.tasks" -> tasks.size.toDouble,
      "sched.idle_s" -> math.max(0.0, r.wall - covered / 1e3),
      "task_s" -> tasks.map(t => (t.finish - t.launch).toDouble).sum / 1e3,
      "exec.run_s" -> tasks.map(_.runMs).sum / 1e3,
      "exec.cpu_s" -> tasks.map(_.cpuNs).sum / 1e9,
      "exec.gc_s" -> tasks.map(_.gcMs).sum / 1e3,
      "exec.failed_tasks" -> tasks.count(!_.ok).toDouble,
      "jvm.gc_s" -> r.gcMs / 1e3,
      "jvm.jit_ms" -> r.jitMs.toDouble,
      "shuffle.write_mb" -> tasks.map(_.shuffleWrite).sum / MiB,
      "shuffle.read_mb" -> tasks.map(_.shuffleRead).sum / MiB,
      "shuffle.fetch_wait_s" -> tasks.map(_.fetchWaitMs).sum / 1e3,
      "shuffle.spill_mb" -> tasks.map(_.spillBytes).sum / MiB
    ) ++ ops.map { case (k, v) => s"ops.$k.time_s" -> v }
  }

  private def ratio(a: Double, b: Double): Double = if (b > 0) a / b else 0.0

  /** Ratios and cold/warm splits of per-query (or summed) raw values. */
  private def finish(raw: Map[String, Double], cold: Map[String, Double],
                     resultRows: Double): Map[String, Double] = {
    val g = (k: String) => raw.getOrElse(k, 0.0)
    raw -- Seq("wall_s", "task_s", "compiles", "compile_ms", "jvm.jit_ms") ++ Map(
      "plans.codegen_compiles.cold" -> cold.getOrElse("compiles", 0.0),
      "plans.codegen_compiles.warm" -> g("compiles"),
      "plans.codegen_ms.cold" -> cold.getOrElse("compile_ms", 0.0),
      "plans.codegen_ms.warm" -> g("compile_ms"),
      "jvm.jit_ms" -> cold.getOrElse("jvm.jit_ms", 0.0),
      "exec.cpu_frac" -> ratio(g("exec.cpu_s"), g("exec.run_s")),
      "sched.busy_cores" -> ratio(g("task_s"), g("wall_s")),
      "sources.rows_per_result" -> ratio(g("sources.read_rows"), resultRows))
  }

  private def sum(ms: Iterable[Map[String, Double]]): Map[String, Double] =
    ms.flatten.groupMapReduce(_._1)(_._2)(_ + _)

  /** Workload metrics (exactly [[names]]) and per-query metrics. */
  def compute(spark: SparkSession, c: Collector, reps: Seq[Rep],
              queries: Seq[String], input: String,
              resultRows: Map[String, Long]): (Map[String, Double], Map[String, Map[String, Double]]) = {
    val kernelS = Main.kernelProbe(spark, input)
    val scanS = Main.scanProbe(spark, input)
    val ev = events(spark, c)
    val perQuery = queries.map { q =>
      val mine = reps.filter(_.query == q)
      val warm = mine.filter(_.kind == "warm").map(repValues(_, ev))
      val cold = mine.find(_.kind == "cold").map(repValues(_, ev)).getOrElse(Map.empty)
      val keys = warm.flatMap(_.keys).toSet
      val med = keys.map(k => k -> median(warm.map(_.getOrElse(k, 0.0)))).toMap
      val index = if (q.startsWith("q_ann_"))
        math.max(0.0, cold.getOrElse("wall_s", 0.0) - med.getOrElse("wall_s", 0.0)) else 0.0
      (q, med, cold, index, finish(med, cold, resultRows.getOrElse(q, 0L).toDouble))
    }
    val recon = perQuery.map { case (_, med, _, _, _) =>
      val parts = Seq("queries.build_s", "queries.exec_s", "plans.analyze_s",
        "plans.optimize_s", "plans.physical_s").map(med.getOrElse(_, 0.0)).sum
      ratio(math.abs(parts - med.getOrElse("wall_s", 0.0)), med.getOrElse("wall_s", 0.0))
    }
    def warmSum(kind: String) = queries.map(q =>
      median(reps.filter(r => r.query == q && r.kind == kind).map(_.wall))).sum
    val total = finish(sum(perQuery.map(_._2)), sum(perQuery.map(_._3)),
      resultRows.values.sum.toDouble) ++ Map(
      "index.build_s" -> perQuery.map(_._4).sum,
      "functions.kernel_s" -> kernelS,
      "sources.scan_s" -> scanS,
      "trace.overhead_frac" -> (ratio(warmSum("warm"), warmSum("untraced")) - 1),
      "trace.reconcile_err" -> recon.maxOption.getOrElse(0.0))
    val workload = names.map(n => n -> total.getOrElse(n, 0.0)).toMap
    val byQuery = perQuery.zip(recon).map { case ((q, _, _, index, m), err) =>
      q -> (m ++ Map("index.build_s" -> index, "trace.reconcile_err" -> err))
    }.toMap
    (workload, byQuery)
  }

  /** The span tree; times in epoch ms, `parent` 0 for the root. */
  def spans(c: Collector, reps: Seq[Rep]): Seq[Map[String, Any]] = {
    val out = ArrayBuffer[Map[String, Any]]()
    def span(parent: Int, kind: String, name: String, s: Double, e: Double): Int = {
      out += Map("id" -> (out.size + 1), "parent" -> parent, "kind" -> kind,
        "name" -> name, "start" -> s, "end" -> e)
      out.size
    }
    val jobs = Collector.snapshot(c.jobs).groupBy(_.group)
    val stages = Collector.snapshot(c.stages).map(s => s.id -> s).toMap
    val plans = Collector.snapshot(c.plans)
    if (reps.nonEmpty) {
      val run = span(0, "run", "run", reps.map(_.start).min, reps.map(_.end).max)
      reps.groupBy(_.query).toSeq.sortBy(_._2.head.start).foreach { case (q, rs) =>
        val qs = span(run, "query", q, rs.map(_.start).min, rs.map(_.end).max)
        rs.foreach { r =>
          val rp = span(qs, "rep", r.kind, r.start, r.end)
          val b = span(rp, "build", q, r.start, r.built)
          plans.filter(p => p.start >= r.start - 1 && p.start <= r.end + 1).foreach { p =>
            Seq("analysis" -> p.analysis, "optimization" -> p.optimization,
              "planning" -> p.physical).filter(_._2._1 > 0).foreach { case (n, (s, e)) =>
              span(rp, "plan", n, s.toDouble, e.toDouble)
            }
          }
          val x = span(rp, "exec", q, r.built, r.end)
          jobs.getOrElse(r.group, Nil).foreach { j =>
            val js = span(if (j.start < r.built) b else x, "job", j.name, j.start.toDouble,
              c.jobEnd(j.id).map(_.toDouble).getOrElse(j.start.toDouble))
            j.stageIds.flatMap(stages.get).foreach(s =>
              span(js, "stage", s.name, s.start.toDouble, s.end.toDouble))
          }
        }
      }
    }
    out.toSeq
  }
}
