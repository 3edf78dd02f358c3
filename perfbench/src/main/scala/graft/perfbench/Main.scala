package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, size}

import graft.{Bench, SparkEntry, Tables}
import graft.functions.{Text, VectorFunctions}

/** JVM side of the benchmark (see perfbench/README.md). Modes:
  *  - `setup`: start a session on an input directory and report the
  *    time from process launch (`--t0`, epoch ms) until it is ready;
  *  - `run`: setup, then the cold pass, the warm reps for `--seconds`,
  *    and the output check, as one closed-loop client; with
  *    `--trace 1` the layer collector is attached;
  *  - `gen`: write the scaled-up inputs;
  *  - `fingerprint`: fingerprint every result directory of a dump.
  * Every mode writes one JSON object to `--out`. */
object Main {

  /** Counted warm rounds per run, at least. */
  val MinRounds = 3

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val out = o("mode") match {
      case "setup" =>
        val spark = session(o)
        val setupS = (System.currentTimeMillis() - o("t0").toDouble) / 1e3
        spark.stop()
        Map("setup_s" -> setupS)
      case "run" => run(o)
      case "gen" => gen(o)
      case "fingerprint" => fingerprints(o)
    }
    Files.write(Paths.get(o("out")), json.writeValueAsBytes(out))
  }

  private val json = JsonMapper.builder().addModule(DefaultScalaModule).build()

  /** The session the program is driven through: the same configuration
    * as `graft.Bench` and `graft.Verify`, with Spark's scratch
    * directories inside the benchmark's work directory. Registering the
    * input tables is part of set-up. */
  def session(o: Map[String, String]): SparkSession = {
    val cores = o("cores")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.local.dir", o("scratch") + "/spark-local")
      .config("spark.sql.warehouse.dir", o("scratch") + "/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    o.get("input").foreach(Tables.registerAll(spark, _))
    spark
  }

  private def consume(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n == 0) 0.0 else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Epoch milliseconds with sub-millisecond resolution. */
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  /** One timed execution of one query: registry call (build), then the
    * noop-sink action (exec), with the JVM counters around it. */
  final case class Rep(query: String, kind: String, group: String,
                       start: Double, built: Double, end: Double,
                       ok: Boolean, compiles: Long, compileMs: Double,
                       jitMs: Long, gcMs: Long) {
    def wall: Double = (end - start) / 1e3
  }

  private def compileStats(): (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getValues.map(_.toDouble).sum)
  }
  private def jitMs(): Long =
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  private def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  def run(o: Map[String, String]): Map[String, Any] = {
    val spark = session(o)
    val setupS = (System.currentTimeMillis() - o("t0").toDouble) / 1e3
    val sc = spark.sparkContext
    val input = o("input")
    val seconds = o("seconds").toDouble
    val trace = o("trace") == "1"
    val names = o("queries").split(",").toSeq
    val oracle = SparkEntry.oracleSql.keySet
    val fns = SparkEntry.queries
    val errors = names.map(_ -> ArrayBuffer[String]()).toMap
    val reps = ArrayBuffer[Rep]()
    val collector = new Collector
    var traced = false
    def traceOn(on: Boolean): Unit = if (on != traced) {
      if (on) { sc.addSparkListener(collector); spark.listenerManager.register(collector) }
      else { sc.removeSparkListener(collector); spark.listenerManager.unregister(collector) }
      traced = on
    }

    def rep(q: String, kind: String): Rep = {
      val group = s"$kind:$q:${reps.size}"
      sc.setJobGroup(group, group)
      val (c0, m0) = compileStats(); val j0 = jitMs(); val g0 = gcMs()
      val start = now()
      var built = start
      val ok = try { val df = fns(q)(spark, input); built = now(); consume(df); true }
      catch { case e: Throwable => errors(q) += s"$kind: $e"; false }
      val end = now()
      sc.clearJobGroup()
      val (c1, m1) = compileStats()
      val r = Rep(q, kind, group, start, if (ok) built else end, end, ok,
        c1 - c0, m1 - m0, jitMs() - j0, gcMs() - g0)
      reps += r
      r
    }

    // Closed loop, fixed name order: each query's first execution in this
    // fresh process, paying its codegen, JIT and index builds.
    traceOn(trace)
    names.foreach(rep(_, "cold"))
    System.gc()

    // Warm reps round-robin over the queries for `seconds`, after one
    // round that only settles the JIT and is not counted. A round starts
    // only if it is expected to end in time, but at least MinRounds are
    // counted. A traced run alternates untraced and traced rounds, for
    // the tracing overhead.
    names.foreach(rep(_, "settle"))
    val end = now() + seconds * 1e3
    val kinds = if (trace) Seq("untraced", "warm") else Seq("warm")
    var rounds = 0
    var last = 0.0
    while (rounds < MinRounds * kinds.size || now() + last <= end) {
      val kind = kinds(rounds % kinds.size)
      traceOn(trace && kind == "warm")
      val t = now()
      names.foreach(rep(_, kind))
      last = now() - t
      rounds += 1
    }

    // Output check, one query at a time: the result's fingerprint, then
    // the live heap after a full GC while the result (and any state it
    // pins) is still reachable. Queries without an oracle are checked
    // rep against rep, so they are fingerprinted twice.
    val fingerprints = names.map(_ -> ArrayBuffer[Fingerprint.Value]()).toMap
    val heapMb = scala.collection.mutable.Map[String, Double]()
    val heapBean = ManagementFactory.getMemoryMXBean
    var pinned: DataFrame = null
    names.foreach { q =>
      try {
        pinned = fns(q)(spark, input)
        fingerprints(q) += Fingerprint.of(pinned)
        System.gc()
        heapMb(q) = heapBean.getHeapMemoryUsage.getUsed / 1048576.0
        pinned = null
        if (!oracle(q)) fingerprints(q) += Fingerprint.of(fns(q)(spark, input))
      } catch { case e: Throwable => errors(q) += s"check: $e"; pinned = null }
    }

    traceOn(trace)
    val layers = if (trace) Some(Layers.compute(spark, collector, reps.toSeq,
      names, input, fingerprints.map { case (q, f) =>
        q -> f.headOption.map(_.rows).getOrElse(0L) })) else None
    val spans = if (trace) Layers.spans(collector, reps.toSeq) else Nil
    spark.stop()

    val perQuery = names.map { q =>
      val mine = reps.filter(_.query == q)
      val warmS = mine.filter(_.kind == "warm").map(_.wall).toSeq
      val med = median(warmS)
      q -> Map(
        "oracle" -> oracle(q),
        "cold_s" -> mine.filter(_.kind == "cold").map(_.wall).sum,
        "warm_s" -> warmS,
        "untraced_s" -> mine.filter(_.kind == "untraced").map(_.wall).toSeq,
        "failed_reps" -> mine.count(!_.ok),
        "fingerprints" -> fingerprints(q).map(f => Seq(f.rows, f.hex)).toSeq,
        "heap_mb" -> heapMb.getOrElse(q, 0.0),
        "max_to_median" -> (if (med > 0) warmS.max / med else 0.0),
        "suspect" -> Bench.suspectSpread(warmS),
        "errors" -> errors(q).toSeq,
        "layers" -> layers.map(_._2(q)).getOrElse(Map.empty[String, Double]))
    }
    Map(
      "setup_s" -> setupS,
      "queries" -> perQuery.toMap,
      "layers" -> layers.map(_._1).getOrElse(Map.empty[String, Double]),
      "spans" -> spans)
  }

  /** Fixed probe of the custom Catalyst kernels over cached documents
    * and embeddings; the median of three passes, in seconds. */
  def kernelProbe(spark: SparkSession, input: String): Double = {
    val docs = Tables.load(spark, input, "documents").select("text").cache()
    val vecs = Tables.load(spark, input, "embeddings").select("embedding").cache()
    docs.count(); vecs.count()
    val times = (1 to 3).map { _ =>
      val t = System.nanoTime()
      consume(docs.select(size(Text.shingles(col("text"), 5)),
        Text.fingerprint64(col("text")), Text.qualityScore(col("text"))))
      consume(vecs.select(VectorFunctions.cosine(col("embedding"), col("embedding"))))
      (System.nanoTime() - t) / 1e9
    }
    docs.unpersist(true); vecs.unpersist(true)
    median(times)
  }

  /** Forced scan of every input table through `Tables.load`, in seconds. */
  def scanProbe(spark: SparkSession, input: String): Double = {
    val t = System.nanoTime()
    Tables.names.foreach(n => consume(Tables.load(spark, input, n)))
    (System.nanoTime() - t) / 1e9
  }

  /** The sf0.1 tables scaled up `--scale` times by `graft.tools.ScaleUp`. */
  def gen(o: Map[String, String]): Map[String, Any] = {
    val spark = session(o)
    graft.tools.ScaleUp.run(spark, o("src"), o("dst"), o("scale").toInt)
    spark.stop()
    Map("scale" -> o("scale").toInt)
  }

  def fingerprints(o: Map[String, String]): Map[String, Any] = {
    val spark = session(o)
    val dump = new java.io.File(o("dump"))
    val out = dump.listFiles().filter(_.isDirectory).map(_.getName).map { q =>
      val f = Fingerprint.of(spark.read.parquet(s"${dump.getPath}/$q"))
      q -> Map("rows" -> f.rows, "hash" -> f.hex)
    }.toMap
    spark.stop()
    out
  }
}
