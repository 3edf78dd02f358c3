package graft

/** Benchmark main: times every registry query at the target scale
  * factor and prints ONE JSON line for the driver.
  *
  * Methodology (this host shows up to 3× run-to-run steal variance, so
  * a single timed rep is not evidence):
  *  - per query, in deterministic name order: clear the cache (so no
  *    cross-query cache reuse flatters a number), one untimed settle
  *    rep at the TARGET scale factor (pays Janino compile + JIT —
  *    cold vs warm differs 10×+, and warming at a smaller fixture is
  *    NOT enough: join strategies flip broadcast↔sort-merge with data
  *    size, compiling different generated classes), System.gc() (so
  *    GC debt from earlier queries/compiles isn't billed to rep 1 —
  *    r3's driver run billed a 68 s pause to a query whose
  *    steady-state rep was 2 s), then `SPARK_GRAFT_BENCH_REPS`
  *    (default 3) timed reps back-to-back;
  *  - report per-query MEDIANs in `queries`, most-expensive-first,
  *    truncated to fit the driver's ~2000-char tail capture (r3's
  *    full-precision inline-reps line outgrew it and failed to
  *    parse); the cheap remainder is folded into `omitted` and
  *    `value` is the total over ALL queries. Every individual rep and
  *    the complete median map go to `bench_reps.json`, so a swing can
  *    be attributed to host noise (reps disagree) vs plan cost (reps
  *    agree).
  */
object Bench {

  /** Hard budget for the stdout summary line: the driver's tail
    * capture is ~2000 chars and the line shares it with sbt's trailing
    * "[success]" output — r3's artifacts were lost to an overgrown
    * line. BenchLineSpec pins this invariant as the registry grows. */
  val LineBudget = 1700

  /** Seconds with three decimals in `Locale.ROOT`: the default-locale
    * `"%.3f".format` writes `0,123` under a comma-decimal locale, and
    * the summary line and every JSON artifact would stop parsing. */
  private[graft] def fmt(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  /** `s` as a quoted JSON string: quote, backslash and every control
    * char escaped, so no error entry or oracle SQL text can make the
    * summary line or `oracle_sql.json` unparseable. */
  private[graft] def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => "\\u%04x".format(c.toInt)
    case c => c.toString
  } + "\""

  /** Outlier re-run rule: a query's rep set is SUSPECT when the
    * max/min spread exceeds `factor` AND the max rep is material
    * (≥ `floor` sec — a 10→40 ms wobble on a trivial query is timer
    * noise, not evidence). Reps of one query run back-to-back, so a
    * single degradation window (GC storm, cross-rep cache poisoning,
    * host steal burst) can poison 2 of 3 reps AND the median with
    * them — r6's committed q_pagerank median was 14× its clean value
    * this way. Suspect queries get one full re-measurement (fresh
    * clearCache + settle + GC) AFTER the sweep, when whatever
    * transient poisoned them has passed; the artifact records both
    * rep sets so the swing stays attributable. Pure for spec. */
  private[graft] def suspectSpread(reps: Seq[Double],
                                   factor: Double = 3.0,
                                   floor: Double = 0.5): Boolean =
    reps.nonEmpty && reps.max >= floor &&
      (reps.min <= 0.0 || reps.max / reps.min > factor)

  /** Build the one-line stdout summary: queries in DESCENDING median
    * order (the expensive ones carry the perf signal) until the
    * serialized line reaches [[LineBudget]], the cheap remainder
    * folded into `omitted`; `value` is the total over ALL queries.
    * Pure so the budget invariant is spec-testable at any registry
    * size. */
  private[graft] def summaryLine(medians: Map[String, Double],
                                 errors: Seq[String],
                                 sfDir: String): String = {
    val errs = errors.map(jsonString).mkString("[", ",", "]")
    val total = if (medians.nonEmpty) medians.values.sum else 0.0
    val byCost = medians.toSeq.sortBy { case (k, v) => (-v, k) }
    val entries = byCost.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
    val fixedLen = (s"""{"metric":"total","value":${fmt(total)},""" +
      s""""unit":"sec","queries":{},""" +
      s""""omitted":{"n":99999,"sec":99999.999},""" +
      s""""errors":$errs,"sf":"$sfDir"}""").length
    var used = fixedLen
    var nIncl = 0
    while (nIncl < entries.size &&
      used + entries(nIncl).length + 1 <= LineBudget) {
      used += entries(nIncl).length + 1; nIncl += 1
    }
    val qs = entries.take(nIncl).mkString("{", ",", "}")
    val omittedSec = byCost.drop(nIncl).map(_._2).sum
    val omitted =
      s"""{"n":${entries.size - nIncl},"sec":${fmt(omittedSec)}}"""
    s"""{"metric":"total","value":${fmt(total)},"unit":"sec",""" +
      s""""queries":$qs,"omitted":$omitted,"errors":$errs,"sf":"$sfDir"}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val nReps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val spark = Session()
    spark.range(1000000).selectExpr("sum(id)").collect()
    Tables.load(spark, sfDir, "region").count()
    SparkEntry.entry(spark).count()
    val errors = scala.collection.mutable.ListBuffer[String]()
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    val gcBeans = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans
    def gcMsNow(): Long = {
      var t = 0L
      gcBeans.forEach(b => t += math.max(0L, b.getCollectionTime))
      t
    }
    // One full measurement of one query: clearCache and IndexCache.clear()
    // (no cached or checkpointed state survives into another query's
    // measurement: without the clear, an index built during an EARLIER
    // query's reps served every later q_ann_* row); a settle rep at the
    // TARGET SF (Janino compile + JIT — a smaller fixture compiles
    // different join-strategy codegen — and, for index-backed queries,
    // the FULL index build, disclosed per query as `settle_sec` in
    // bench_reps.json); System.gc() (compile garbage is not billed to
    // rep 1); then nReps timed reps of steady-state (probe) cost. Per-rep
    // GC delta rides alongside so a slow rep is attributable: gc_ms ≈
    // wall ⇒ heap pressure, gc_ms ≈ 0 ⇒ plan cost or steal.
    // Timed action: the noop sink, which evaluates every column of
    // every row. A count() lets the optimizer prune every column that
    // does not affect cardinality, and with it real work: q_triangles'
    // adjacency build and array_intersect, a grouped sum's arithmetic.
    def consume(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    val settleSec = scala.collection.mutable.Map[String, Double]()
    def measure(name: String): (Seq[Double], Seq[Long]) = {
      val fn = SparkEntry.queries(name)
      spark.catalog.clearCache()
      graft.operators.IndexCache.clear()
      val s0 = System.nanoTime()
      try { consume(fn(spark, sfDir)) } catch { case _: Throwable => () }
      settleSec(name) = (System.nanoTime() - s0) / 1e9
      System.gc()
      val out = (1 to nReps).map { _ =>
        val g0 = gcMsNow()
        val t0 = System.nanoTime()
        try { consume(fn(spark, sfDir)) } catch { case e: Throwable =>
          if (!errors.contains(name)) errors += name
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
        }
        ((System.nanoTime() - t0) / 1e9, gcMsNow() - g0)
      }
      (out.map(_._1), out.map(_._2))
    }
    val firstPass: Map[String, (Seq[Double], Seq[Long])] =
      names.map(n => n -> measure(n)).toMap
    // Post-sweep outlier pass: re-measure suspect queries once the
    // sweep (and whatever transient poisoned them) is over; the
    // re-measurement REPLACES the medians, the artifact keeps both.
    val rerunNames = names.filter(n => suspectSpread(firstPass(n)._1))
    val reruns: Map[String, (Seq[Double], Seq[Long])] =
      rerunNames.map(n => n -> measure(n)).toMap
    val finalReps: Map[String, Seq[Double]] =
      firstPass.map { case (k, v) => k -> reruns.get(k).map(_._1).getOrElse(v._1) }
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
    }
    val medians = finalReps.map { case (k, v) => k -> median(v) }
    def repMap(m: Map[String, (Seq[Double], Seq[Long])]): String =
      m.toSeq.sortBy(_._1)
        .map { case (k, (t, _)) =>
          "\"" + k + "\":[" + t.map(fmt).mkString(",") + "]" }
        .mkString("{", ",", "}")
    def gcMap(m: Map[String, (Seq[Double], Seq[Long])]): String =
      m.toSeq.sortBy(_._1)
        .map { case (k, (_, g)) =>
          "\"" + k + "\":[" + g.mkString(",") + "]" }
        .mkString("{", ",", "}")
    val errs = errors.map(jsonString).mkString("[", ",", "]")
    val mediansJson = medians.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    val settleJson = settleSec.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    val repsJson =
      s"""{"reps":${repMap(firstPass)},"gc_ms":${gcMap(firstPass)},""" +
        s""""reruns":${repMap(reruns)},"rerun_gc_ms":${gcMap(reruns)},""" +
        s""""medians":$mediansJson,"nreps":$nReps,""" +
        s""""settle_sec":$settleJson,""" +
        s""""errors":$errs,"sf":"$sfDir"}"""
    // Full per-rep data goes ONLY to the file — never to stderr: in a
    // 2>&1 capture a multi-KB stderr line can interleave AFTER the
    // stdout summary and push it out of the driver's ~2000-char tail
    // window (exactly how the r3 bench line failed to parse).
    // SPARK_GRAFT_REPS_FILE redirects the artifact — scaling audits at
    // other SF dirs must not clobber the canonical sf0.1 file.
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_REPS_FILE", "bench_reps.json")),
      repsJson.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Throwable =>
      System.err.println(s"[bench] reps file write failed: ${e.getMessage}") }
    println(summaryLine(medians, errors.toSeq, sfDir))
    System.out.flush()
    spark.stop()
  }
}
