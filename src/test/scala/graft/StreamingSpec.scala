package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.{Sessionize, StreamDedup, StreamIngest, StreamJoin,
  WindowAgg}

/** Structured Streaming sessionization: the same operator that passes
  * the batch DuckDB oracle, driven incrementally from a MemoryStream
  * with a watermark. */
class StreamingSpec extends SparkSpec {

  test("byGapStreaming sessionizes a memory stream incrementally") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mins = 60L * 1000000L
    val input = MemoryStream[(Long, Long, Double)]
    val events = input.toDF().toDF("user_id", "ts_us", "value")
    val sessions = Sessionize.byGapStreaming(events,
      col("user_id"), col("ts_us"), col("value"),
      gap = "30 minutes", watermark = "0 seconds")
    val q = sessions.writeStream.format("memory")
      .queryName("sess").outputMode("complete").start()
    try {
      // user 1: two bursts 2h apart → 2 sessions; user 2: one burst.
      input.addData((1L, 0 * mins, 1.0), (1L, 10 * mins, 2.0),
        (1L, 130 * mins, 4.0), (2L, 5 * mins, 8.0))
      q.processAllAvailable()
      val got = spark.table("sess")
        .select("user_id", "session_start_us", "n_events", "value_sum")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).toSet
      assert(got == Set(
        (1L, 0L, 2L, 3.0),
        (1L, 130 * mins, 1L, 4.0),
        (2L, 5 * mins, 1L, 8.0)))
      // late-arriving event extends an open session on the next trigger
      input.addData((2L, 20 * mins, 1.5))
      q.processAllAvailable()
      val s2 = spark.table("sess").filter(col("user_id") === 2)
        .select("n_events", "value_sum").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(s2 == Set((2L, 9.5)))
    } finally q.stop()
  }

  test("batch and streaming sessionization agree") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mins = 60L * 1000000L
    val rows = Seq((1L, 0 * mins, 1.0), (1L, 40 * mins, 2.0),
      (1L, 50 * mins, 3.0), (3L, 0 * mins, 5.0))
    val batch = Sessionize.byGap(rows.toDF("user_id", "ts_us", "value"),
      col("user_id"), col("ts_us"), col("value"), "30 minutes")
      .collect().map(_.toSeq).toSet

    val input = MemoryStream[(Long, Long, Double)]
    val stream = Sessionize.byGapStreaming(
      input.toDF().toDF("user_id", "ts_us", "value"),
      col("user_id"), col("ts_us"), col("value"), "30 minutes", "0 seconds")
    val q = stream.writeStream.format("memory")
      .queryName("sess_cmp").outputMode("complete").start()
    try {
      input.addData(rows: _*)
      q.processAllAvailable()
      val got = spark.table("sess_cmp").collect().map(_.toSeq).toSet
      assert(got == batch)
    } finally q.stop()
  }

  test("file-source stream: readStream over a growing parquet directory") {
    import spark.implicits._
    val dir = scratchDir("graft_stream").toString
    val mins = 60L * 1000000L
    Seq(("click", 5 * mins, 1.0), ("view", 10 * mins, 2.0))
      .toDF("event_type", "ts_us", "value")
      .write.mode("append").parquet(dir)
    val stream = spark.readStream
      .schema("event_type STRING, ts_us BIGINT, value DOUBLE")
      .parquet(dir)
    val agg = WindowAgg.tumblingStreaming(stream, col("ts_us"), "1 hour",
      "event_type", col("value"), watermark = "0 seconds")
    val q = agg.writeStream.format("memory")
      .queryName("filewin").outputMode("complete").start()
    try {
      q.processAllAvailable()
      assert(spark.table("filewin").count() == 2)
      // a new file lands in the directory → picked up incrementally
      Seq(("click", 20 * mins, 4.0)).toDF("event_type", "ts_us", "value")
        .write.mode("append").parquet(dir)
      q.processAllAvailable()
      val click = spark.table("filewin")
        .filter(col("event_type") === "click")
        .select("n_events", "value_sum").head()
      assert(click.getLong(0) == 2 && click.getDouble(1) == 5.0)
    } finally q.stop()
  }

  test("firstSeen batch == groupBy min(ts)") {
    import spark.implicits._
    val df = Seq((1L, 30L), (1L, 10L), (2L, 5L), (2L, 50L), (3L, 7L))
      .toDF("k", "ts")
    val got = StreamDedup.firstSeen(df, col("k"), col("ts"))
      .collect().map(f => (f.k, f.first_ts)).toSet
    assert(got == Set((1L, 10L), (2L, 5L), (3L, 7L)))
  }

  test("firstSeenStreaming suppresses dups across triggers, re-admits after horizon") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mins = 60L * 1000000L
    val input = MemoryStream[(Long, Long)]
    val dedup = StreamDedup.firstSeenStreaming(
      input.toDF().toDF("k", "ts"), col("k"), col("ts"),
      watermark = "0 seconds", horizonUs = 60 * mins)
    val q = dedup.toDF().writeStream.format("memory")
      .queryName("firstseen").outputMode("append").start()
    try {
      def rows() = spark.table("firstseen").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      input.addData((1L, 1 * mins), (2L, 5 * mins))
      q.processAllAvailable()
      assert(rows() == Seq((1L, 1 * mins), (2L, 5 * mins)))
      // dup of key 1 + new key 3 → only 3 emitted
      input.addData((1L, 10 * mins), (3L, 11 * mins))
      q.processAllAvailable()
      assert(rows() == Seq((1L, 1 * mins), (2L, 5 * mins), (3L, 11 * mins)))
      // advance the watermark far past key 1's horizon (1 + 60 min),
      // with a no-key-1 trigger so its timeout fires and state drops
      input.addData((4L, 200 * mins))
      q.processAllAvailable()
      input.addData((5L, 201 * mins))
      q.processAllAvailable()
      // key 1 re-admitted after expiry
      input.addData((1L, 210 * mins))
      q.processAllAvailable()
      assert(rows().contains((1L, 210 * mins)))
    } finally q.stop()
  }

  test("streaming near-dup finds planted dups across micro-batches, equals batch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamNearDup
    val base = "the quick brown fox jumps over the lazy dog near the old river bank today"
    val docs = Seq(
      (1L, base, 1L),
      (4L, "completely different words about spark catalyst tungsten shuffle exchange plans", 2L),
      (2L, base, 3L),                              // exact dup of 1, later batch
      (3L, base.replace("today", "tonight"), 4L),  // near dup, later still
      (5L, "another unrelated document mentioning parquet columnar scans and predicate pushdown", 5L))
    val batchPairs = StreamNearDup.nearDups(
        docs.toDF("doc_id", "text", "ts"), col("doc_id"), col("text"),
        col("ts") * 1000000L, threshold = 0.5)
      .collect().map(p => (p.id_a, p.id_b)).toSet
    assert(batchPairs.contains((1L, 2L)) && batchPairs.contains((1L, 3L)))
    assert(!batchPairs.exists(p => p._1 == 4L || p._2 == 4L || p._2 == 5L))

    val input = MemoryStream[(Long, String, Long)]
    val stream = StreamNearDup.nearDupsStreaming(
      input.toDF().toDF("doc_id", "text", "ts"), col("doc_id"), col("text"),
      col("ts") * 1000000L, watermark = "0 seconds",
      horizonUs = 3600L * 1000000L, threshold = 0.5)
    val q = stream.toDF().writeStream.format("memory")
      .queryName("neardup").outputMode("append").start()
    try {
      // One doc per micro-batch: every pair must span trigger boundaries.
      docs.foreach { d => input.addData(d); q.processAllAvailable() }
      val streamed = spark.table("neardup").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(streamed == batchPairs)
    } finally q.stop()
  }

  test("batch and streaming tumbling-window aggregation agree") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mins = 60L * 1000000L
    val rows = Seq(
      ("click", 5 * mins, 1.0), ("click", 50 * mins, 2.0),
      ("view", 10 * mins, 4.0), ("click", 70 * mins, 8.0),
      ("view", 200 * mins, 16.0))
    val batch = WindowAgg.tumbling(
      rows.toDF("event_type", "ts_us", "value"),
      col("ts_us"), "1 hour", "event_type", col("value"))
      .collect().map(_.toSeq).toSet
    // windows aligned to the epoch, one row per (window, type)
    assert(batch.exists(r => r(0) == 0L && r(1) == 60 * mins &&
      r(2) == "click" && r(3) == 2L && r(4) == 3.0))
    assert(batch.size == 4)

    val input = MemoryStream[(String, Long, Double)]
    val stream = WindowAgg.tumblingStreaming(
      input.toDF().toDF("event_type", "ts_us", "value"),
      col("ts_us"), "1 hour", "event_type", col("value"),
      watermark = "10 minutes")
    val q = stream.writeStream.format("memory")
      .queryName("winagg").outputMode("complete").start()
    try {
      input.addData(rows: _*)
      q.processAllAvailable()
      val got = spark.table("winagg").collect().map(_.toSeq).toSet
      assert(got == batch)
    } finally q.stop()
  }

  test("batch and streaming sliding-window aggregation agree") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mins = 60L * 1000000L
    val rows = Seq(
      ("click", 5 * mins, 1.0), ("click", 50 * mins, 2.0),
      ("view", 10 * mins, 4.0), ("click", 70 * mins, 8.0))
    val batch = WindowAgg.sliding(
      rows.toDF("event_type", "ts_us", "value"),
      col("ts_us"), "1 hour", "15 minutes", "event_type", col("value"))
      .collect().map(_.toSeq).toSet
    // each event covered by exactly 4 windows; 5' and 50' clicks share
    // only the epoch-aligned [0, 60') window
    assert(batch.exists(r => r(0) == 0L && r(1) == 60 * mins &&
      r(2) == "click" && r(3) == 2L && r(4) == 3.0))
    // clicks at 50' and 70' share [15,75) and [30,90) and [45,105)
    assert(batch.exists(r => r(0) == 15 * mins && r(2) == "click" &&
      r(3) == 2L && r(4) == 10.0))
    val input = MemoryStream[(String, Long, Double)]
    val stream = WindowAgg.slidingStreaming(
      input.toDF().toDF("event_type", "ts_us", "value"),
      col("ts_us"), "1 hour", "15 minutes", "event_type", col("value"),
      watermark = "10 minutes")
    val q = stream.writeStream.format("memory")
      .queryName("slidewin").outputMode("complete").start()
    try {
      input.addData(rows: _*)
      q.processAllAvailable()
      assert(spark.table("slidewin").collect().map(_.toSeq).toSet == batch)
    } finally q.stop()
  }

  test("stream-stream interval join agrees with batch rangeJoin") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mins = 60L * 1000000L
    // purchases (left) matched to clicks (right) within ±30 min per user
    val purchases = Seq((1L, 100L, 60 * mins), (1L, 101L, 200 * mins),
      (2L, 102L, 45 * mins), (3L, 103L, 10 * mins))
    val clicks = Seq((1L, 900L, 40 * mins), (1L, 901L, 85 * mins),
      (1L, 902L, 175 * mins), (2L, 903L, 46 * mins), (9L, 904L, 45 * mins))
    val batch = graft.operators.Series.rangeJoin(
      purchases.toDF("user_id", "p_id", "ts_us"),
      clicks.toDF("user_id", "c_id", "ts_us"),
      "user_id", "ts_us", delta = 30 * mins, payload = Seq("c_id"))
      .select("user_id", "p_id", "r_c_id")
      .collect().map(_.toSeq).toSet
    assert(batch.contains(Seq(1L, 100L, 900L)))  // 60' ↔ 40'
    assert(!batch.exists(r => r == Seq(1L, 101L, 901L))) // 200' ↔ 85' out

    val lIn = MemoryStream[(Long, Long, Long)]
    val rIn = MemoryStream[(Long, Long, Long)]
    val joined = StreamJoin.intervalStreaming(
      lIn.toDF().toDF("user_id", "p_id", "ts_us"),
      rIn.toDF().toDF("user_id", "c_id", "ts_us"),
      "user_id", "ts_us", deltaUs = 30 * mins,
      payload = Seq("c_id"), watermark = "10 minutes")
      .select("user_id", "p_id", "r_c_id")
    val q = joined.writeStream.format("memory")
      .queryName("sjoin").outputMode("append").start()
    try {
      // two triggers, event time moving forward (arrival later than
      // watermark + delta is legitimately dropped by contract, so the
      // agreement test feeds in-order batches); matches spanning the
      // trigger boundary (60' purchase ↔ 85' click) must still appear
      lIn.addData((3L, 103L, 10 * mins), (2L, 102L, 45 * mins))
      rIn.addData((1L, 900L, 40 * mins), (2L, 903L, 46 * mins))
      q.processAllAvailable()
      lIn.addData((1L, 100L, 60 * mins), (1L, 101L, 200 * mins))
      rIn.addData((1L, 901L, 85 * mins), (1L, 902L, 175 * mins),
        (9L, 904L, 45 * mins))
      q.processAllAvailable()
      val got = spark.table("sjoin").collect().map(_.toSeq).toSet
      assert(got == batch)
    } finally q.stop()
  }

  test("stream-static enrichment joins each micro-batch against the dim") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamJoin
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val input = MemoryStream[(Long, Double)]
    val enriched = StreamJoin.enrichStatic(
      input.toDF().toDF("user_id", "v"), dim, "user_id")
    val q = enriched.writeStream.format("memory")
      .queryName("enrich").outputMode("append").start()
    try {
      input.addData((1L, 10.0), (2L, 20.0), (3L, 30.0))
      q.processAllAvailable()
      input.addData((1L, 11.0))
      q.processAllAvailable()
      val got = spark.table("enrich")
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
        .toSet
      // inner semantics: user 3 (no dim row) is absent
      assert(got == Set((1L, 10.0, "gold"), (2L, 20.0, "silver"),
        (1L, 11.0, "gold")))
    } finally q.stop()
  }

  test("Misra-Gries heavy hitters: exact at capacity, MG bound under pressure") {
    import spark.implicits._
    import graft.streaming.StreamHeavyHitters
    // 100 of "hot", 50 of "warm", singletons elsewhere
    val rows = (1 to 100).map(i => ("g", "hot", i.toLong)) ++
      (101 to 150).map(i => ("g", "warm", i.toLong)) ++
      (151 to 200).map(i => ("g", s"one$i", i.toLong))
    val df = rows.toDF("g", "item", "ord")
    // capacity ≥ distinct → exact counts
    val exact = StreamHeavyHitters.topK(df, col("g"), col("item"),
        col("ord"), capacity = 100, k = 2)
      .collect().map(h => (h.item, h.est)).toMap
    assert(exact == Map("hot" -> 100L, "warm" -> 50L))
    // capacity 4 under pressure: n=200 → error ≤ n/(cap+1) = 40; the
    // true heavy hitter must survive with est ≥ 100 − 40
    val tight = StreamHeavyHitters.topK(df, col("g"), col("item"),
        col("ord"), capacity = 4, k = 4)
      .collect().map(h => (h.item, h.est)).toMap
    assert(tight.contains("hot"), s"heavy hitter evicted: $tight")
    assert(tight("hot") >= 60L && tight("hot") <= 100L)
  }

  test("MG delta-offset kernel is bit-identical to naive decrement-all") {
    import graft.streaming.StreamHeavyHitters
    // The textbook formulation the kernel's delta-offset rewrite must
    // reproduce EXACTLY, arrival by arrival: resident → increment;
    // free slot → insert at 1; full → decrement every counter, drop
    // zeros, newcomer NOT inserted.
    def naive(init: Map[String, Long], items: Seq[String],
              capacity: Int): Map[String, Long] =
      items.foldLeft(init) { (m, item) =>
        m.get(item) match {
          case Some(c) => m.updated(item, c + 1L)
          case None if m.size < capacity => m.updated(item, 1L)
          case None => m.collect { case (k, c) if c > 1L => k -> (c - 1L) }
        }
      }
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 50) {
      val capacity = 1 + rnd.nextInt(6)
      val n = 1 + rnd.nextInt(400)
      // Skewed vocab (zipf-ish) so all three branches fire, including
      // revivals of dead-but-still-stored entries after evictions.
      val items = Seq.fill(n)(s"w${(math.sqrt(rnd.nextInt(144)).toInt)}")
      val init = if (trial % 3 == 0)
        naive(Map.empty, Seq.fill(20)(s"w${rnd.nextInt(12)}"), capacity)
      else Map.empty[String, Long]
      val rows = items.zipWithIndex
        .map { case (it, i) => ("g", it, i.toLong) }.toArray
      val got = StreamHeavyHitters.mgApply(init, rows, capacity)
      val want = naive(init, items, capacity)
      assert(got == want,
        s"trial $trial (capacity=$capacity, n=$n): $got != $want")
    }
  }

  test("streaming quantile histogram equals batch after the last trigger") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamQuantile
    val rows = Seq(("a", 5.0), ("a", 15.0), ("a", 25.0), ("a", 35.0),
      ("a", 95.0), ("b", 7.0), ("b", 7.5), ("b", 99.0))
    val batch = StreamQuantile.quantiles(rows.toDF("g", "v"),
        col("g"), col("v"), binWidth = 10.0)
      .collect().map(r => (r.getString(0), r.getLong(1),
        r.getDouble(2), r.getDouble(3))).toSet
    // group a: n=5, p50 → 3rd of bins {0,1,2,3,9} = 20.0; p90 → 5th = 90.0
    assert(batch.contains(("a", 5L, 20.0, 90.0)))
    // group b: n=3, p50 → 2nd cum at bin 0 (two values) = 0.0; p90 → 90.0
    assert(batch.contains(("b", 3L, 0.0, 90.0)))

    val input = MemoryStream[(String, Double)]
    val q = StreamQuantile.quantilesStream(input.toDS(), binWidth = 10.0)
      .toDF().writeStream.format("memory")
      .queryName("squant").outputMode("update").start()
    try {
      rows.grouped(3).foreach { g => input.addData(g); q.processAllAvailable() }
      // last emitted estimate per group == the batch answer
      val last = spark.table("squant").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
        .groupBy(_._1).map { case (_, v) => v.maxBy(_._2) }.toSet
      assert(last == batch)
    } finally q.stop()
  }

  test("streaming per-window PSI equals the batch twin after the last trigger") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamDrift
    def t(day: Int, h: Int) =
      new java.sql.Timestamp(
        java.time.Instant.parse(f"2024-01-0$day%dT$h%02d:00:00Z")
          .toEpochMilli)
    val rows = Seq(
      (t(1, 1), 5.0), (t(1, 2), 15.0), (t(1, 3), 15.0), (t(1, 4), 35.0),
      (t(2, 1), 5.0), (t(2, 2), 5.0), (t(2, 3), 95.0))
    val ref = Seq.fill(10)(0.1)
    val batch = StreamDrift.psiPerWindow(rows.toDF("ts", "v"),
        col("ts"), col("v"), 0.0, 100.0, 10, ref, "1 day")
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(batch.size == 2)

    val input = MemoryStream[(java.sql.Timestamp, Double)]
    val q = StreamDrift.psiPerWindowStreaming(
        input.toDS().toDF("ts", "v"), "ts", col("v"),
        0.0, 100.0, 10, ref, "1 day")
      .toDF().writeStream.format("memory")
      .queryName("sdrift").outputMode("update").start()
    try {
      rows.grouped(3).foreach { g =>
        input.addData(g); q.processAllAvailable()
      }
      // final emission per window (counts grow monotonically, so the
      // max-n row is the last) == the batch answer
      val last = spark.table("sdrift")
        .groupBy(col("w"))
        .agg(max_by(struct(col("n"), col("psi")), col("n")).as("s"))
        .select(date_format(col("w"), "yyyy-MM-dd HH:mm:ss").as("w"),
          col("s.n").as("n"), col("s.psi").as("psi"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
      assert(last.keySet == batch.keySet)
      last.foreach { case (k, psi) =>
        assert(math.abs(psi - batch(k)) < 1e-9,
          s"window $k: stream $psi vs batch ${batch(k)}")
      }
    } finally q.stop()
  }

  test("streaming HLL converges to the batch sketch estimate") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamSketch
    import graft.operators.Sketch
    val keys = (1L to 2000L).map(i => ("g1", (i % 700).toString)) ++
      (1L to 500L).map(i => ("g2", (i % 120).toString))
    val input = MemoryStream[(String, String)]
    val est = StreamSketch.approxDistinctStream(input.toDS())
    val q = est.writeStream.format("memory")
      .queryName("hll").outputMode("update").start()
    try {
      val (first, second) = keys.splitAt(900)
      input.addData(first: _*)
      q.processAllAvailable()
      input.addData(second: _*)
      q.processAllAvailable()
      // final estimate per group == batch estimate on all keys (the
      // estimate is monotone in the registers, so max == last emitted)
      val streamed = spark.table("hll")
        .groupBy("g").agg(max("n_approx").as("n"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      val batchDf = keys.toDF("g", "k")
      val viaState = StreamSketch.approxDistinct(
        batchDf, col("g"), col("k"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      val viaSql = Sketch.approxCountDistinct(
        batchDf, col("k"), "n", Seq(col("g")))
        .collect().map(r => r.getString(0) -> r.getAs[Double]("n")).toMap
      assert(streamed == viaState)
      assert(viaState == viaSql,
        s"stateful JVM estimate must mirror the SQL sketch: $viaState vs $viaSql")
      // and the estimate is in range of the true distinct counts
      assert(math.abs(viaState("g1") - 700.0) / 700.0 < 0.25)
      assert(math.abs(viaState("g2") - 120.0) / 120.0 < 0.25)
    } finally q.stop()
  }

  test("streaming count-min converges to the batch sketch estimates") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamCms
    import graft.operators.Sketch
    val rows = (1L to 1500L).map(i => ("g1", (i % 97).toString)) ++
      (1L to 400L).map(i => ("g2", (i % 23).toString))
    val input = MemoryStream[(String, String)]
    val est = StreamCms.estimatesStream(input.toDS())
    val q = est.writeStream.format("memory")
      .queryName("cms").outputMode("update").start()
    try {
      val (first, second) = rows.splitAt(700)
      input.addData(first: _*)
      q.processAllAvailable()
      input.addData(second: _*)
      q.processAllAvailable()
      // counters are monotone, so max emitted == last emitted per item
      val streamed = spark.table("cms").groupBy("g", "item")
        .agg(max("est").as("est")).as[(String, String, Long)]
        .collect().map(r => (r._1, r._2) -> r._3).toMap
      val batch = StreamCms.estimates(
        rows.toDF("g", "k"), col("g"), col("k"))
        .as[(String, String, Long)]
        .collect().map(r => (r._1, r._2) -> r._3).toMap
      assert(streamed.keySet == batch.keySet)
      // an estimate emitted mid-stream never exceeds the full-stream one
      streamed.foreach { case (k, v) => assert(v <= batch(k)) }
      // items that arrived in the final batch see the full counters
      second.foreach { case (g, item) =>
        assert(streamed((g, item)) == batch((g, item)))
      }
      // the stateful JVM path mirrors the relational SQL sketch per group
      for (g <- Seq("g1", "g2")) {
        val sub = rows.filter(_._1 == g).toDF("g", "k")
        val viaSql = Sketch.cmsEstimate(
          Sketch.cmsSketch(sub, col("k")),
          sub.select(col("k")).distinct(), col("k"))
          .as[(String, Long)].collect().toMap
        val viaState = batch.collect { case ((`g`, item), v) => item -> v }
        assert(viaState == viaSql,
          s"stateful estimate must mirror the SQL sketch for $g")
      }
      // count-min law: estimates dominate the true frequencies
      val truth = rows.groupBy(identity).view.mapValues(_.size.toLong).toMap
      batch.foreach { case (k, v) => assert(v >= truth(k)) }
    } finally q.stop()
  }

  test("sub-sharded sketch state merges back bit-for-bit (HLL max, CMS sum)") {
    import spark.implicits._
    import graft.streaming.{StreamCms, StreamSketch}
    // skewed groups + shared keys across groups; enough cardinality
    // that every shard sees work
    val rows = (1L to 3000L).map(i => ("g" + (i % 3), (i % 450).toString))
    val df = rows.toDF("g", "k")
    def hllMap(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val hllBase = hllMap(StreamSketch.approxDistinct(df, col("g"), col("k")))
    for (s <- Seq(1, 8, 32))
      assert(hllMap(StreamSketch.approxDistinctSharded(df, col("g"),
        col("k"), shards = s)) == hllBase, s"HLL shards=$s diverged")
    def cmsMap(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
        .toMap
    val cmsBase = cmsMap(StreamCms.estimates(df, col("g"), col("k")))
    for (s <- Seq(1, 8, 32))
      assert(cmsMap(StreamCms.estimatesSharded(df, col("g"), col("k"),
        shards = s)) == cmsBase, s"CMS shards=$s diverged")
  }

  test("upsertStream folds CDC micro-batches into a parquet table") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = scratchDir("graft_cdc").toString
    val path = s"$dir/table"
    val ckpt = s"$dir/ckpt"
    // seed snapshot
    Seq((1L, 0L, "a"), (2L, 0L, "b")).toDF("k", "ver", "v")
      .write.parquet(path)
    def state() = spark.read.parquet(path).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val input = MemoryStream[(Long, Long, String)]
    val q = StreamIngest.upsertStream(
      input.toDF().toDF("k", "ver", "v"), path, "k", "ver", ckpt)
    try {
      // batch 1: update an existing key, insert a new one
      input.addData((2L, 1L, "B"), (3L, 1L, "c"))
      q.processAllAvailable()
      assert(state() == Set((1L, 0L, "a"), (2L, 1L, "B"), (3L, 1L, "c")))
      // batch 2: two versions of one key in ONE batch — highest wins
      input.addData((3L, 3L, "C3"), (3L, 2L, "C2"))
      q.processAllAvailable()
      assert(state() == Set((1L, 0L, "a"), (2L, 1L, "B"), (3L, 3L, "C3")))
      // batch 3: a STALE update (ver below the table's) arriving a
      // batch late must lose — batch boundaries don't respect order
      input.addData((3L, 1L, "stale"))
      q.processAllAvailable()
      assert(state() == Set((1L, 0L, "a"), (2L, 1L, "B"), (3L, 3L, "C3")))
    } finally q.stop()
    // a second ingest query over the same table picks up where the
    // first left off — the table is the durable state, not the query
    val input2 = MemoryStream[(Long, Long, String)]
    input2.addData((4L, 1L, "d"))
    val q2 = StreamIngest.upsertStream(
      input2.toDF().toDF("k", "ver", "v"), path, "k", "ver", s"$dir/ckpt2")
    try {
      q2.processAllAvailable()
      assert(state() == Set((1L, 0L, "a"), (2L, 1L, "B"), (3L, 3L, "C3"),
        (4L, 1L, "d")))
    } finally q2.stop()
  }
}
