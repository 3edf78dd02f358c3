package graft

import org.apache.spark.sql.functions._

import graft.operators.{Agg, Table}

/** Golden-vector tests ported from the reference's unit suite
  * (/root/reference/test/, datasets per /root/repo/FIXTURES.md).
  * Outputs are compared as sorted multisets — the reference's goldens
  * happen to be in hash-iteration order (SURVEY §7.3).
  */
class RelationalSpec extends SparkSpec {
  import spark.implicits._

  // t1/t2 fixtures: /root/reference/test/filter_test1.jl:25-26,
  // join_test1.jl:25-28.
  def t1: Table = Table(
    Seq((1L, 1.1), (2L, 2.1), (3L, 3.1), (1L, 3.2), (2L, 1.9))
      .toDF("userid", "val2"))
  def t2: Table = Table(Seq((1L, 7.1), (3L, 8.3)).toDF("userid", "val3"))

  test("filter userid>2 → ([3],[3.1]) (filter_test1.jl:33-34)") {
    val got = t1.filter(col("userid") > 2).df.collect()
    assert(got.map(r => (r.getLong(0), r.getDouble(1))).toSeq == Seq((3L, 3.1)))
    // the IN-list form keeps listed keys only: a null key matches no
    // list, not even one holding null
    val withNull = Table(Seq((Some(1L), 1.1), (None, 2.1), (Some(3L), 3.1),
      (Some(4L), 4.2)).toDF("userid", "val2"))
    val in = withNull.filterIn("userid", Seq(3L, 4L, null)).df.collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq
    assert(in == Seq((3L, 3.1), (4L, 4.2)))
  }

  test("join dup-key multiplicity → ([1,1,3],[7.1,7.1,8.3]) (join_test1.jl:35-36)") {
    val got = t1.join(t2, "userid", "userid", "userid").df
      .select("userid", "val3").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq
    assert(got == Seq((1L, 7.1), (1L, 7.1), (3L, 8.3)))
  }

  test("join output schema is key-coalesced [kout; rest1; rest2] (capture-api.jl:322-333)") {
    val out = t1.join(t2, "userid", "userid", "uid").df
    assert(out.columns.toSeq == Seq("uid", "val2", "val3"))
  }

  test("composite-key join: dup-key cross product and key coalescing on 2 keys") {
    // Dup-key multiplicity law extended to a composite key, per the
    // single-key golden (join_test1.jl:35-36): (1,10) appears twice on
    // the left and twice on the right → 4 output rows.
    val l = Table(Seq((1L, 10L, "a"), (1L, 10L, "b"), (1L, 20L, "c"),
      (2L, 10L, "d")).toDF("k1", "k2", "lv"))
    val r = Table(Seq((1L, 10L, 1.0), (1L, 10L, 2.0), (2L, 10L, 3.0),
      (3L, 30L, 4.0)).toDF("j1", "j2", "rv"))
    val out = l.join(r, Seq("k1", "k2"), Seq("j1", "j2"), Seq("a", "b"))
    assert(out.df.columns.toSeq == Seq("a", "b", "lv", "rv"))
    val got = out.df.collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getString(2), x.getDouble(3)))
      .sorted.toSeq
    assert(got == Seq((1L, 10L, "a", 1.0), (1L, 10L, "a", 2.0),
      (1L, 10L, "b", 1.0), (1L, 10L, "b", 2.0), (2L, 10L, "d", 3.0)))
    // broadcast variant agrees
    val bc = l.joinBroadcast(r, Seq("k1", "k2"), Seq("j1", "j2"), Seq("a", "b"))
      .df.collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getString(2), x.getDouble(3)))
      .sorted.toSeq
    assert(bc == got)
  }

  test("composite-key aggregate groups on both keys with rename") {
    val got = t1.withColumn("flag", col("userid") % 2)
      .aggregate(Seq("userid", "flag"), Seq("uid", "f"),
        "n" -> Agg.length(), "s" -> Agg.sum(col("val2"))).df
    assert(got.columns.toSeq == Seq("uid", "f", "n", "s"))
    val m = got.collect()
      .map(x => (x.getLong(0), x.getLong(1)) -> x.getLong(2)).toMap
    assert(m == Map((1L, 1L) -> 2L, (2L, 0L) -> 2L, (3L, 1L) -> 1L))
  }

  test("aggregate sum → keys [1,2,3] sums [4.3,4.0,3.1] (aggregate_test1.jl:42-43)") {
    val got = t1.aggregate("userid", "s" -> Agg.sum(col("val2"))).df
      .collect().map(r => (r.getLong(0), math.round(r.getDouble(1) * 10) / 10.0))
      .sorted.toSeq
    assert(got == Seq((1L, 4.3), (2L, 4.0), (3L, 3.1)))
  }

  test("aggregate key rename + conditional count (aggregate_rename_test.jl:14)") {
    val got = t1.aggregate("userid", "uid",
      "c11" -> Agg.countIf(col("val2") === 1.1)).df
    assert(got.columns.toSeq == Seq("uid", "c11"))
    val m = got.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m == Map(1L -> 1L, 2L -> 0L, 3L -> 0L))
  }

  test("aggregate length (group count)") {
    val m = t1.aggregate("userid", "n" -> Agg.length()).df
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m == Map(1L -> 2L, 2L -> 2L, 3L -> 1L))
  }

  test("vcat of two aggregates → keys [1,2,3,1,2,3] (tables_cat.jl:37-38)") {
    val a = t1.aggregate("userid", "s" -> Agg.sum(col("val2")))
    val got = a.vcat(a).df.select("userid").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(1L, 1L, 2L, 2L, 3L, 3L))
  }

  test("vcat rejects schema mismatch (capture-api.jl:146-184 assert)") {
    intercept[IllegalArgumentException] { t1.vcat(t2) }
  }

  test("length_unique exact distinct (length_unique_test.jl:36-39)") {
    // store_sales fixture: FIXTURES.md §Q25
    val ss = Table(Seq(
      (1L, 10L, 37600L, 100.0), (1L, 10L, 36000L, 20.1), (1L, 11L, 36500L, 8.1),
      (2L, 20L, 36000L, 25.0), (2L, 21L, 35000L, 28.5))
      .toDF("cid", "ticket", "date", "paid"))
    val got = ss.aggregate("cid",
      "f" -> Agg.lengthUnique(col("ticket")),
      "m" -> Agg.maximum(col("date")),
      "a" -> Agg.sum(col("paid"))).df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        math.round(r.getDouble(3) * 10) / 10.0)).sorted.toSeq
    assert(got == Seq((1L, 2L, 37600L, 128.2), (2L, 2L, 36000L, 53.5)))
  }

  test("intersect/except follow SQL distinct set semantics") {
    val a = Table(Seq(1L, 1L, 2L, 3L).toDF("k"))
    val b = Table(Seq(2L, 3L, 3L, 4L).toDF("k"))
    assert(a.intersect(b).df.collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(2L, 3L))
    assert(a.except(b).df.collect().map(_.getLong(0)).toSeq == Seq(1L))
    intercept[IllegalArgumentException] {
      a.intersect(Table(Seq(("x", 1)).toDF("a", "b")))
    }
  }

  test("bloom prefilter: no false negatives, high selectivity, exact after join") {
    import graft.operators.Prune
    val dim = (1L to 50L).map(i => i * 997L).toDF("k")
    val fact = (1L to 50000L).toDF("fk")
    val bloom = Prune.buildBloom(dim, $"k", numBits = 1 << 16)
    val kept = fact.filter(Prune.mightContain(bloom, $"fk"))
      .collect().map(_.getLong(0)).toSet
    // every true key whose value is in fact's range survives
    val trueKeys = (1L to 50L).map(_ * 997L).filter(_ <= 50000L).toSet
    assert(trueKeys.subsetOf(kept), "bloom dropped a true key")
    // false-positive rate stays near the theoretical ~ (kn/m)^k
    assert(kept.size < trueKeys.size + 500, s"kept ${kept.size}")
  }

  test("melt is pivot's inverse: wide measures to (variable, value) rows") {
    val wide = Seq((1L, 10.0, 0.5), (2L, 20.0, 0.25))
      .toDF("id", "qty", "disc")
    val long = Table(wide).melt(Seq("id"), Seq("qty", "disc")).df
    assert(long.columns.toSeq == Seq("id", "variable", "value"))
    val got = long.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(got == Set((1L, "qty", 10.0), (1L, "disc", 0.5),
      (2L, "qty", 20.0), (2L, "disc", 0.25)))
  }

  test("checkpoint truncates lineage; Young's interval gates it (checkpoint.jl:179)") {
    spark.sparkContext.setCheckpointDir(scratchDir("graft_ckpt").toString)
    // interval = sqrt(2 · cost · mttf)
    assert(math.abs(Table.youngInterval(0.5, 100.0) - 10.0) < 1e-9)
    // elapsed past the interval → checkpointed (lineage becomes an RDD scan)
    val due = t1.checkpointIfDue(11.0, 0.5, 100.0)
    assert(due.df.queryExecution.analyzed.toString.contains("LogicalRDD"))
    assert(due.df.count() == 5)
    // not yet due → plan untouched
    val notDue = t1.checkpointIfDue(9.0, 0.5, 100.0)
    assert(!notDue.df.queryExecution.analyzed.toString.contains("LogicalRDD"))
  }

  test("sort + limit top-k is deterministic with key tiebreak") {
    val got = t1.sort(col("val2").desc, col("userid").asc).limit(2).df
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(1L, 3L)) // val2 3.2 then 3.1
  }

  test("rollup emits group rows, per-key subtotals, and a grand total") {
    import spark.implicits._
    val df = Table(Seq(("a", "x", 1L), ("a", "y", 2L), ("b", "x", 4L))
      .toDF("k1", "k2", "v"))
    val got = df.rollup(Seq("k1", "k2"), "s" -> Agg.sum(col("v"))).df
      .collect()
      .map(r => (Option(r.getString(0)), Option(r.getString(1)), r.getLong(2)))
      .toSet
    assert(got == Set(
      (Some("a"), Some("x"), 1L), (Some("a"), Some("y"), 2L),
      (Some("b"), Some("x"), 4L),
      (Some("a"), None, 3L), (Some("b"), None, 4L),
      (None, None, 7L)))
  }

  test("joinSalted returns exactly the plain-join result, dup keys included") {
    import spark.implicits._
    val l = Table(Seq((1L, 10.0), (2L, 20.0), (3L, 30.0), (1L, 11.0))
      .toDF("k1", "lv"))
    val r = Table(Seq((1L, "a"), (3L, "c"), (1L, "a2")).toDF("k2", "rv"))
    def rows(t: Table) = t.df.select("k", "lv", "rv")
      .collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
    assert(rows(l.joinSalted(r, "k1", "k2", "k", factor = 4)) ==
      rows(l.join(r, "k1", "k2", "k")))
  }

  test("joinOuter: key coalesced USING-style, schema [keys; left; right]") {
    import spark.implicits._
    val l = Table(Seq((1L, 10.0), (2L, 20.0)).toDF("lk", "lv"))
    val r = Table(Seq((2L, "b"), (3L, "c")).toDF("rk", "rv"))
    def rows(how: String) = {
      val t = l.joinOuter(r, Seq("lk"), Seq("rk"), Seq("k"), how)
      assert(t.df.columns.toSeq == Seq("k", "lv", "rv"))
      t.df.collect()
        .map(x => (x.getLong(0), Option(x.get(1)), Option(x.get(2)))).toSet
    }
    // left: unmatched left rows null-extend the right payload
    assert(rows("left") ==
      Set((1L, Some(10.0), None), (2L, Some(20.0), Some("b"))))
    // right: unmatched right rows keep the key via coalesce
    assert(rows("right") ==
      Set((2L, Some(20.0), Some("b")), (3L, None, Some("c"))))
    // full: both sides survive
    assert(rows("full") == Set((1L, Some(10.0), None),
      (2L, Some(20.0), Some("b")), (3L, None, Some("c"))))
  }

  test("imputeGroupQuantile fills nulls with the group median, flags them") {
    import spark.implicits._
    import graft.operators.Clean
    // group a: observed {1,2,9} -> lower median 2; group b: all null
    val df = Seq(("a", Some(9.0)), ("a", None), ("a", Some(1.0)),
      ("a", Some(2.0)), ("b", None)).toDF("g", "v")
    val got = Clean.imputeGroupQuantile(df, "g", "v", permille = 500)
      .select("g", "v_filled", "v_was_null")
      .collect().map(r => (r.getString(0), Option(r.get(1)), r.getBoolean(2)))
    assert(got.count(x => x._1 == "a" && x._2 == Some(2.0) && x._3) == 1)
    assert(got.filter(x => x._1 == "a" && !x._3).map(_._2).toSet ==
      Set(Some(1.0), Some(2.0), Some(9.0)))
    // a group with no observed values keeps its null (left-join path)
    assert(got.filter(_._1 == "b").toSeq == Seq(("b", None, true)))

    // dropNulls is the conjunction filter
    val kept = Clean.dropNulls(df, Seq("g", "v")).count()
    assert(kept == 3L)
  }

  test("winsorizeByGroup clips at exact per-group rank quantiles") {
    import spark.implicits._
    import graft.operators.Clean
    // group a: 1..10 → p200 cut = 2, p800 cut = 8 (ceil-rank selection);
    // group b: constant, nothing clips
    val df = ((1 to 10).map(i => ("a", i.toDouble)) ++
      Seq(("b", 5.0), ("b", 5.0))).toDF("g", "v")
    val out = Clean.winsorizeByGroup(df, "g", "v",
        loPermille = 200, hiPermille = 800)
      .select("g", "v", "v_clipped", "v_clipped_lo", "v_clipped_hi")
      .collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2),
        r.getBoolean(3), r.getBoolean(4)))
    val a = out.filter(_._1 == "a")
    assert(a.filter(_._4).map(_._2).toSet == Set(1.0)) // below p20
    assert(a.filter(_._5).map(_._2).toSet == Set(9.0, 10.0)) // above p80
    assert(a.map(_._3).toSet == (2 to 8).map(_.toDouble).toSet)
    assert(out.filter(_._1 == "b").forall(x =>
      x._3 == 5.0 && !x._4 && !x._5))
    // a null value stays null (greatest/least skip nulls — unguarded,
    // the clip would fabricate the hi cut), flags false
    val nullRows = ((1 to 10).map(i => ("a", Some(i.toDouble))) :+
      ("a", None: Option[Double])).toDF("g", "v")
    val withNull = Clean.winsorizeByGroup(nullRows, "g", "v", 200, 800)
      .filter(col("v").isNull)
      .select("v_clipped", "v_clipped_lo", "v_clipped_hi").collect()
    assert(withNull.length == 1 && withNull.head.isNullAt(0) &&
      !withNull.head.getBoolean(1) && !withNull.head.getBoolean(2))
    // the clip is broadcast-joined: no exchange of the fact side beyond
    // the quantile passes themselves
    val plan = Clean.winsorizeByGroup(df, "g", "v")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }
}
