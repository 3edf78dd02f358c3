package graft

import org.apache.spark.sql.functions._

import graft.operators.{Checkpointing, Table}
import graft.sources.Scratch

/** Restart-path demonstration — the reference's `func_restart`
  * (/root/reference/src/HPAT.jl:310-328): a mid-loop failure resumes
  * from the last complete save, and a reliable checkpoint survives the
  * death of its source lineage. */
class CheckpointingSpec extends SparkSpec {
  import spark.implicits._

  private lazy val root = scratchDir("graft_ckpt_spec_")

  /** `root/tag`, emptied of what an earlier use left there. */
  private def freshDir(tag: String): String = {
    val d = root.resolve(tag)
    Scratch.deleteRecursively(d)
    d.toString
  }

  // deterministic iterative step: v += iteration index + 1
  private def step(df: org.apache.spark.sql.DataFrame, i: Int) =
    df.withColumn("v", col("v") + lit((i + 1).toLong))

  test("resumableLoop: restart after mid-loop failure matches uninterrupted run") {
    val init = (1 to 10).map(i => (i.toLong, i.toLong)).toDF("id", "v")

    val expected = Checkpointing
      .resumableLoop(spark, freshDir("full"), totalIters = 6, every = 2)(init)(step)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

    // failing run: dies in iteration index 4 (after the save at iter 4)
    val dir = freshDir("crash")
    intercept[RuntimeException] {
      Checkpointing.resumableLoop(spark, dir, totalIters = 6, every = 2)(init) {
        (df, i) => if (i == 4) throw new RuntimeException("node lost") else step(df, i)
      }
    }
    assert(Checkpointing.restoreState(spark, dir).map(_._1).contains(4))

    // restart: init must NOT be re-evaluated (cold-start path only),
    // and only iterations 4 and 5 run
    var coldStarts = 0
    val ranIters = scala.collection.mutable.ListBuffer[Int]()
    val resumed = Checkpointing.resumableLoop(spark, dir, totalIters = 6, every = 2)(
      { coldStarts += 1; init }) {
      (df, i) => ranIters += i; step(df, i)
    }.orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(coldStarts == 0)
    assert(ranIters.toList == List(4, 5))
    assert(resumed == expected)
  }

  test("torn save is invisible: marker rename is last, restore sees previous state") {
    val dir = freshDir("torn")
    val init = Seq((1L, 100L)).toDF("id", "v")
    Checkpointing.saveState(init, dir, 3)
    // simulate a save killed after the parquet write, before the marker
    step(init, 7).write.mode("overwrite").parquet(s"$dir/state-8")
    val (iter, st) = Checkpointing.restoreState(spark, dir).get
    assert(iter == 3)
    assert(st.head().getLong(1) == 100L)
  }

  test("reliable checkpoint survives deletion of its source (lineage cut)") {
    spark.sparkContext.setCheckpointDir(scratchDir("graft_ckpt").toString)
    val src = freshDir("src")
    (1 to 100).map(i => (i.toLong, i * 2.0)).toDF("id", "x")
      .write.parquet(src)
    val ckpt = Table(spark.read.parquet(src).filter(col("id") <= 50))
      .checkpoint(eager = true)
    // kill the source: anything still reading it must fail...
    freshDir("src")
    intercept[Exception] {
      spark.read.parquet(src).count()
    }
    // ...but the checkpointed table recovers from checkpoint files alone
    assert(ckpt.df.count() == 50)
    assert(ckpt.df.agg(sum("x")).head().getDouble(0) == (1 to 50).map(_ * 2.0).sum)
  }
}
