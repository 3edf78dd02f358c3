package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Scratch

/** Shared single session per JVM (suites run in one forked JVM). */
object TestSpark {
  /** Fixed at 4 cores: specs must not follow `SPARK_GRAFT_CPUS`. */
  lazy val spark: SparkSession = Session(4, Map(
    "spark.app.name" -> "graft-test",
    "spark.sql.warehouse.dir" -> Scratch.path("warehouse")))
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  /** A fresh directory under the run's scratch root, deleted with it
    * when the JVM exits. */
  def scratchDir(prefix: String): Path =
    Files.createTempDirectory(Scratch.root, prefix)

  /** Run `body` with the given session confs set, restoring each
    * previous value (or unsetting it) afterwards — the session is
    * shared by every suite. */
  def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val prior = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
