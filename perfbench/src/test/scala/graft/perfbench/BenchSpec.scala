package graft.perfbench

import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  private val rows = (1 to 200).map(i =>
    Row(i.toLong, s"name $i", i * 0.1, Seq(i, i + 1), Row(i % 3, null)))

  test("fingerprint does not depend on row order or partitioning") {
    val order = Seq(0, 1, 2, 3, 4)
    val whole = Fingerprint.ofRows(rows.iterator, order)
    val shuffled = new Random(7).shuffle(rows)
    val parts = shuffled.grouped(37).map(p => Fingerprint.ofRows(p.iterator, order))
    assert(parts.foldLeft(Fingerprint.Zero)(_ + _) == whole)
    assert(whole.rows == 200)
  }

  test("fingerprint sees a changed, missing or duplicated row") {
    val order = Seq(0, 1, 2, 3, 4)
    val base = Fingerprint.ofRows(rows.iterator, order)
    val changed = rows.updated(5, Row(6L, "name 6", 0.7, Seq(6, 7), Row(0, null)))
    assert(Fingerprint.ofRows(changed.iterator, order) != base)
    assert(Fingerprint.ofRows(rows.tail.iterator, order) != base)
    val dup = rows.updated(1, rows.head)
    assert(Fingerprint.ofRows(dup.iterator, order).hash != base.hash)
  }

  test("doubles are compared at the fingerprint's precision") {
    assert(Fingerprint.canon(0.1 + 0.2) == Fingerprint.canon(0.3))
    assert(Fingerprint.canon(-0.0) == Fingerprint.canon(0.0))
    assert(Fingerprint.canon(1.0000001) != Fingerprint.canon(1.0))
    assert(Fingerprint.canon(1.0f) == Fingerprint.canon(1.0))
  }

  test("per-layer names match BENCHMARK.json") {
    val spec = new ObjectMapper().readTree(new java.io.File("../BENCHMARK.json"))
    val names = (0 until spec.get("per_layer").size)
      .map(i => spec.get("per_layer").get(i).get("name").asText)
    assert(names == Layers.names)
  }
}
