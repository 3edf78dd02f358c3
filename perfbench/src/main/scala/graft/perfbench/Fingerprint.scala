package graft.perfbench

import java.math.{MathContext, BigDecimal => JBigDecimal}

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row}

/** Order-independent fingerprint of a query result: the row count plus
  * the sum (mod 2^64) of a 64-bit hash of each row's canonical text.
  * Columns are taken in name order and doubles are rounded to
  * [[Digits]] significant digits, so the value depends neither on
  * partitioning, row order nor the last bits of a floating-point sum. */
object Fingerprint {
  val Digits = 9
  private val ctx = new MathContext(Digits)

  final case class Value(rows: Long, hash: Long) {
    def +(o: Value): Value = Value(rows + o.rows, hash + o.hash)
    def hex: String = f"$hash%016x"
  }
  val Zero: Value = Value(0L, 0L)

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new JBigDecimal(d).round(ctx).stripTrailingZeros.toString

  def canon(v: Any): String = v match {
    case null => "null"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case b: JBigDecimal => b.stripTrailingZeros.toString
    case b: BigDecimal => b.bigDecimal.stripTrailingZeros.toString
    case t: java.sql.Timestamp => s"ts:${t.getTime / 1000}:${t.getNanos}"
    case t: java.time.Instant => s"ts:${t.getEpochSecond}:${t.getNano}"
    case a: Array[Byte] => a.map(b => f"$b%02x").mkString("0x", "", "")
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }
        .sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case x => x.toString
  }

  /** Fingerprint of rows whose fields are read in `order`. */
  def ofRows(rows: Iterator[Row], order: Seq[Int]): Value =
    rows.foldLeft(Zero) { (acc, r) =>
      val s = order.map(i => canon(r.get(i))).mkString("|")
      acc + Value(1L, (MurmurHash3.stringHash(s, 0x5eed).toLong << 32) |
        (MurmurHash3.stringHash(s, 0x0b5e) & 0xffffffffL))
    }

  /** Fingerprint of a result, computed on the executors. */
  def of(df: DataFrame): Value = {
    val order = df.columns.zipWithIndex.sortBy(_._1).map(_._2).toSeq
    df.rdd.mapPartitions(it => Iterator(ofRows(it, order)))
      .collect().foldLeft(Zero)(_ + _)
  }
}
