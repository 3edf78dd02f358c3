package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression,
  UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression for cosine similarity over two
  * array<double> columns: one fused loop accumulating dot product and
  * both norms, with full whole-stage-codegen support.
  *
  * This replaces a three-fold `aggregate`/`zip_with` composition whose
  * lambdas Catalyst interprets (no codegen, per-element closure eval) —
  * the hot inner loop of pairwise near-dup and ANN scoring. Semantics
  * are IDENTICAL to the fold form: each accumulator sums in index
  * order, so results stay bit-exact against the DuckDB oracles.
  *
  * Element nulls are not supported (training-data embeddings are dense;
  * `containsNull` arrays would need a null-skip policy that no oracle
  * could mirror cheaply).
  */
case class CosineSimilarity(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) | ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects two array<double|float> arguments, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_cosine"

  // array<float> inputs are read with a per-ELEMENT widening ((double)
  // of each float — bit-identical to the Cast-to-array<double> it
  // replaces) instead of paying a per-ROW array allocation for the
  // cast. [[graft.plans.StripVectorCasts]] rewrites the cast away.
  private lazy val leftFloat = VectorKernels.isFloatArray(left.dataType)
  private lazy val rightFloat = VectorKernels.isFloatArray(right.dataType)

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xi = if (leftFloat) x.getFloat(i).toDouble else x.getDouble(i)
      val yi = if (rightFloat) y.getFloat(i).toDouble else y.getDouble(i)
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    dot / math.sqrt(na) / math.sqrt(nb)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      val gx = VectorKernels.getter(leftFloat, a, i)
      val gy = VectorKernels.getter(rightFloat, b, i)
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xi = $gx;
         |  double $yi = $gy;
         |  $dot += $xi * $yi; $na += $xi * $xi; $nb += $yi * $yi;
         |}
         |${ev.value} = $dot / java.lang.Math.sqrt($na) / java.lang.Math.sqrt($nb);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

/** Native squared euclidean distance over two array<double> columns —
  * one fused codegen'd loop, index-order accumulation (bit-exact
  * deterministic). The assignment kernel of the Lloyd k-means loop. */
case class SquaredDistance(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) | ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects two array<double|float> arguments, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_sqdist"

  private lazy val leftFloat = VectorKernels.isFloatArray(left.dataType)
  private lazy val rightFloat = VectorKernels.isFloatArray(right.dataType)

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      val xi = if (leftFloat) x.getFloat(i).toDouble else x.getDouble(i)
      val yi = if (rightFloat) y.getFloat(i).toDouble else y.getDouble(i)
      val d = xi - yi
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      val gx = VectorKernels.getter(leftFloat, a, i)
      val gy = VectorKernels.getter(rightFloat, b, i)
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $d = $gx - $gy;
         |  $acc += $d * $d;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SquaredDistance =
    copy(left = newLeft, right = newRight)
}

/** Native dot product over two array<double> columns — one codegen'd
  * loop accumulating in index order with a 0.0 seed, which is
  * bit-identical to the unrolled left-associated chain
  * `x₁w₁ + x₂w₂ + …` it replaces (IEEE: 0.0 + a == a): the
  * allreduce-loop kernels (logistic regression's margin) built that
  * chain as ~2·dim expression nodes PER ITERATION, so every iteration
  * re-paid Catalyst analysis/optimization over a ~190-node tree —
  * measured ~0.27 s of pure driver time per iteration at dim = 64,
  * data-size-independent. This node keeps the tree O(1).
  *
  * Kernel contract on ragged inputs (ADVICE r7): the loop runs to
  * min(|x|, |y|), i.e. a length-mismatched pair yields the TRUNCATED
  * dot product rather than null/error. Every in-repo caller feeds
  * fixed-dimension vectors (the weight vector is sized to the feature
  * dim by construction), so the branch is unreachable there; the
  * truncation is documented rather than guarded because a per-row
  * length check would cost a branch in the hot loop to defend a
  * malformed input no pipeline produces. */
case class DotProduct(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) | ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects two array<double|float> arguments, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  private lazy val leftFloat = VectorKernels.isFloatArray(left.dataType)
  private lazy val rightFloat = VectorKernels.isFloatArray(right.dataType)

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      val xi = if (leftFloat) x.getFloat(i).toDouble else x.getDouble(i)
      val yi = if (rightFloat) y.getFloat(i).toDouble else y.getDouble(i)
      acc += xi * yi
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val gx = VectorKernels.getter(leftFloat, a, i)
      val gy = VectorKernels.getter(rightFloat, b, i)
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $gx * $gy;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Element-wise scale of an array<double> by a double scalar —
  * `[x₁·s, …, x_d·s]`, each product the same IEEE multiply the
  * unrolled `array(x₁·s, …)` projection produced (bit-identical), in
  * one codegen'd loop writing a primitive double[] (no per-element
  * boxing, O(1) expression tree instead of ~2·dim nodes). The
  * gradient-scaling kernel feeding the exact vector sum. */
case class ScaleArray(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val arrOk = left.dataType match {
      case ArrayType(DoubleType, _) | ArrayType(FloatType, _) => true
      case _ => false
    }
    if (arrOk && right.dataType == DoubleType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (array<double|float>, double), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "graft_scale"

  private lazy val leftFloat = VectorKernels.isFloatArray(left.dataType)

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val s = b.asInstanceOf[Double]
    val n = x.numElements()
    val out = new Array[Double](n)
    var i = 0
    while (i < n) {
      val xi = if (leftFloat) x.getFloat(i).toDouble else x.getDouble(i)
      out(i) = xi * s
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val out = ctx.freshName("out")
      val gx = VectorKernels.getter(leftFloat, a, i)
      s"""
         |int $n = $a.numElements();
         |double[] $out = new double[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  $out[$i] = $gx * $b;
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions
         |  .UnsafeArrayData.fromPrimitiveArray($out);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ScaleArray =
    copy(left = newLeft, right = newRight)
}

/** Nearest-centroid assignment: index of the centroid (rows of `cents`)
  * with minimal squared euclidean distance to the input array<double>,
  * ties to the smaller index. The centroid matrix rides in the codegen
  * references array (`addReferenceObj`), so the generated source is
  * IDENTICAL across Lloyd iterations — one Janino compile for the whole
  * loop — and the k-way scan fuses into one per-row loop with no join,
  * no explode, no per-row allocation. */
case class NearestCell(child: Expression, cents: Array[Array[Double]])
  extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) | ArrayType(FloatType, _)
      if cents.nonEmpty =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<double|float> input and a non-empty " +
        "centroid matrix")
  }
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def prettyName: String = "graft_nearest_cell"

  private lazy val inFloat = VectorKernels.isFloatArray(child.dataType)

  override protected def nullSafeEval(input: Any): Any = {
    val x = input.asInstanceOf[ArrayData]
    var best = -1
    var bd = Double.PositiveInfinity
    var j = 0
    while (j < cents.length) {
      val c = cents(j)
      val n = math.min(x.numElements(), c.length)
      var acc = 0.0
      var i = 0
      while (i < n) {
        val xi = if (inFloat) x.getFloat(i).toDouble else x.getDouble(i)
        val d = xi - c(i)
        acc += d * d
        i += 1
      }
      if (acc < bd) { bd = acc; best = j }
      j += 1
    }
    DistanceEvalCounter.add(cents.length.toLong)
    best
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("cents", cents, "double[][]")
    nullSafeCodeGen(ctx, ev, a => {
      val j = ctx.freshName("j")
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      val bd = ctx.freshName("bd")
      val best = ctx.freshName("best")
      val c = ctx.freshName("c")
      val gx = VectorKernels.getter(inFloat, a, i)
      s"""
         |int $best = -1; double $bd = Double.POSITIVE_INFINITY;
         |for (int $j = 0; $j < $m.length; $j++) {
         |  double[] $c = $m[$j];
         |  int $n = java.lang.Math.min($a.numElements(), $c.length);
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $d = $gx - $c[$i];
         |    $acc += $d * $d;
         |  }
         |  if ($acc < $bd) { $bd = $acc; $best = $j; }
         |}
         |graft.functions.DistanceEvalCounter.add((long) $m.length);
         |${ev.value} = $best;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(c: Expression): NearestCell =
    copy(child = c)
}

/** Two-level nearest-cell assignment — the O(√k)-per-row kernel that
  * makes the corpus-adaptive IVF build scale-safe. Instead of scanning
  * all k cell centroids ([[NearestCell]] — Θ(n·k) over a corpus whose
  * index sizes k ∝ n), each row:
  *   1. scans the `supers` matrix (√k-ish rows), restricted to supers
  *      that have at least one member cell, picking the nearest
  *      (ties → smaller super index);
  *   2. scans only that super's member cells (`members(s)` — ascending
  *      global cell ids into `cells`), picking the nearest
  *      (ties → smaller cell id).
  * Same fused squared-euclidean loop, same index-order accumulation
  * and strict-< tie-keep as [[NearestCell]], so every pick is
  * bit-deterministic and mirrored by a two-stage ROW_NUMBER in the
  * DuckDB oracles. The assignment is hierarchical-approximate by
  * design (the globally nearest cell can live under a different
  * super) — exactly the FAISS residual-free coarse-assignment
  * contract; both engines replay the same approximation.
  *
  * All three matrices ride in the codegen references array: generated
  * source is identical across Lloyd iterations (one Janino compile per
  * build). Per-row work is tallied in [[DistanceEvalCounter]]. */
case class NearestCellHier(child: Expression,
                           supers: Array[Array[Double]],
                           cells: Array[Array[Double]],
                           members: Array[Array[Int]])
  extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) | ArrayType(FloatType, _)
      if supers.nonEmpty && cells.nonEmpty && members.length == supers.length &&
        members.exists(_.nonEmpty) =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<double|float> input, non-empty super/cell " +
        "matrices, and a members table with at least one populated super")
  }
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def prettyName: String = "graft_nearest_cell_hier"

  private lazy val inFloat = VectorKernels.isFloatArray(child.dataType)

  override protected def nullSafeEval(input: Any): Any = {
    val x = input.asInstanceOf[ArrayData]
    var bestS = -1
    var bd = Double.PositiveInfinity
    var work = 0L
    var s = 0
    while (s < supers.length) {
      if (members(s).length > 0) {
        val c = supers(s)
        val n = math.min(x.numElements(), c.length)
        var acc = 0.0
        var i = 0
        while (i < n) {
          val xi = if (inFloat) x.getFloat(i).toDouble else x.getDouble(i)
          val d = xi - c(i)
          acc += d * d
          i += 1
        }
        if (acc < bd) { bd = acc; bestS = s }
        work += 1
      }
      s += 1
    }
    val mem = members(bestS)
    var best = -1
    bd = Double.PositiveInfinity
    var j = 0
    while (j < mem.length) {
      val c = cells(mem(j))
      val n = math.min(x.numElements(), c.length)
      var acc = 0.0
      var i = 0
      while (i < n) {
        val xi = if (inFloat) x.getFloat(i).toDouble else x.getDouble(i)
        val d = xi - c(i)
        acc += d * d
        i += 1
      }
      if (acc < bd) { bd = acc; best = mem(j) }
      j += 1
    }
    DistanceEvalCounter.add(work + mem.length)
    best
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val sm = ctx.addReferenceObj("supers", supers, "double[][]")
    val cm = ctx.addReferenceObj("cells", cells, "double[][]")
    val mm = ctx.addReferenceObj("members", members, "int[][]")
    nullSafeCodeGen(ctx, ev, a => {
      val s = ctx.freshName("s")
      val j = ctx.freshName("j")
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      val bd = ctx.freshName("bd")
      val bestS = ctx.freshName("bestS")
      val best = ctx.freshName("best")
      val c = ctx.freshName("c")
      val mem = ctx.freshName("mem")
      val work = ctx.freshName("work")
      val gx = VectorKernels.getter(inFloat, a, i)
      s"""
         |int $bestS = -1; double $bd = Double.POSITIVE_INFINITY;
         |long $work = 0L;
         |for (int $s = 0; $s < $sm.length; $s++) {
         |  if ($mm[$s].length == 0) continue;
         |  double[] $c = $sm[$s];
         |  int $n = java.lang.Math.min($a.numElements(), $c.length);
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $d = $gx - $c[$i];
         |    $acc += $d * $d;
         |  }
         |  if ($acc < $bd) { $bd = $acc; $bestS = $s; }
         |  $work++;
         |}
         |int[] $mem = $mm[$bestS];
         |int $best = -1; $bd = Double.POSITIVE_INFINITY;
         |for (int $j = 0; $j < $mem.length; $j++) {
         |  double[] $c = $cm[$mem[$j]];
         |  int $n = java.lang.Math.min($a.numElements(), $c.length);
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $d = $gx - $c[$i];
         |    $acc += $d * $d;
         |  }
         |  if ($acc < $bd) { $bd = $acc; $best = $mem[$j]; }
         |}
         |graft.functions.DistanceEvalCounter.add($work + (long) $mem.length);
         |${ev.value} = $best;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(c: Expression): NearestCellHier =
    copy(child = c)
}

/** Process-wide tally of centroid distance evaluations performed by the
  * assignment kernels ([[NearestCell]], [[NearestCellHier]]) — one unit
  * per (row, centroid) pair scanned. This is the instrument behind the
  * index-build scaling law (SimilaritySpec): wall time at toy corpus
  * sizes is dominated by fixed overheads and cannot distinguish an
  * O(n·√k) build from an O(n·k) one, but the distance-eval count can.
  * A `LongAdder` keeps the per-row cost to one striped add (~ns against
  * the 64-dim flop loop it counts). Local-mode exact; in a cluster it
  * tallies per-executor (diagnostic only — never read by a query). */
object DistanceEvalCounter {
  private val n = new java.util.concurrent.atomic.LongAdder
  def add(k: Long): Unit = n.add(k)
  def get: Long = n.sum()
  def reset(): Unit = n.reset()
}

/** Static kernels for the probe-side cell picks, shared by the
  * interpreted and codegen'd paths (object = static forwarders
  * callable from generated Java). Selection semantics are BIT-IDENTICAL
  * to the higher-order-function formulation they replace
  * (`array_sort(transform(...))` with a (score desc, index asc)
  * comparator): same index-order cosine accumulation, same strict->
  * comparisons, same tie-break — so the SQL oracles that replay the
  * pick with ROW_NUMBER over the same scores are unaffected. */
object VectorKernels {

  /** True iff `t` is array<float> — the raw embedding storage type.
    * Kernels read float elements with per-element (double) widening,
    * bit-identical to the array-allocating Cast they replace. */
  def isFloatArray(t: DataType): Boolean = t match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  /** Generated-Java element accessor for an ArrayData variable, widened
    * to double ((double) of a float equals Cast's per-element result). */
  def getter(isFloat: Boolean, arr: String, idx: String): String =
    if (isFloat) s"(double) $arr.getFloat($idx)" else s"$arr.getDouble($idx)"

  private def cosine(x: ArrayData, xFloat: Boolean,
                     c: Array[Double]): Double = {
    val n = math.min(x.numElements(), c.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xi = if (xFloat) x.getFloat(i).toDouble else x.getDouble(i)
      val ci = c(i)
      dot += xi * ci; na += xi * xi; nb += ci * ci
      i += 1
    }
    dot / math.sqrt(na) / math.sqrt(nb)
  }

  /** Insert (score, id) into the bounded best-list `(scores, ids)` of
    * current size `size` capped at `cap`, ordered score DESC then id
    * ASC with strict-> comparisons — the comparator the HOF pick used.
    * Returns the new size. */
  private def insertTop(scores: Array[Double], ids: Array[Int],
                        size: Int, cap: Int, s: Double, id: Int): Int = {
    var pos = size
    while (pos > 0 && {
      val ps = scores(pos - 1)
      // new entry ranks before pos-1 iff s > ps, or neither strictly
      // greater (tie / NaN pair) and id is smaller
      if (s > ps) true
      else if (ps > s) false
      else id < ids(pos - 1)
    }) pos -= 1
    if (pos >= cap) return size
    val last = math.min(size, cap - 1)
    var m = last
    while (m > pos) {
      scores(m) = scores(m - 1); ids(m) = ids(m - 1)
      m -= 1
    }
    scores(pos) = s; ids(pos) = id
    math.min(size + 1, cap)
  }

  /** Two-level probe-cell pick: score ALL super-centroids (empty ones
    * too — they rank but contribute no cells, exactly like the HOF
    * form's `coalesce(element_at(...), empty)`), open the top `nsp`,
    * score only their member cells, return the top `nprobe` cell ids.
    * O(√k + nsp·√k) cosines per row, one small int[] allocation. */
  def hierProbeCells(x: ArrayData, xFloat: Boolean,
                     supers: Array[Array[Double]],
                     cells: Array[Array[Double]], members: Array[Array[Int]],
                     nsp: Int, nprobe: Int): Array[Int] = {
    val nS = supers.length
    val capS = math.min(nsp, nS)
    val sScores = new Array[Double](capS)
    val sIds = new Array[Int](capS)
    var sSize = 0
    var s = 0
    while (s < nS) {
      sSize = insertTop(sScores, sIds, sSize, capS,
        cosine(x, xFloat, supers(s)), s)
      s += 1
    }
    val cScores = new Array[Double](nprobe)
    val cIds = new Array[Int](nprobe)
    var cSize = 0
    var work = nS.toLong
    var t = 0
    while (t < sSize) {
      val mem = members(sIds(t))
      var j = 0
      while (j < mem.length) {
        val cell = mem(j)
        cSize = insertTop(cScores, cIds, cSize, nprobe,
          cosine(x, xFloat, cells(cell)), cell)
        j += 1
      }
      work += mem.length
      t += 1
    }
    DistanceEvalCounter.add(work)
    java.util.Arrays.copyOf(cIds, cSize)
  }

  /** Flat probe-cell pick: score every cell centroid, return the top
    * `nprobe` cell ids — the [[HierProbeCells]] selection without the
    * coarse layer (the knnJoinIvf shape, O(k) per row by design). */
  def probeCells(x: ArrayData, xFloat: Boolean,
                 cents: Array[Array[Double]], nprobe: Int): Array[Int] = {
    val scores = new Array[Double](nprobe)
    val ids = new Array[Int](nprobe)
    var size = 0
    var j = 0
    while (j < cents.length) {
      size = insertTop(scores, ids, size, nprobe,
        cosine(x, xFloat, cents(j)), j)
      j += 1
    }
    DistanceEvalCounter.add(cents.length.toLong)
    java.util.Arrays.copyOf(ids, size)
  }
}

/** The kNN-graph probe pick as ONE codegen'd kernel: top-`nprobe`
  * probe cells through the super layer, replacing an interpreted
  * `array_sort(transform(...))` pipeline that allocated and
  * lambda-sorted ~nsp·√k struct elements PER QUERY ROW (measured 98%
  * of `knnJoinHier`'s wall time at a 200k-vector corpus — the
  * candidate join + bounded heap over the same probes cost 0.65 s
  * where the HOF pick cost ~30 s). Matrices ride in the codegen
  * references array; per-row work is one static call, tallied in
  * [[DistanceEvalCounter]]. */
case class HierProbeCells(child: Expression,
                          supers: Array[Array[Double]],
                          cells: Array[Array[Double]],
                          members: Array[Array[Int]],
                          nsp: Int, nprobe: Int)
  extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) | ArrayType(FloatType, _)
      if supers.nonEmpty && cells.nonEmpty &&
        members.length == supers.length && nsp >= 1 && nprobe >= 1 =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<double|float> input, non-empty " +
        "super/cell matrices, a members table aligned to the supers, " +
        "and positive nsp/nprobe")
  }
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.IntegerType, containsNull = false)
  override def prettyName: String = "graft_hier_probe_cells"

  private lazy val inFloat = VectorKernels.isFloatArray(child.dataType)

  override protected def nullSafeEval(input: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      VectorKernels.hierProbeCells(input.asInstanceOf[ArrayData], inFloat,
        supers, cells, members, nsp, nprobe))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val sm = ctx.addReferenceObj("supers", supers, "double[][]")
    val cm = ctx.addReferenceObj("cells", cells, "double[][]")
    val mm = ctx.addReferenceObj("members", members, "int[][]")
    val gad = classOf[org.apache.spark.sql.catalyst.util.GenericArrayData].getName
    nullSafeCodeGen(ctx, ev, a =>
      s"""
         |${ev.value} = new $gad(graft.functions.VectorKernels
         |  .hierProbeCells($a, $inFloat, $sm, $cm, $mm, $nsp, $nprobe));
       """.stripMargin)
  }

  override protected def withNewChildInternal(c: Expression): HierProbeCells =
    copy(child = c)
}

/** Flat top-`nprobe` probe-cell pick over the full centroid matrix —
  * the [[HierProbeCells]] machinery for the single-level
  * `knnJoinIvf` (O(k) per row by design; the hier pick is the scale
  * path once k ∝ corpus). */
case class ProbeCells(child: Expression, cents: Array[Array[Double]],
                      nprobe: Int)
  extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) | ArrayType(FloatType, _)
      if cents.nonEmpty && nprobe >= 1 =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<double|float> input, a non-empty " +
        "centroid matrix, and positive nprobe")
  }
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.IntegerType, containsNull = false)
  override def prettyName: String = "graft_probe_cells"

  private lazy val inFloat = VectorKernels.isFloatArray(child.dataType)

  override protected def nullSafeEval(input: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      VectorKernels.probeCells(input.asInstanceOf[ArrayData], inFloat,
        cents, nprobe))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cm = ctx.addReferenceObj("cents", cents, "double[][]")
    val gad = classOf[org.apache.spark.sql.catalyst.util.GenericArrayData].getName
    nullSafeCodeGen(ctx, ev, a =>
      s"""
         |${ev.value} = new $gad(graft.functions.VectorKernels
         |  .probeCells($a, $inFloat, $cm, $nprobe));
       """.stripMargin)
  }

  override protected def withNewChildInternal(c: Expression): ProbeCells =
    copy(child = c)
}

/** Dense `bs×bs` block multiply `X·Y` of two row-major flattened
  * array<double> blocks — the local BLAS-3 kernel of
  * [[graft.operators.Gemm.multiplyBlocked]]. Loop order (r, k, c) with
  * the zero-skip on x[r,k]; for finite inputs the result is identical
  * to the unskipped fold in ascending k, which is what the DuckDB
  * oracle mirrors. Codegen'd: no Seq boxing of the (at bs=128)
  * 16k-element operand arrays that a Scala UDF would pay. */
case class BlockMultiply(left: Expression, right: Expression, bs: Int)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects two array<double>, got " +
          s"${l.simpleString}, ${r.simpleString}")
    }
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "graft_block_multiply"

  override protected def nullSafeEval(xa: Any, ya: Any): Any = {
    val x = xa.asInstanceOf[ArrayData]
    val y = ya.asInstanceOf[ArrayData]
    val out = new Array[Double](bs * bs)
    var r = 0
    while (r < bs) {
      var k = 0
      while (k < bs) {
        val xv = x.getDouble(r * bs + k)
        if (xv != 0.0) {
          val rowOff = r * bs; val kOff = k * bs
          var c = 0
          while (c < bs) {
            out(rowOff + c) += xv * y.getDouble(kOff + c)
            c += 1
          }
        }
        k += 1
      }
      r += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val gad = classOf[org.apache.spark.sql.catalyst.util.GenericArrayData].getName
      val out = ctx.freshName("out")
      val r = ctx.freshName("r")
      val k = ctx.freshName("k")
      val c = ctx.freshName("c")
      val xv = ctx.freshName("xv")
      s"""
         |double[] $out = new double[${bs * bs}];
         |for (int $r = 0; $r < $bs; $r++) {
         |  for (int $k = 0; $k < $bs; $k++) {
         |    double $xv = $x.getDouble($r * $bs + $k);
         |    if ($xv != 0.0) {
         |      for (int $c = 0; $c < $bs; $c++) {
         |        $out[$r * $bs + $c] += $xv * $y.getDouble($k * $bs + $c);
         |      }
         |    }
         |  }
         |}
         |${ev.value} = new $gad($out);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): BlockMultiply = copy(left = l, right = r)
}

object VectorFunctions {
  /** Column-API entry for [[CosineSimilarity]]; accepts array<float>
    * via an explicit (codegen'd, exact) cast. */
  def cosine(a: Column, b: Column): Column =
    Bridge.column(CosineSimilarity(
      Bridge.expression(a.cast("array<double>")),
      Bridge.expression(b.cast("array<double>"))))

  /** Column-API entry for [[SquaredDistance]]. */
  def sqDist(a: Column, b: Column): Column =
    Bridge.column(SquaredDistance(
      Bridge.expression(a.cast("array<double>")),
      Bridge.expression(b.cast("array<double>"))))

  /** Column-API entry for [[DotProduct]]. */
  def dot(a: Column, b: Column): Column =
    Bridge.column(DotProduct(
      Bridge.expression(a.cast("array<double>")),
      Bridge.expression(b.cast("array<double>"))))

  /** DuckDB mirror of [[dot]]: per-element double cast, double
    * products, strict left-to-right reduction. */
  def dotSql(a: String, b: String): String =
    s"""list_reduce(list_transform(list_zip($a, $b),
       | p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)),
       | (acc, v) -> acc + v)""".stripMargin

  /** Bit-exact DuckDB mirror of [[cosine]]: dot/sqrt(na)/sqrt(nb) over
    * [[dotSql]]. */
  def cosineSql(a: String, b: String): String =
    s"${dotSql(a, b)} / sqrt(${dotSql(a, a)}) / sqrt(${dotSql(b, b)})"

  /** DuckDB mirror of [[sqDist]] with the kernel's exact op order — also
    * the NearestCell assignment distance. */
  def squaredDistanceSql(x: String, c: String): String =
    s"""list_reduce(list_transform(list_zip($x, $c),
       | p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
       |    * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))),
       | (a, b) -> a + b)""".stripMargin

  /** Column-API entry for [[ScaleArray]]. */
  def scale(a: Column, s: Column): Column =
    Bridge.column(ScaleArray(
      Bridge.expression(a.cast("array<double>")),
      Bridge.expression(s.cast("double"))))

  /** Column-API entry for [[NearestCell]]. */
  def nearestCell(a: Column, cents: Array[Array[Double]]): Column =
    Bridge.column(NearestCell(
      Bridge.expression(a.cast("array<double>")), cents))

  /** Column-API entry for [[NearestCellHier]]. */
  def nearestCellHier(a: Column, supers: Array[Array[Double]],
                      cells: Array[Array[Double]],
                      members: Array[Array[Int]]): Column =
    Bridge.column(NearestCellHier(
      Bridge.expression(a.cast("array<double>")), supers, cells, members))

  /** Column-API entry for [[HierProbeCells]]. */
  def hierProbeCells(a: Column, supers: Array[Array[Double]],
                     cells: Array[Array[Double]],
                     members: Array[Array[Int]],
                     nsp: Int, nprobe: Int): Column =
    Bridge.column(HierProbeCells(
      Bridge.expression(a.cast("array<double>")), supers, cells, members,
      nsp, nprobe))

  /** Column-API entry for [[ProbeCells]]. */
  def probeCells(a: Column, cents: Array[Array[Double]],
                 nprobe: Int): Column =
    Bridge.column(ProbeCells(
      Bridge.expression(a.cast("array<double>")), cents, nprobe))

  /** Column-API entry for [[BlockMultiply]]. */
  def blockMultiply(x: Column, y: Column, bs: Int): Column =
    Bridge.column(BlockMultiply(
      Bridge.expression(x.cast("array<double>")),
      Bridge.expression(y.cast("array<double>")), bs))
}
