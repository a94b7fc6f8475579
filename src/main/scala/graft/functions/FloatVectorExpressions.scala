package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType}

/** Dot product of two ARRAY<FLOAT> columns, accumulated in double — a
  * native Catalyst expression with whole-stage codegen (`doGenCode` emits a
  * tight primitive loop over the two ArrayData buffers).
  *
  * Why not `zip_with` + `aggregate`: Spark's higher-order functions
  * evaluate their lambda per element through an interpreted closure and
  * allocate an intermediate array — fine for correctness, but the cosine
  * hot path over 64-dim embeddings (millions of pairs in a similarity
  * self-join; billions at 100 TB) is exactly where SURVEY §4 reserved a
  * custom Expression. Equal-length inputs match the HOF formulation
  * bit-for-bit: float→double promotion per element, sequential
  * left-to-right summation. Mismatched lengths return NULL (zip_with
  * null-pads the shorter array, so its aggregate sum is NULL too — a
  * silently truncated partial dot product would be a wrong answer for SQL
  * users reaching this through `vec_dot`).
  */
case class FloatDotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  // NULL on length mismatch even when both inputs are non-null
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"vec_dot expects (array<float>, array<float>), got (${left.dataType}, ${right.dataType})")
  }
  override def dataType: DataType = DoubleType

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]; val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i"); val acc = ctx.freshName("acc")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $acc += ((double) $a.getFloat($i)) * ((double) $b.getFloat($i));
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `INT` cell id of the nearest centroid (max cosine) for an
  * `ARRAY<FLOAT>` vector — IVF assignment as a scan-speed projection: the
  * centroid matrix (with precomputed norms) rides the expression as a
  * codegen reference object, so assignment is one compiled loop per row
  * with NO join and NO aggregate. This replaces the
  * broadcast-nested-loop + `max_by` formulation (nlist-way row fan-out
  * with interpreted cosines — ~11 executor-CPU-s at sf0.1 against <1
  * here), and is the shape IVF assignment takes at a billion vectors:
  * centroids broadcast, vectors never shuffled.
  *
  * Exact-parity contract with the relational form (asserted in
  * SketchParitySpec): cosine accumulates float→double left to right
  * (FloatDotProduct order), each score rounds to 6 dp HALF_UP on the
  * shortest-decimal representation — `BigDecimal.valueOf`, the same path
  * Spark's `round()` takes for doubles — and ties break to the LOWEST
  * cell id.
  */
case class CentroidAssign(child: Expression, cids: Array[Int],
                          centroids: Array[Array[Float]])
    extends UnaryExpression {
  require(cids.length == centroids.length, "one cell id per centroid")
  require(centroids.nonEmpty, "centroid_assign needs at least one centroid")
  private val dim = centroids.head.length
  require(centroids.forall(_.length == dim), "all centroids must share one dimension")

  private val cnorms: Array[Double] = centroids.map { c =>
    var acc = 0.0; var i = 0
    while (i < c.length) { acc += c(i).toDouble * c(i).toDouble; i += 1 }
    math.sqrt(acc)
  }

  override def nullable: Boolean = true
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"centroid_assign expects array<float>, got $other")
    }
  override def dataType: DataType = IntegerType

  def compute(v: ArrayData): Any = {
    if (v.numElements() != dim) return null
    val x = new Array[Double](dim)
    var i = 0
    var vn = 0.0
    while (i < dim) {
      x(i) = v.getFloat(i).toDouble; vn += x(i) * x(i); i += 1
    }
    vn = math.sqrt(vn)
    var bestCid = Int.MaxValue
    var bestSc = Double.NegativeInfinity
    var fired = false
    var j = 0
    while (j < centroids.length) {
      val c = centroids(j)
      var dot = 0.0
      i = 0
      while (i < dim) { dot += x(i) * c(i).toDouble; i += 1 }
      val raw = dot / (vn * cnorms(j))
      // a zero-norm input (or zero centroid) scores NaN against every
      // centroid; skip it BEFORE the decimal round (BigDecimal.valueOf
      // rejects NaN outright)
      if (!raw.isNaN) {
        val sc = java.math.BigDecimal.valueOf(raw)
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
        if (sc > bestSc || (sc == bestSc && cids(j) < bestCid)) {
          fired = true; bestSc = sc; bestCid = cids(j)
        }
      }
      j += 1
    }
    // every score NaN (zero-norm input): no nearest centroid exists — NULL,
    // never the Int.MaxValue the comparison seed would leak
    if (!fired) null else bestCid
  }

  override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("centroidAssign", this, classOf[CentroidAssign].getName)
    // freshName: see MinHashSig — fixed-name locals collide when two
    // instances compile into one whole-stage function
    val r = ctx.freshName("r")
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |Object $r = $ref.compute($c);
         |if ($r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = ((Integer) $r).intValue(); }
       """.stripMargin)
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `DOUBLE` Euclidean distance ‖v − b‖₂ of an `ARRAY<FLOAT>` column to a
  * CONSTANT double vector riding the expression as a codegen reference
  * object — the scan-speed replacement for the
  * `sqrt(aggregate(zip_with(e, lit(b), (x,y) -> (x-y)²), 0, +))`
  * higher-order formulation (interpreted per-element closures + an
  * intermediate array per row; the k-center greedy pass evaluates this
  * against every chosen center per round). Bit-exact parity with the HOF
  * form: per element x promotes float→double, d = x − b_i, acc += d·d in
  * index order, sqrt once (the identical IEEE sequence — asserted in
  * SketchParitySpec). A length mismatch or a NULL element returns NULL,
  * exactly as zip_with's null-padding folds to a NULL sum.
  */
case class EuclideanToConst(child: Expression, b: Array[Double])
    extends UnaryExpression {
  require(b.nonEmpty, "euclidean_to_const needs a non-empty constant vector")

  override def nullable: Boolean = true
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"euclidean_to_const expects array<float>, got $other")
    }
  override def dataType: DataType = DoubleType

  def compute(v: ArrayData): Any = {
    if (v.numElements() != b.length) return null
    var acc = 0.0
    var i = 0
    while (i < b.length) {
      if (v.isNullAt(i)) return null
      val d = v.getFloat(i).toDouble - b(i)
      acc += d * d
      i += 1
    }
    math.sqrt(acc)
  }

  override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("euclideanToConst", this,
      classOf[EuclideanToConst].getName)
    val r = ctx.freshName("r")
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |Object $r = $ref.compute($c);
         |if ($r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = ((Double) $r).doubleValue(); }
       """.stripMargin)
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** All signed-random-projection bucket keys of an `ARRAY<FLOAT>` vector in
  * ONE fused loop: returns `ARRAY<INT>` of length `planes.length /
  * bitsPerTable`, where element `t` packs the sign bits of planes
  * `[t*bitsPerTable, (t+1)*bitsPerTable)` (bit k set iff `dot(v, plane) >=
  * 0`, matching the `when(dot >= 0, 1 << k)` formulation this replaces).
  *
  * Why an expression and not 256 `FloatDotProduct` columns: a Project with
  * hundreds of dot expressions blows past whole-stage-codegen method-size
  * limits and falls back to interpreted eval; here the plane matrix is a
  * codegen reference object and the whole signature is one tight
  * primitive loop — the per-row cost LSH bucketing pays at a billion rows.
  */
case class SrpBucketKeys(child: Expression, planes: Array[Array[Float]], bitsPerTable: Int)
    extends UnaryExpression {

  private val tables = planes.length / bitsPerTable
  require(tables * bitsPerTable == planes.length,
    s"planes (${planes.length}) must be a multiple of bitsPerTable ($bitsPerTable)")
  private val dim = planes.headOption.map(_.length).getOrElse(0)
  require(planes.forall(_.length == dim), "all hyperplanes must share one dimension")

  // NULL on vector/plane dimension mismatch (same discipline as
  // FloatDotProduct: a prefix-truncated projection would silently bucket a
  // malformed vector on partial information)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"srp_buckets expects array<float>, got $other")
    }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    if (a.numElements() != dim) return null
    val out = new Array[Int](tables)
    var j = 0
    while (j < planes.length) {
      val p = planes(j)
      var acc = 0.0
      var i = 0
      while (i < dim) { acc += a.getFloat(i).toDouble * p(i).toDouble; i += 1 }
      if (acc >= 0) out(j / bitsPerTable) |= (1 << (j % bitsPerTable))
      j += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("srpPlanes", planes, "float[][]")
    nullSafeCodeGen(ctx, ev, c => {
      val out = ctx.freshName("buckets"); val j = ctx.freshName("j")
      val p = ctx.freshName("plane"); val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      s"""
         |if ($c.numElements() != $dim) {
         |  ${ev.isNull} = true;
         |} else {
         |  int[] $out = new int[$tables];
         |  for (int $j = 0; $j < ${planes.length}; $j++) {
         |    float[] $p = $planesRef[$j];
         |    double $acc = 0.0;
         |    for (int $i = 0; $i < $dim; $i++) {
         |      $acc += ((double) $c.getFloat($i)) * ((double) $p[$i]);
         |    }
         |    if ($acc >= 0) $out[$j / $bitsPerTable] |= (1 << ($j % $bitsPerTable));
         |  }
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
