package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expressions for embedding math over `array<float>`.
  *
  * These are the hot path of the similarity / near-dup operators, so they are
  * real codegen'd `Expression`s (not UDFs): `doGenCode` emits a tight Java
  * loop over the packed float arrays that lives inside WholeStageCodegen —
  * no boxing, no Scala closure dispatch per element.
  *
  * The reference has no vector surface at all (its expression translation at
  * `src/parser.rs:575-942` stops at scalars); this is part of the
  * beyond-reference training-data-pipeline extension (SURVEY.md §7.2 M5).
  */
case class DotProductF32(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_f32"
  // null on dimension mismatch (a truncated product would be confidently
  // wrong — e.g. a corrupt short vector scoring cosine 1.0), so nullable
  // regardless of child nullability
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) { acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble; i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $acc += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Dot product over int8-quantized vectors (`array<tinyint>`), exact by
  * construction: every product and partial sum is an integer < 2^53, so
  * the double accumulation is exact integer arithmetic — order-free and
  * bit-identical across engines (unlike float32 sums). Used by the
  * quantized ANN path, where it is the pair-scoring hot loop; null on
  * dimension mismatch like [[DotProductF32]]. */
case class DotProductI8(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_i8"
  override def nullable: Boolean = true
  // analysis-time type check: a BinaryType column ([B) looks like a byte
  // vector but is NOT ArrayData — without this the interpreted path
  // class-casts at runtime instead of failing at analysis
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(ByteType, _), ArrayType(ByteType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName expects array<tinyint> inputs, got " +
            s"${l.simpleString} / ${r.simpleString}")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0L
    var i = 0
    while (i < n) { acc += x.getByte(i).toLong * y.getByte(i).toLong; i += 1 }
    acc.toDouble
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $acc = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $acc += (long) $a.getByte($i) * (long) $b.getByte($i);
         |  }
         |  ${ev.value} = (double) $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Cosine similarity in a single pass (dot and both norms in one loop).
  * Returns 0.0 when either vector has zero norm, null on dimension
  * mismatch (a truncated cosine is confidently wrong, not approximate). */
case class CosineSimF32(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_f32"
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xv = x.getFloat(i).toDouble
      val yv = y.getFloat(i).toDouble
      dot += xv * yv; na += xv * xv; nb += yv * yv
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $xv = (double) $a.getFloat($i);
         |    double $yv = (double) $b.getFloat($i);
         |    $dot += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;
         |  }
         |  ${ev.value} = ($na == 0.0 || $nb == 0.0) ? 0.0 : $dot / java.lang.Math.sqrt($na * $nb);
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Dot product of an int8-quantized vector against an integer-valued
  * `array<double>` centroid (the k-means coarse quantizer re-quantizes
  * every updated centroid to scaled integers, so both operands hold exact
  * integers). Every product and partial sum stays < 2^53 → the double
  * accumulation is exact integer arithmetic, order-free, and bit-identical
  * to the DuckDB oracle's `list_dot_product`. Null on dimension mismatch
  * like [[DotProductF32]]. */
case class DotProductI8F64(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_i8f64"
  override def nullable: Boolean = true
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(ByteType, _), ArrayType(DoubleType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName expects (array<tinyint>, array<double>), got " +
            s"${l.simpleString} / ${r.simpleString}")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) { acc += x.getByte(i).toDouble * y.getDouble(i); i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $acc += (double) $a.getByte($i) * $b.getDouble($i);
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Map-side nearest-centroid assignment over an int8 vector against a
  * PLAN-LITERAL centroid matrix (r19 optimization): replaces the
  * `crossJoin(broadcast(centroids)) → groupBy(vec_id).agg(max_by | TopK)`
  * pattern of the IVF/k-means/SemDeDup family — the ×|centroids| row
  * expansion and the per-vector re-aggregation shuffle disappear; each row
  * scores all centroids in one tight loop and emits its cluster id(s)
  * directly. The centroid set is bounded (nCentroids ≤ a few hundred —
  * the same boundedness that made it broadcast-able), so riding the plan
  * as a literal is the CascadeVotes discipline.
  *
  * Arithmetic replicates the column form BIT-FOR-BIT so the assignment —
  * and therefore every oracle-pinned downstream result — is unchanged:
  * score_j = dot_i8f64(vec, cent_j) / (sqrt(qnorm) · sqrt(norm_j)) with
  * the dot accumulated sequentially in doubles (exact: integer values
  * < 2^53) and norm_j = Σ cent_j(i)² in declaration order (the
  * `centroidsDf` fold). Ordering is Spark's double ordering
  * (java.lang.Double.compare — NaN greatest):
  *  - spill == 1 (LongType): argmax of (score, -cent_id) — exactly
  *    `max_by(cent_id, struct(cent_cos, negate(cent_id)))`;
  *  - spill > 1 (array<long>): ids of the top-`spill` centroids by
  *    (score desc, id asc) — exactly the bounded TopK aggregate +
  *    `transform(top, s -> s.id)` it replaces (a NaN score sorts LAST,
  *    the TopK sortBy(-score) order).
  * Returns null only when the vector's dimension mismatches every use is
  * guarded against upstream (quantize emits fixed-dim vectors).
  *
  * Centroids are Seq (value equality), not Array — plan canonicalization
  * and semanticEquals stay structural (the CascadeVotes advisory). */
case class NearestCentroids(vec: Expression, qnorm: Expression,
    ids: Seq[Long], cents: Seq[Seq[Double]], spill: Int,
    nanGreatest: Boolean = false)
    extends BinaryExpression {
  require(ids.nonEmpty && ids.length == cents.length, "ids/cents must align")
  require(spill >= 1, "spill must be >= 1")

  override def left: Expression = vec
  override def right: Expression = qnorm
  override def prettyName: String = "nearest_centroids"
  override def dataType: DataType =
    if (spill == 1) LongType else ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (vec.dataType, qnorm.dataType) match {
      case (ArrayType(ByteType, _), DoubleType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName expects (array<tinyint>, double), got " +
            s"${l.simpleString} / ${r.simpleString}")
    }

  @transient private lazy val centArr: Array[Array[Double]] =
    cents.map(_.toArray).toArray
  @transient private lazy val idArr: Array[Long] = ids.toArray
  // the exact centroidsDf fold: v.map(x => x * x).sum, declaration order
  @transient private lazy val normArr: Array[Double] =
    cents.map(_.map(x => x * x).sum).toArray

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val qn = b.asInstanceOf[Double]
    val n = x.numElements()
    val sqn = math.sqrt(qn)
    val m = idArr.length
    if (spill == 1) {
      var bestId = 0L
      var bestCos = 0.0
      var found = false
      var j = 0
      while (j < m) {
        val c = centArr(j)
        if (c.length == n) {
          var acc = 0.0
          var i = 0
          while (i < n) { acc += x.getByte(i).toDouble * c(i); i += 1 }
          val cos = acc / (sqn * math.sqrt(normArr(j)))
          val cmp = java.lang.Double.compare(cos, bestCos)
          if (!found || cmp > 0 || (cmp == 0 && idArr(j) < bestId)) {
            bestId = idArr(j); bestCos = cos; found = true
          }
        }
        j += 1
      }
      if (!found) null else bestId
    } else {
      // top-`spill` by (score desc NaN-last, id asc) — the TopK order
      val scores = new Array[Double](m)
      val ok = new Array[Boolean](m)
      var j = 0
      while (j < m) {
        val c = centArr(j)
        if (c.length == n) {
          var acc = 0.0
          var i = 0
          while (i < n) { acc += x.getByte(i).toDouble * c(i); i += 1 }
          scores(j) = acc / (sqn * math.sqrt(normArr(j)))
          ok(j) = true
        }
        j += 1
      }
      val order = (0 until m).filter(ok).sortWith { (a0, b0) =>
        // nanGreatest=false: TopK's sortBy(-score, id) — NaN sorts LAST;
        // nanGreatest=true: a window's ORDER BY score DESC — NaN FIRST
        val c0 =
          if (nanGreatest) java.lang.Double.compare(scores(b0), scores(a0))
          else java.lang.Double.compare(-scores(a0), -scores(b0))
        if (c0 != 0) c0 < 0 else idArr(a0) < idArr(b0)
      }.take(spill)
      if (order.isEmpty) null
      else new org.apache.spark.sql.catalyst.util.GenericArrayData(
        order.map(idArr(_)).toArray)
    }
  }

  /** Codegen entry point: one direct (non-reflective) call per row. */
  def score(x: ArrayData, qn: Double): AnyRef =
    nullSafeEval(x, qn).asInstanceOf[AnyRef]

  // r20: no more CodegenFallback — the expression itself rides the plan as
  // a reference object and the generated code makes ONE method call per
  // row, so the WholeStageCodegen span it sits in stays fused (the
  // fallback forced a row materialization + interpreted eval per row).
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("nearestCentroids", this,
      classOf[NearestCentroids].getName)
    val r = ctx.freshName("r")
    val assign =
      if (spill == 1) s"${ev.value} = ((java.lang.Long) $r).longValue();"
      else s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $r;"
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      |Object $r = $ref.score($a, $b);
      |if ($r == null) { ${ev.isNull} = true; } else { $assign }
      |""".stripMargin)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(vec = l, qnorm = r)
}

/** [[NearestCentroids]] for the float32 path ([[CosineSimF32]] scoring):
  * score_j is the single-pass dot/na/nb loop of cosine_f32 replicated
  * bit-for-bit (0.0 when either norm is 0, like the column form; a
  * dimension-mismatched centroid is skipped — the `.filter(cent_cos
  * .isNotNull)` it replaces). Same ordering contract as
  * [[NearestCentroids]]. */
case class NearestCentroidsF32(vec: Expression,
    ids: Seq[Long], cents: Seq[Seq[Float]], spill: Int,
    nanGreatest: Boolean = false)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  require(ids.nonEmpty && ids.length == cents.length, "ids/cents must align")
  require(spill >= 1, "spill must be >= 1")

  override def child: Expression = vec
  override def prettyName: String = "nearest_centroids_f32"
  override def dataType: DataType =
    if (spill == 1) LongType else ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    vec.dataType match {
      case ArrayType(FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName expects array<float>, got ${other.simpleString}")
    }

  @transient private lazy val centArr: Array[Array[Float]] =
    cents.map(_.toArray).toArray
  @transient private lazy val idArr: Array[Long] = ids.toArray

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    val m = idArr.length
    val scores = new Array[Double](m)
    val ok = new Array[Boolean](m)
    var j = 0
    while (j < m) {
      val c = centArr(j)
      if (c.length == n) {
        var dot = 0.0; var na = 0.0; var nb = 0.0
        var i = 0
        while (i < n) {
          val xv = x.getFloat(i).toDouble; val yv = c(i).toDouble
          dot += xv * yv; na += xv * xv; nb += yv * yv
          i += 1
        }
        scores(j) = if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
        ok(j) = true
      }
      j += 1
    }
    if (spill == 1) {
      var bestId = 0L; var bestCos = 0.0; var found = false
      var jj = 0
      while (jj < m) {
        if (ok(jj)) {
          val cmp = java.lang.Double.compare(scores(jj), bestCos)
          if (!found || cmp > 0 || (cmp == 0 && idArr(jj) < bestId)) {
            bestId = idArr(jj); bestCos = scores(jj); found = true
          }
        }
        jj += 1
      }
      if (!found) null else bestId
    } else {
      val order = (0 until m).filter(ok).sortWith { (a0, b0) =>
        // nanGreatest=false: TopK's sortBy(-score, id) — NaN sorts LAST;
        // nanGreatest=true: a window's ORDER BY score DESC — NaN FIRST
        val c0 =
          if (nanGreatest) java.lang.Double.compare(scores(b0), scores(a0))
          else java.lang.Double.compare(-scores(a0), -scores(b0))
        if (c0 != 0) c0 < 0 else idArr(a0) < idArr(b0)
      }.take(spill)
      if (order.isEmpty) null
      else new org.apache.spark.sql.catalyst.util.GenericArrayData(
        order.map(idArr(_)).toArray)
    }
  }

  /** Codegen entry point: one direct (non-reflective) call per row. */
  def score(x: ArrayData): AnyRef = nullSafeEval(x).asInstanceOf[AnyRef]

  // r20: same fallback removal as [[NearestCentroids]]
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("nearestCentroidsF32", this,
      classOf[NearestCentroidsF32].getName)
    val r = ctx.freshName("r")
    val assign =
      if (spill == 1) s"${ev.value} = ((java.lang.Long) $r).longValue();"
      else s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $r;"
    nullSafeCodeGen(ctx, ev, c => s"""
      |Object $r = $ref.score($c);
      |if ($r == null) { ${ev.isNull} = true; } else { $assign }
      |""".stripMargin)
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(vec = c)
}
