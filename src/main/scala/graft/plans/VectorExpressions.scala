package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, LeafExpression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StructField, StructType}

/** Native Catalyst expressions for the vector hot path (SURVEY §7.3:
  * preference order (b) — a custom `Expression` with `doGenCode` beats a
  * Scala UDF beats interpreted higher-order functions).
  *
  * Semantics are the exact ascending left fold used everywhere else
  * (`Similarity.dot`/`dotFast`, DuckDB `list_reduce`), so all three
  * implementations are bit-identical. Unlike the UDF, these participate
  * in whole-stage codegen: no Scala-function dispatch, no
  * `Seq[Double]` materialization per row — the generated loop reads the
  * unsafe array buffers directly.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"
  // null also on length mismatch / null element (see nullSafeEval), so the
  // result can be null even when both inputs are non-null
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<double>, array<double>), got (${l.sql}, ${r.sql})")
    }

  // Null semantics mirror the composed twin
  // `aggregate(zip_with(a, b, (x, y) -> x * y), 0.0, (acc, v) -> acc + v)`:
  // zip_with pads the shorter array with null and a null product nulls the
  // running sum, so a length mismatch or any null element yields NULL.
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (y.numElements() != n) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""
         |int ${ev.value}_n = $a.numElements();
         |double ${ev.value}_acc = 0.0;
         |if ($b.numElements() != ${ev.value}_n) {
         |  ${ev.isNull} = true;
         |} else {
         |  for (int ${ev.value}_i = 0; ${ev.value}_i < ${ev.value}_n; ${ev.value}_i++) {
         |    if ($a.isNullAt(${ev.value}_i) || $b.isNullAt(${ev.value}_i)) {
         |      ${ev.isNull} = true; break;
         |    }
         |    ${ev.value}_acc += $a.getDouble(${ev.value}_i) * $b.getDouble(${ev.value}_i);
         |  }
         |}
         |${ev.value} = ${ev.value}_acc;
       """.stripMargin)

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** L2 norm with the same fold order as [[DotProduct]]. */
case class L2Norm(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_l2norm"
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<double>, got ${other.sql}")
  }

  // Null semantics mirror `sqrt(aggregate(transform(a, x -> x * x), 0.0,
  // (acc, v) -> acc + v))`: any null element nulls the sum.
  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    var acc = 0.0
    var i = 0
    val n = x.numElements()
    while (i < n) {
      if (x.isNullAt(i)) return null
      val v = x.getDouble(i); acc += v * v; i += 1
    }
    math.sqrt(acc)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"""
         |int ${ev.value}_n = $a.numElements();
         |double ${ev.value}_acc = 0.0;
         |for (int ${ev.value}_i = 0; ${ev.value}_i < ${ev.value}_n; ${ev.value}_i++) {
         |  if ($a.isNullAt(${ev.value}_i)) { ${ev.isNull} = true; break; }
         |  double ${ev.value}_v = $a.getDouble(${ev.value}_i);
         |  ${ev.value}_acc += ${ev.value}_v * ${ev.value}_v;
         |}
         |${ev.value} = java.lang.Math.sqrt(${ev.value}_acc);
       """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Flat nearest-centroid assignment as ONE native expression:
  * `NearestCell(vec, nrm, cells)` → `struct(cell BIGINT, ccos DOUBLE)`,
  * where `cells` is the single-row broadcast centroid array
  * `array<struct<cell, cv, cnrm>>` sorted ascending by cell. The IVF /
  * SemDeDup assignment step is argmax over |cells| cosines PER VECTOR —
  * inherently O(|cells|·dim) work per row — and every declarative
  * formulation of it materializes that product as ROWS (crossJoin +
  * window: shuffles n·|cells| array-carrying rows; slim max_by: still
  * n·|cells| join-output rows through a hash aggregate; HOF fold:
  * row-local but interpreted, a lambda dispatch + struct copy per cell).
  * With occupancy-sized cell counts (|cells| ∝ n) the constant behind
  * that n·|cells| term is the whole game at scale; this expression makes
  * it a fused primitive loop inside whole-stage codegen — zero
  * materialization, zero dispatch.
  *
  * Semantics pinned to the declarative forms (the DuckDB oracle replays
  * them): visit cells in array order (ascending cell), replace only on
  * strictly-greater cosine via `Double.compare` on the `+ 0.0`
  * -canonicalized cosine (-0.0 folded to +0.0, so signed zeros tie and
  * keep the lowest cell exactly like Spark's `>`) — ties keep the
  * lowest cell, NaN orders greatest (Spark's own double comparison
  * semantics), and NaN > NaN is false (zero-norm vectors resolve to
  * their lowest cell). A malformed cell entry (null struct/field,
  * dim-mismatched cv, null element) is SKIPPED — identical to the HOF
  * fold where a null cosine fails the `>` guard. Empty `cells` yields
  * the (-1, -2.0) sentinel. */
case class NearestCell(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("cell", LongType, nullable = false),
    StructField("ccos", DoubleType, nullable = false)))
  override def prettyName: String = "graft_nearest_cell"

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(DoubleType, _), DoubleType,
            ArrayType(StructType(Array(
              StructField(_, LongType, _, _),
              StructField(_, ArrayType(DoubleType, _), _, _),
              StructField(_, DoubleType, _, _))), _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b, c) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<double>, double, " +
          s"array<struct<bigint,array<double>,double>>), got " +
          s"(${a.sql}, ${b.sql}, ${c.sql})")
    }

  override def nullSafeEval(vecAny: Any, nrmAny: Any, cellsAny: Any): Any = {
    val vec = vecAny.asInstanceOf[ArrayData]
    val nrm = nrmAny.asInstanceOf[Double]
    val cells = cellsAny.asInstanceOf[ArrayData]
    val dim = vec.numElements()
    var bestCell = -1L
    var bestCos = -2.0
    var i = 0
    val n = cells.numElements()
    while (i < n) {
      if (!cells.isNullAt(i)) {
        val cs = cells.getStruct(i, 3)
        if (!cs.isNullAt(0) && !cs.isNullAt(1) && !cs.isNullAt(2)) {
          val cv = cs.getArray(1)
          if (cv.numElements() == dim) {
            var acc = 0.0
            var j = 0
            var ok = true
            while (ok && j < dim) {
              if (vec.isNullAt(j) || cv.isNullAt(j)) ok = false
              else { acc += vec.getDouble(j) * cv.getDouble(j); j += 1 }
            }
            if (ok) {
              // + 0.0 canonicalizes IEEE -0.0 to +0.0 (identity on every
              // other value incl. NaN) so the strictly-greater test agrees
              // with Spark's `>`, which treats -0.0 == 0.0 — without it a
              // later cell's +0.0 would displace an earlier cell's -0.0,
              // diverging from the HOF fold / `ORDER BY ccos DESC, cell`
              // on orthogonal-vector ties.
              val cos = acc / (nrm * cs.getDouble(2)) + 0.0
              if (java.lang.Double.compare(cos, bestCos) > 0) {
                bestCell = cs.getLong(0); bestCos = cos
              }
            }
          }
        }
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](bestCell, bestCos))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (vec, nrm, cells) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val n = ctx.freshName("n"); val dim = ctx.freshName("dim")
      val cs = ctx.freshName("cs"); val cv = ctx.freshName("cv")
      val acc = ctx.freshName("acc"); val ok = ctx.freshName("ok")
      val cos = ctx.freshName("cos")
      val bestCell = ctx.freshName("bestCell")
      val bestCos = ctx.freshName("bestCos")
      s"""
         |long $bestCell = -1L;
         |double $bestCos = -2.0;
         |final int $dim = $vec.numElements();
         |final int $n = $cells.numElements();
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($cells.isNullAt($i)) continue;
         |  org.apache.spark.sql.catalyst.InternalRow $cs = $cells.getStruct($i, 3);
         |  if ($cs.isNullAt(0) || $cs.isNullAt(1) || $cs.isNullAt(2)) continue;
         |  org.apache.spark.sql.catalyst.util.ArrayData $cv = $cs.getArray(1);
         |  if ($cv.numElements() != $dim) continue;
         |  double $acc = 0.0;
         |  boolean $ok = true;
         |  for (int $j = 0; $j < $dim; $j++) {
         |    if ($vec.isNullAt($j) || $cv.isNullAt($j)) { $ok = false; break; }
         |    $acc += $vec.getDouble($j) * $cv.getDouble($j);
         |  }
         |  if (!$ok) continue;
         |  // + 0.0 canonicalizes -0.0 (see nullSafeEval)
         |  double $cos = $acc / ($nrm * $cs.getDouble(2)) + 0.0;
         |  if (java.lang.Double.compare($cos, $bestCos) > 0) {
         |    $bestCell = $cs.getLong(0); $bestCos = $cos;
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
         |  new Object[]{$bestCell, $bestCos});
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** Pushdown fence: a value-identity expression FLAGGED nondeterministic
  * so the optimizer will not move a predicate containing it. The classic
  * "expensive predicate pushed below the exchange" problem: Catalyst's
  * cost-blind filter pushdown is exactly right for cheap scan-column
  * predicates (fewer shuffle rows) and exactly wrong for a predicate
  * whose expression tree embeds heavy compute — pushed below the
  * parallelism-floor exchange it re-serializes the whole scoring
  * pipeline onto the one-split scan task (measured: p1_quality_filter
  * 5.3 s at sf1, of which ~5 s was the serial pushed filter). Wrapping
  * ONLY the expensive conjunct leaves the cheap conjuncts (n_chars)
  * pushing all the way into PushedFilters as before; evaluation,
  * codegen, and results are bit-identical — the flag changes plan
  * placement, never values, so every oracle is unaffected. */
case class NoPushdown(child: Expression) extends UnaryExpression {
  override def dataType: DataType = child.dataType
  override def nullable: Boolean = child.nullable
  override lazy val deterministic: Boolean = false
  override def foldable: Boolean = false
  override def prettyName: String = "graft_no_pushdown"
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    child.eval(input)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = c.code, isNull = c.isNull, value = c.value)
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** A LONG or DOUBLE constant that generated code reads from the plan's
  * reference array instead of spelling it out. Spark writes a primitive
  * `Literal` into the generated source, so plans that differ only in
  * such a value (a query id, a query norm) each compile to a new class:
  * a Janino compile per plan, and a class the JIT has never run, so its
  * row loop starts interpreted every time. Held by reference, the source
  * is the same for every value: the codegen cache serves every plan
  * after the first, and the class it serves is already compiled. Not
  * foldable, so constant folding cannot turn it back into a `Literal`;
  * not a `Literal`, so it is never pushed into a data source scan. */
case class ReferencedLiteral(value: Any, dataType: DataType) extends LeafExpression {
  require(dataType == LongType || dataType == DoubleType,
    s"graft_ref_literal holds a LONG or DOUBLE, got ${dataType.sql}")
  override def nullable: Boolean = false
  override def foldable: Boolean = false
  override def prettyName: String = "graft_ref_literal"
  override def toString: String = s"$prettyName($value)"
  override def eval(input: InternalRow): Any = value
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("refLiteral", value, CodeGenerator.boxedType(dataType))
    ev.copy(code = code"final $javaType ${ev.value} = $ref.${javaType}Value();",
      isNull = FalseLiteral)
  }
}

object VectorExpressions {
  /** Column-level wrappers for [[ReferencedLiteral]]. */
  def refLit(v: Long): Column =
    ColumnBridge.column(ReferencedLiteral(v, LongType))
  def refLit(v: Double): Column =
    ColumnBridge.column(ReferencedLiteral(v, DoubleType))

  /** Column-level wrapper for [[NoPushdown]]. */
  def noPush(c: Column): Column =
    ColumnBridge.column(NoPushdown(ColumnBridge.expression(c)))

  def dotNative(a: Column, b: Column): Column =
    ColumnBridge.column(DotProduct(ColumnBridge.expression(a), ColumnBridge.expression(b)))
  def l2NormNative(a: Column): Column =
    ColumnBridge.column(L2Norm(ColumnBridge.expression(a)))
  def nearestCellNative(vec: Column, nrm: Column, cells: Column): Column =
    ColumnBridge.column(NearestCell(ColumnBridge.expression(vec),
      ColumnBridge.expression(nrm), ColumnBridge.expression(cells)))

  /** SQL registration: `graft_dot(a, b)`, `graft_l2norm(a)`,
    * `graft_nearest_cell(v, nrm, cells)`, `graft_no_pushdown(x)`. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_dot", exprs => DotProduct(exprs(0), exprs(1)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_l2norm", exprs => L2Norm(exprs.head), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_nearest_cell",
      exprs => NearestCell(exprs(0), exprs(1), exprs(2)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_no_pushdown", exprs => NoPushdown(exprs.head), "built-in")
  }
}
