package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}
import org.apache.spark.sql.SparkSessionExtensions

/** `splitmix64(x)`: the engine's canonical 64-bit mixer
  * ([[graft.core.Hashing.splitmix64]], Steele et al. OOPSLA'14) as a
  * codegen'd native expression. Exists because Spark 4 runs ANSI mode by
  * default, where built-in `long` multiplication THROWS on overflow —
  * wrapping mixers cannot be composed from built-ins. A native expression
  * generates a plain static Java call (Java semantics wrap), stays inside
  * whole-stage codegen, and is reproduced bit-for-bit in DuckDB oracle SQL
  * by [[graft.oracle.DuckHash.splitmixCols]]. */
case class Splitmix64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "splitmix64"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires bigint, got ${child.dataType.simpleString}")

  override protected def nullSafeEval(x: Any): Any =
    graft.core.Hashing.splitmix64(x.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, x => s"graft.core.Hashing.splitmix64($x)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** Runtime for [[CosineSim]]: one tight pass over both arrays. IEEE
  * PARITY with the HOF fold it replaces is load-bearing (the ANN oracle
  * family compares cosine values exactly): same sequential accumulation
  * order over dims, same sqrt(x)*sqrt(y) denominator, same zero-vector
  * -> 0.0 rule; null elements or length mismatch -> null. The null rules
  * are checked BEFORE the zero-norm rule — [[graft.ops.Similarity.cosineHof]]
  * deliberately orders its `when` chain the same way (a round-3 review
  * found the corner a=[0.0] vs b=[1.0, 2.0] diverging when zero-norm was
  * consulted first). */
object CosineEval {
  def cosine(a: org.apache.spark.sql.catalyst.util.ArrayData,
             b: org.apache.spark.sql.catalyst.util.ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var d = 0.0; var x = 0.0; var y = 0.0; var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val av = a.getDouble(i); val bv = b.getDouble(i)
      d += av * bv; x += av * av; y += bv * bv
      i += 1
    }
    if (x == 0.0 || y == 0.0) 0.0 else d / (math.sqrt(x) * math.sqrt(y))
  }
}

/** Runtime for [[L2SqInt]]: one tight pass. Parity contract with the HOF
  * fold it replaces (`aggregate(zip_with(a, b, (x,y) => (x-y)*(x-y)), 0L, +)`):
  * identical for equal-length null-free arrays whose squared differences
  * sum inside a signed 64-bit long (quantized embeddings are ~1e3 per
  * coordinate — 64 dims sum to ~1e9, nowhere near 2^63); length mismatch
  * or a null element -> null, exactly as zip_with padding / aggregate
  * propagate. Out-of-range inputs wrap (Java semantics) where the ANSI
  * HOF would throw — callers own the range, as with [[Splitmix64]]. */
object L2SqEval {
  def l2sq(a: org.apache.spark.sql.catalyst.util.ArrayData,
           b: org.apache.spark.sql.catalyst.util.ArrayData): java.lang.Long = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val d = a.getLong(i) - b.getLong(i)
      acc += d * d
      i += 1
    }
    acc
  }
}

/** `l2sq_int(a, b)`: integer squared-L2 distance of two array<bigint>
  * columns as a codegen'd native expression — the per-row kernel of the
  * k-means assignment cross join (training AND IVF serving), where the
  * HOF fold pays per-row lambda dispatch + element boxing x k centroids x
  * corpus (the identical shape CosineSim replaced at a measured 10.5x for
  * cosine; l2sq_probe in BASELINE.md has this expression's numbers). */
case class L2SqInt(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "l2sq_int"

  private def isLongArray(t: DataType) = t match {
    case ArrayType(LongType, _) => true
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult =
    if (isLongArray(left.dataType) && isLongArray(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<bigint>, array<bigint>), got " +
        s"${left.dataType.simpleString}, ${right.dataType.simpleString}")

  override protected def nullSafeEval(a: Any, b: Any): Any =
    L2SqEval.l2sq(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // freshName, NOT a literal: several l2sq_int instances can share one
      // codegen scope (the round-6 literal-centroid argmin projection puts
      // k of them in a single Project) — a fixed name is a Janino
      // "Redefinition of local variable" compile error and a silent
      // interpreted-mode fallback for the whole stage
      val r = ctx.freshName("l2sqR")
      s"""
      java.lang.Long $r = graft.expr.L2SqEval.l2sq($a, $b);
      if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r.longValue(); }
    """
    })

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): Expression = copy(l, r)
}

/** `cosine_sim(a, b)`: cosine similarity of two array<double> columns as
  * a codegen'd native expression — the HOF fold (aggregate/zip_with) it
  * replaces pays per-row lambda dispatch and element boxing (measured
  * 1.1M vs 6.4M rows/s at dim=64; see BASELINE.md). */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "cosine_sim"

  private def isDoubleArray(t: DataType) = t match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult =
    if (isDoubleArray(left.dataType) && isDoubleArray(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<double>, array<double>), got " +
        s"${left.dataType.simpleString}, ${right.dataType.simpleString}")

  override protected def nullSafeEval(a: Any, b: Any): Any =
    CosineEval.cosine(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // freshName for the same reason as L2SqInt: multiple instances per
      // codegen scope must not collide
      val r = ctx.freshName("cosR")
      s"""
      java.lang.Double $r = graft.expr.CosineEval.cosine($a, $b);
      if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r.doubleValue(); }
    """
    })

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): Expression = copy(l, r)
}

/** Column-API surface. Requires the session to carry [[GraftExtensions]]
  * (resolved through the function registry at analysis time, keeping this
  * file on public Spark API only). */
object functions {
  def splitmix64(x: Column): Column = call_function("splitmix64", x)

  def cosine_sim(a: Column, b: Column): Column = call_function("cosine_sim", a, b)

  def l2sq_int(a: Column, b: Column): Column = call_function("l2sq_int", a, b)

  def vocab_tokens(text: Column, vocabCsv: Column): Column =
    call_function("vocab_tokens", text, vocabCsv)
}

/** SparkSessionExtensions hook: registers the functions the contract
  * queries call — `splitmix64` (sampling), `cosine_sim` (similarity),
  * `l2sq_int` (k-means) and `vocab_tokens` (text analysis) — for SQL and
  * the Column API. Use
  * `SparkSession.builder().withExtensions(new GraftExtensions)` or
  * `--conf spark.sql.extensions=graft.expr.GraftExtensions`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  // builders previously indexed children blind: a 3-arg call to a 2-arg
  // function silently DROPPED the extra argument and a 1-arg call died with
  // IndexOutOfBoundsException instead of an analysis error (round-4 advice)
  private def arity(name: String, n: Int, children: Seq[Expression]): Seq[Expression] = {
    if (children.size != n)
      throw new org.apache.spark.sql.AnalysisException(
        errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
        messageParameters = Map(
          "functionName" -> name, "expectedNum" -> n.toString,
          "actualNum" -> children.size.toString, "docroot" -> ""))
    children
  }

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      new FunctionIdentifier("splitmix64"),
      new ExpressionInfo("graft.expr.Splitmix64", "splitmix64"),
      (children: Seq[Expression]) =>
        Splitmix64(arity("splitmix64", 1, children).head)))
    e.injectFunction((
      new FunctionIdentifier("cosine_sim"),
      new ExpressionInfo("graft.expr.CosineSim", "cosine_sim"),
      (children: Seq[Expression]) => {
        val c = arity("cosine_sim", 2, children); CosineSim(c(0), c(1)) }))
    e.injectFunction((
      new FunctionIdentifier("l2sq_int"),
      new ExpressionInfo("graft.expr.L2SqInt", "l2sq_int"),
      (children: Seq[Expression]) => {
        val c = arity("l2sq_int", 2, children); L2SqInt(c(0), c(1)) }))
    e.injectFunction((
      new FunctionIdentifier("vocab_tokens"),
      new ExpressionInfo("graft.expr.VocabTokens", "vocab_tokens"),
      (children: Seq[Expression]) => {
        val c = arity("vocab_tokens", 2, children); VocabTokens(c(0), c(1)) }))
  }
}
