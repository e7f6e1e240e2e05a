package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native Catalyst expression: cosine similarity of two double arrays.
  *
  * The one place SURVEY §4.3's "no custom Expression required" verdict
  * deserves an exception: ANN scoring evaluates a dot product per
  * candidate pair, and the composable form
  * (`aggregate(zip_with(a, b, …))`) runs as interpreted higher-order
  * lambdas — per-element closure dispatch outside codegen. This
  * expression generates a tight fused Java loop inside whole-stage
  * codegen instead (one pass: dot + both norms), keeping vector scoring
  * on the codegen fast path at 100 TB scan speed.
  *
  * Accumulation order matches the sequential fold of the composable
  * form, so results are bit-identical and the DuckDB oracles are
  * unaffected.
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def prettyName: String = "graft_cosine"

  // an ARRAY<BIGINT>/<FLOAT> passed by mistake would reinterpret raw
  // bits through getDouble and return plausible-looking garbage — the
  // session-wide function rejects anything but ARRAY<DOUBLE> at
  // analysis time, the same guard graft_qcos and graft_ixcount carry
  // (spelled out because AbstractDataType/ExpectsInputTypes is
  // private[sql])
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    def ok(t: DataType) = t match {
      case org.apache.spark.sql.types.ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ARRAY<DOUBLE> inputs, got " +
        s"${left.dataType.catalogString} and ${right.dataType.catalogString}")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0
    var nx = 0.0
    var ny = 0.0
    var i = 0
    while (i < n) {
      val xv = x.getDouble(i)
      val yv = y.getDouble(i)
      dot += xv * yv
      nx += xv * xv
      ny += yv * yv
      i += 1
    }
    dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0; double $nx = 0.0; double $ny = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xv = $a.getDouble($i);
         |  double $yv = $b.getDouble($i);
         |  $dot += $xv * $yv; $nx += $xv * $xv; $ny += $yv * $yv;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}

/** The engine's native SQL functions, defined once: name, the
  * `ExpressionInfo` that `DESCRIBE FUNCTION` shows, and a builder that
  * rejects a wrong argument count with a proper error instead of an
  * `IndexOutOfBoundsException` from `children(1)`. Both the imperative
  * [[register]] and the [[GraftExtensions]] injection iterate this
  * table, so the two paths cannot drift. */
object GraftFunctions {
  type Builder = Seq[Expression] => Expression

  /** One table row for a two-argument function. */
  private def binary(cls: Class[_], name: String, usage: String,
      group: String)(f: (Expression, Expression) => Expression)
      : (FunctionIdentifier, ExpressionInfo, Builder) =
    (FunctionIdentifier(name),
      new ExpressionInfo(cls.getName, null, name, usage, "", "", "", group,
        "", "", "built-in"),
      children => {
        require(children.length == 2,
          s"$name takes 2 arguments, got ${children.length}")
        f(children(0), children(1))
      })

  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Builder)] = Seq(
    binary(classOf[CosineSim], "graft_cosine",
      "graft_cosine(a, b) - Returns the cosine similarity of two " +
        "ARRAY<DOUBLE> columns over their common prefix.",
      "array_funcs")(CosineSim(_, _)),
    binary(classOf[QuantizedCos], "graft_qcos",
      "graft_qcos(a, b) - Returns the cosine similarity of two " +
        "ARRAY<BIGINT> int8-quantized vectors, accumulated exactly " +
        "in integers.",
      "array_funcs")(QuantizedCos(_, _)),
    // the sorted-distinct PRECONDITION rides in the usage string: the
    // type check can reject wrong TYPES, but unsorted/duplicated
    // input silently undercounts, and DESCRIBE FUNCTION is the one
    // place an ad-hoc SQL caller learns a contract the name alone
    // can't carry
    binary(classOf[SortedIntersectCount], "graft_ixcount",
      "graft_ixcount(a, b) - Returns |a ∩ b| for two ARRAY<BIGINT> " +
        "columns that are SORTED ascending and duplicate-free " +
        "(e.g. built with sort_array(collect_list(...)) over distinct " +
        "values). On unsorted or duplicated input the fused merge " +
        "undercounts; under the contract it equals " +
        "size(array_intersect(a, b)) exactly.",
      "array_funcs")(SortedIntersectCount(_, _)),
    // superset semantics in the contract string: the screen over
    // these hashes may (very rarely) include a colliding non-equal
    // window — exact callers re-screen candidates with a full hash
    binary(classOf[RollingGramHash], "graft_roll64",
      "graft_roll64(ws, L) - Karp-Rabin rolling 64-bit hash of every " +
        "L-token window of an ARRAY<STRING> (null slots hash to a " +
        "fixed sentinel; L a " +
        "literal >= 2): returns ARRAY<BIGINT> with size(ws)-L+1 " +
        "entries (empty when size(ws) < L). Equal windows always " +
        "hash equal; unequal windows collide heuristically at " +
        "~2^-64 on non-adversarial data - a polynomial hash mod " +
        "2^64 is NOT a universal family (structured token-hash " +
        "differences collide far more often), so a duplicate screen " +
        "over these hashes is a SUPERSET of the true " +
        "duplicated-window set and callers must ALWAYS re-screen " +
        "candidates where exactness matters, e.g. with md5 over an " +
        "unambiguous window encoding. NOTE on the md5 re-screen: " +
        "md5(array_join(ws, ' ')) equality is JOIN-TEXT equality, " +
        "coarser than this function's token-exact windows when " +
        "tokens may contain the separator or nulls (array_join " +
        "skips nulls and conflates token boundaries) - it is exact " +
        "only for separator-free, null-free tokens (e.g. split on " +
        "' ' with empties filtered); otherwise join with a " +
        "length-prefixed or unit-separator encoding first.",
      "hash_funcs")(RollingGramHash(_, _)))

  /** Idempotently register the native functions with the session
    * (imperative path for sessions built without extensions). */
  def register(spark: SparkSession): Unit =
    functions.foreach { case (name, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(name, info, builder)
    }
}

/** The canonical injection point: set
  * `spark.sql.extensions=graft.functions.GraftExtensions` (or
  * `.withExtensions(new GraftExtensions)`) and every session — including
  * thrift/connect ones the engine never touches imperatively — gets the
  * native functions. */
class GraftExtensions
    extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(
      ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    GraftFunctions.functions.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => graft.plans.IntervalLookupJoinRule)
    ext.injectPlannerStrategy(_ => graft.plans.IntervalJoinStrategy)
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
  }
}
