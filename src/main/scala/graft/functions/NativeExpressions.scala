package graft.functions

import graft.core._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Static helpers invoked from generated code (top-level Scala objects get
  * static forwarders, so `graft.functions.NativeImpl.strip(s)` is valid
  * generated Java).
  */
object NativeImpl {
  private val cfg = TagAttributes.bbcodeCanonical

  def strip(s: UTF8String): UTF8String =
    UTF8String.fromString(Transform.textTransform(BBCodeParser.parse(s.toString, cfg)))

  def render(s: UTF8String): UTF8String =
    UTF8String.fromString(BBCodeToHtml(BBCodeParser.parse(s.toString, cfg)))

  def stripHtml(s: UTF8String): UTF8String =
    UTF8String.fromString(Transform.textTransform(HtmlParser.parse(s.toString, Map.empty)))

  def tagCount(s: UTF8String): Int =
    BBCodeParser.parse(s.toString, cfg).tagCount

  /** Polynomial rolling hash over Unicode code points, mod 1e9+7, seed 7 —
    * the document-fingerprinting primitive, equivalent to the SQL
    * `aggregate(transform(sequence(...), ascii(substr(...))), 7, ...)`
    * expression but one pass with no per-char array materialization.
    */
  def rollhash(s: UTF8String): Long = {
    val str = s.toString
    var h = 7L
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      h = (h * 31 + cp) % 1000000007L
      i += Character.charCount(cp)
    }
    h
  }

  /** Fused dot product of two array<double|float> columns: one pass, no
    * intermediate array — the composed `aggregate(zip_with(a, b, *), +)`
    * allocates a length-n array PER PAIR, which dominates a quadratic
    * within-cluster similarity join. Accumulates left-to-right with float
    * elements widened to double BEFORE the multiply — exactly the HOF
    * composition's `x.cast(double) * y.cast(double)` order — so results
    * are bit-identical (parity-tested). Corrupt input — mismatched
    * lengths or a null element — evaluates to SQL NULL, exactly what the
    * composition produced (zip_with pads the shorter side with nulls):
    * a corrupt embedding can never mark a real document as a duplicate
    * loser, and is never silently scored over a shared prefix. NOT NaN —
    * Spark SQL orders NaN ABOVE every number, so `NaN > tau` is TRUE and
    * a NaN sentinel would flip corrupt pairs into losers. The validity
    * pre-check ([[defined1]]/[[defined2]]) keeps the happy path
    * primitive (no boxing); its null scan is skipped entirely when the
    * array type says `containsNull=false` (a codegen-time literal).
    */
  def dot(a: org.apache.spark.sql.catalyst.util.ArrayData,
          b: org.apache.spark.sql.catalyst.util.ArrayData,
          aFloat: Boolean, bFloat: Boolean): Double = {
    val n = a.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      acc += x * y
      i += 1
    }
    acc
  }

  /** Fused squared L2 norm — the `dot(a, a)` special case the cosine
    * denominator needs, one array read per element. Same NULL-on-corrupt
    * contract as [[dot]] via [[defined1]].
    */
  def norm2(a: org.apache.spark.sql.catalyst.util.ArrayData,
            aFloat: Boolean): Double = {
    val n = a.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      acc += x * x
      i += 1
    }
    acc
  }

  def defined1(a: org.apache.spark.sql.catalyst.util.ArrayData,
               mayContainNull: Boolean): Boolean = {
    if (!mayContainNull) return true
    val n = a.numElements()
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return false
      i += 1
    }
    true
  }

  def defined2(a: org.apache.spark.sql.catalyst.util.ArrayData,
               b: org.apache.spark.sql.catalyst.util.ArrayData,
               aMayNull: Boolean, bMayNull: Boolean): Boolean =
    a.numElements() == b.numElements() &&
      defined1(a, aMayNull) && defined1(b, bMayNull)
}

/** Native Catalyst expressions for the core transforms. Compared to a Scala
  * UDF these stay inside whole-stage codegen (no wrapper lambda, no
  * null-handling closure, no extra UTF8String→String→UTF8String row
  * boundary beyond the unavoidable one inside the FSM) — the generated code
  * calls the static helper directly.
  */
abstract class CoreStringExpression extends UnaryExpression {
  override def nullIntolerant: Boolean = true
  def helper: String // static method name on NativeImpl
  override def dataType: DataType = StringType
  override def nullSafeEval(input: Any): Any = evalImpl(input.asInstanceOf[UTF8String])
  protected def evalImpl(s: UTF8String): Any
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.NativeImpl.$helper($c)")
}

case class BBCodeStripExpr(child: Expression) extends CoreStringExpression {
  override def helper: String = "strip"
  override protected def evalImpl(s: UTF8String): Any = NativeImpl.strip(s)
  override def prettyName: String = "bbcode_strip"
  override protected def withNewChildInternal(newChild: Expression): BBCodeStripExpr =
    copy(child = newChild)
}

case class BBCodeRenderExpr(child: Expression) extends CoreStringExpression {
  override def helper: String = "render"
  override protected def evalImpl(s: UTF8String): Any = NativeImpl.render(s)
  override def prettyName: String = "bbcode_to_html"
  override protected def withNewChildInternal(newChild: Expression): BBCodeRenderExpr =
    copy(child = newChild)
}

case class HtmlStripExpr(child: Expression) extends CoreStringExpression {
  override def helper: String = "stripHtml"
  override protected def evalImpl(s: UTF8String): Any = NativeImpl.stripHtml(s)
  override def prettyName: String = "html_strip"
  override protected def withNewChildInternal(newChild: Expression): HtmlStripExpr =
    copy(child = newChild)
}

case class RollHashExpr(child: Expression) extends UnaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any = NativeImpl.rollhash(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.NativeImpl.rollhash($c)")
  override def prettyName: String = "rollhash"
  override protected def withNewChildInternal(newChild: Expression): RollHashExpr =
    copy(child = newChild)
}

case class BBCodeTagCountExpr(child: Expression) extends UnaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = IntegerType
  override def nullSafeEval(input: Any): Any = NativeImpl.tagCount(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.NativeImpl.tagCount($c)")
  override def prettyName: String = "bbcode_tag_count"
  override protected def withNewChildInternal(newChild: Expression): BBCodeTagCountExpr =
    copy(child = newChild)
}

object ArrayDotExpr {
  private[functions] def isFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  private[functions] def mayContainNull(e: Expression): Boolean = e.dataType match {
    case ArrayType(_, n) => n
    case _ => true
  }
  private[functions] def checkVec(es: Expression*): TypeCheckResult = {
    val ok = es.forall(_.dataType match {
      case ArrayType(DoubleType, _) | ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "expected array<double>/array<float> arguments, got " +
        es.map(_.dataType.simpleString).mkString("(", ", ", ")"))
  }
}

case class ArrayDotExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def nullIntolerant: Boolean = true
  // nullable beyond the children: corrupt input (length mismatch, null
  // element) evaluates to NULL even when both arrays are non-null
  override def nullable: Boolean = true
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): TypeCheckResult =
    ArrayDotExpr.checkVec(left, right)
  private def lf = ArrayDotExpr.isFloat(left)
  private def rf = ArrayDotExpr.isFloat(right)
  private def ln = ArrayDotExpr.mayContainNull(left)
  private def rn = ArrayDotExpr.mayContainNull(right)
  override def nullSafeEval(a: Any, b: Any): Any = {
    val aa = a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val bb = b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    if (!NativeImpl.defined2(aa, bb, ln, rn)) null
    else NativeImpl.dot(aa, bb, lf, rf)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""if (!graft.functions.NativeImpl.defined2($a, $b, $ln, $rn)) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = graft.functions.NativeImpl.dot($a, $b, $lf, $rf);
         |}""".stripMargin)
  override def prettyName: String = "array_dot"
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ArrayDotExpr =
    copy(left = newLeft, right = newRight)
}

case class ArrayNorm2Expr(child: Expression) extends UnaryExpression {
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): TypeCheckResult =
    ArrayDotExpr.checkVec(child)
  private def cf = ArrayDotExpr.isFloat(child)
  private def cn = ArrayDotExpr.mayContainNull(child)
  override def nullSafeEval(a: Any): Any = {
    val aa = a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    if (!NativeImpl.defined1(aa, cn)) null
    else NativeImpl.norm2(aa, cf)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"""if (!graft.functions.NativeImpl.defined1($a, $cn)) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = graft.functions.NativeImpl.norm2($a, $cf);
         |}""".stripMargin)
  override def prettyName: String = "array_norm2"
  override protected def withNewChildInternal(newChild: Expression): ArrayNorm2Expr =
    copy(child = newChild)
}

/** Registration: either via `spark.sql.extensions=graft.functions.GraftExtensions`
  * on spark-submit, or [[GraftFunctions.register]] on a live session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.definitions.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
}

object GraftFunctions {
  type Builder = Seq[Expression] => Expression

  val definitions: Seq[(String, ExpressionInfo, Builder)] = Seq(
    ("bbcode_strip_native",
      new ExpressionInfo(classOf[BBCodeStripExpr].getName, "bbcode_strip_native"),
      (args: Seq[Expression]) => BBCodeStripExpr(args.head)),
    ("bbcode_to_html_native",
      new ExpressionInfo(classOf[BBCodeRenderExpr].getName, "bbcode_to_html_native"),
      (args: Seq[Expression]) => BBCodeRenderExpr(args.head)),
    ("html_strip_native",
      new ExpressionInfo(classOf[HtmlStripExpr].getName, "html_strip_native"),
      (args: Seq[Expression]) => HtmlStripExpr(args.head)),
    ("bbcode_tag_count_native",
      new ExpressionInfo(classOf[BBCodeTagCountExpr].getName, "bbcode_tag_count_native"),
      (args: Seq[Expression]) => BBCodeTagCountExpr(args.head)),
    ("rollhash_native",
      new ExpressionInfo(classOf[RollHashExpr].getName, "rollhash_native"),
      (args: Seq[Expression]) => RollHashExpr(args.head)),
    ("array_dot",
      new ExpressionInfo(classOf[ArrayDotExpr].getName, "array_dot"),
      (args: Seq[Expression]) => {
        require(args.length == 2,
          s"array_dot(a, b) takes 2 arguments, got ${args.length}")
        ArrayDotExpr(args(0), args(1))
      }),
    ("array_norm2",
      new ExpressionInfo(classOf[ArrayNorm2Expr].getName, "array_norm2"),
      (args: Seq[Expression]) => {
        require(args.length == 1,
          s"array_norm2(a) takes 1 argument, got ${args.length}")
        ArrayNorm2Expr(args.head)
      }),
    ("topk_by_score",
      new ExpressionInfo(classOf[TopKByScore].getName, "topk_by_score"),
      (args: Seq[Expression]) => {
        require(args.length == 3,
          s"topk_by_score(score, id, k) takes 3 arguments, got ${args.length}")
        TopKByScore(args(0), args(1), args(2))
      })
  )

  /** Register on an existing session (temp functions). A name already
    * bound to its builder (by an earlier call or [[GraftExtensions]]) is
    * left as it is, so a repeat call replaces nothing and logs nothing.
    */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    definitions.foreach { case (name, _, builder) =>
      if (!registry.lookupFunctionBuilder(FunctionIdentifier(name)).exists(_ eq builder))
        registry.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }
}
