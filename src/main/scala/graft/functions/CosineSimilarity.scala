package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType, LongType}

/** Native codegen'd cosine similarity over two `ARRAY<FLOAT>` columns.
  *
  * The HOF formulation (`aggregate(zip_with(...))`) allocates a zipped
  * array per row and evaluates interpreted lambdas per element; this
  * expression is one fused primitive loop inside WholeStageCodegen — no
  * allocation, no boxing. Semantics mirror the HOF version
  * (sequential double accumulation, dot over the common prefix, norms
  * over each full array) with ONE deliberate divergence: a zero-norm
  * side scores 0.0 instead of the HOF's 0/0 = NaN. NaN is poison
  * downstream — IEEE comparisons all answer false, so a NaN score
  * would jam ranking heaps and threshold filters alike; "no direction,
  * no similarity" is the contract callers actually want.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two ARRAY<FLOAT> arguments, " +
        s"got ${left.dataType.sql} and ${right.dataType.sql}")
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_cosine"

  override def nullSafeEval(a: Any, b: Any): Any =
    CosineSimilarity.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val i = ctx.freshName("i")
      val v = ctx.freshName("v")
      s"""
         |int $n = $a.numElements() < $b.numElements() ? $a.numElements() : $b.numElements();
         |double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $dot += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |}
         |for (int $i = 0; $i < $a.numElements(); $i++) {
         |  double $v = (double) $a.getFloat($i); $na += $v * $v;
         |}
         |for (int $i = 0; $i < $b.numElements(); $i++) {
         |  double $v = (double) $b.getFloat($i); $nb += $v * $v;
         |}
         |${ev.value} = ($na == 0.0 || $nb == 0.0)
         |  ? 0.0 : $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarity {
  /** graft_cosine's arithmetic outside an expression — the interpreted
    * path and the driver-side and per-partition kernels that must score
    * bit-identically to the codegen'd one (Similarity's IVF-PQ search).
    */
  def cosine(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0
    var i = 0
    while (i < n) { dot += x.getFloat(i).toDouble * y.getFloat(i).toDouble; i += 1 }
    var na = 0.0
    i = 0
    while (i < x.numElements()) { val v = x.getFloat(i).toDouble; na += v * v; i += 1 }
    var nb = 0.0
    i = 0
    while (i < y.numElements()) { val v = y.getFloat(i).toDouble; nb += v * v; i += 1 }
    if (na == 0.0 || nb == 0.0) 0.0
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }
}

/** Native codegen'd integer dot product over two `ARRAY<INT>` columns —
  * the scoring primitive of the SQ8-quantized ANN path. Accumulates in
  * LONG (64 elements × 127² maxes out far below overflow), one fused
  * loop over the common prefix, no allocation — the quantized analog of
  * `graft_cosine` for the candidate-generation hot loop where a float
  * cosine would waste 4× the memory bandwidth.
  */
case class IntDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(left, right).forall(_.dataType match {
      case ArrayType(IntegerType, _) => true
      case _ => false
    })) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two ARRAY<INT> arguments, " +
        s"got ${left.dataType.sql} and ${right.dataType.sql}")
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_int_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0L
    var i = 0
    while (i < n) { dot += x.getInt(i).toLong * y.getInt(i).toLong; i += 1 }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val i = ctx.freshName("i")
      s"""
         |int $n = $a.numElements() < $b.numElements() ? $a.numElements() : $b.numElements();
         |long $dot = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $dot += (long) $a.getInt($i) * (long) $b.getInt($i);
         |}
         |${ev.value} = $dot;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object GraftFunctions {
  /** [[HtmlEntityDecode]] as a Column, built DIRECTLY (no session
    * function registry round-trip): stripHtml is a pure DataFrame
    * transform and must not mutate session state per call — the old
    * register-then-expr path re-registered the whole function set on
    * every invocation (including per-micro-batch streaming use) and
    * could clobber a caller's own temp-function bindings.
    *
    * The Column ↔ Expression bridge (classic ExpressionUtils) is
    * private[sql] at compile time but public bytecode — read through
    * cached reflection, the same pattern as Bench.listenerCount. Any
    * API drift falls back LOUDLY to a one-time guarded registration
    * (never the per-call replace), so the transform stays pure in
    * the common path either way.
    */
  private lazy val exprBridge: Option[(java.lang.reflect.Method,
      java.lang.reflect.Method)] =
    try {
      val cls = Class.forName("org.apache.spark.sql.classic.ExpressionUtils")
      Some((
        cls.getMethod("expression", classOf[org.apache.spark.sql.Column]),
        cls.getMethod("column",
          Class.forName("org.apache.spark.sql.catalyst.expressions.Expression"))))
    } catch { case _: Throwable => None }

  def entityDecode(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    exprBridge match {
      case Some((toExpr, toCol)) =>
        val child = toExpr.invoke(null, c)
          .asInstanceOf[org.apache.spark.sql.catalyst.expressions.Expression]
        toCol.invoke(null, HtmlEntityDecode(child))
          .asInstanceOf[org.apache.spark.sql.Column]
      case None =>
        org.apache.spark.sql.functions.call_udf("graft_entity_decode", c)
    }

  /** Whether [[entityDecode]] builds the expression directly; when
    * false its call_udf fallback needs [[registerIfAbsent]] first.
    */
  def directBridge: Boolean = exprBridge.isDefined

  /** One-time registration guard: registers the function set only when
    * `graft_entity_decode` is not already bound — never the per-call
    * createOrReplace, so an existing binding (the caller's or a prior
    * registration) is left untouched.
    */
  def registerIfAbsent(spark: SparkSession): Unit =
    if (!spark.sessionState.functionRegistry.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier("graft_entity_decode")))
      register(spark)

  /** Register graft extensions on a session (idempotent). Exposed both
    * here and through GraftSessionExtensions for spark.sql.extensions.
    *
    * graft_bloom_agg / graft_might_contain surface Spark's own
    * runtime-filter Bloom machinery (BloomFilterAggregate /
    * BloomFilterMightContain — the codegen'd sketch behind AQE's
    * InjectRuntimeFilter) as callable functions: the optimizer only
    * injects them between join sides, but decontamination wants the
    * same "fixed-size filter built once, probed map-side" shape as an
    * explicit dataflow stage. Both take xxhash64(value) LONGs; the
    * filter argument of graft_might_contain must be a constant or a
    * scalar subquery (Spark's own analyzer rule enforces it).
    */
  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_cosine", exprs => CosineSimilarity(exprs(0), exprs(1)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_int_dot", exprs => IntDot(exprs(0), exprs(1)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_topk", exprs => TopKByScore(exprs(0), exprs(1), exprs(2)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_nfc", exprs => NfcNormalize(exprs(0)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_entity_decode",
      exprs => HtmlEntityDecode(exprs(0)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_bloom_agg",
      exprs => new org.apache.spark.sql.catalyst.expressions.aggregate
        .BloomFilterAggregate(exprs(0), exprs(1), exprs(2)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_might_contain",
      exprs => org.apache.spark.sql.catalyst.expressions
        .BloomFilterMightContain(exprs(0), exprs(1)), "built-in")
  }
}
