package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}
import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.functions.call_function

/** Native Catalyst expression: cosine similarity of two float vectors.
  *
  * Semantically identical to the composed-builtin form (left-associated
  * Σ a[i]·b[i] over doubles — see Similarity.dotCol), so it is
  * bit-for-bit compatible with the DuckDB oracle chains, but evaluated as
  * a tight generated loop instead of a 3×64-term expression tree: smaller
  * generated code (friendlier to the JIT code cache), no per-element
  * boxing, and dimension-generic.
  *
  * This is preference order (b) from the build plan — a custom
  * `Expression` with `doGenCode`, used where composing builtins is
  * possible but measurably worse.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    // float OR double arrays, independently per side: IVF scores float
    // corpus vectors against double centroids (exact Lloyd means)
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_sim expects two array<float|double> arguments, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  private def isFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "cosine_sim"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val lf = isFloat(left); val rf = isFloat(right)
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xi = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yi = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // freshName: this expression can appear several times in one
      // generated method; fixed local names would collide
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val i = ctx.freshName("i")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      def get(arr: String, ix: String, float: Boolean): String =
        if (float) s"(double) $arr.getFloat($ix)" else s"$arr.getDouble($ix)"
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = ${get(a, i, isFloat(left))};
         |  double $y = ${get(b, i, isFloat(right))};
         |  $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object GraftFunctions {

  val cosineSimBuilder: Seq[Expression] => Expression =
    exprs => CosineSimilarity(exprs(0), exprs(1))

  val lshBucketBuilder: Seq[Expression] => Expression = {
    case Seq(e) => LshBucket(e, 6)
    case exprs => LshBucket(exprs(0),
      exprs(1).eval().asInstanceOf[Number].intValue())
  }

  val nfcNormalizeBuilder: Seq[Expression] => Expression =
    exprs => NfcNormalize(exprs(0))

  /** `word_tokens(text)` ≡ `regexp_extract_all(lower(text), '[a-z'']+', 0)`:
    * Catalyst's own `Lower` stays in the plan as the child. */
  val wordTokensBuilder: Seq[Expression] => Expression =
    exprs => WordTokens(org.apache.spark.sql.catalyst.expressions.Lower(exprs(0)))

  /** Spark ships a Bloom-filter build/probe pair as Catalyst expressions
    * (`BloomFilterAggregate` / `BloomFilterMightContain`, the machinery
    * behind its own runtime-filter join pruning) but does not register
    * them as SQL-callable functions. Exposing them session-scoped gives
    * the engine a codegen'd, driver-free Bloom path — build is a
    * distributed partial-aggregable fold into a bit array, probe is a
    * map-side bit test against a scalar-subquery result (the exact plan
    * shape of Spark's InjectRuntimeFilter) — with no UDF anywhere. */
  val bloomAggBuilder: Seq[Expression] => Expression = {
    case Seq(c) =>
      new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(c)
    case Seq(c, n) =>
      new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(c, n)
    case exprs =>
      new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
        exprs(0), exprs(1), exprs(2))
  }

  val mightContainBuilder: Seq[Expression] => Expression =
    exprs => org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
      exprs(0), exprs(1))

  /** Idempotent per-session registration (temp functions). */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("cosine_sim", cosineSimBuilder, "scala_udf")
    reg.createOrReplaceTempFunction("lsh_bucket", lshBucketBuilder, "scala_udf")
    reg.createOrReplaceTempFunction("nfc_normalize", nfcNormalizeBuilder, "scala_udf")
    reg.createOrReplaceTempFunction("word_tokens", wordTokensBuilder, "scala_udf")
    reg.createOrReplaceTempFunction("graft_bloom_agg", bloomAggBuilder, "scala_udf")
    reg.createOrReplaceTempFunction("graft_might_contain", mightContainBuilder, "scala_udf")
  }

  /** Column API over the registered functions. */
  def cosine_sim(spark: SparkSession, a: Column, b: Column): Column = {
    register(spark)
    call_function("cosine_sim", a, b)
  }

  def lsh_bucket(spark: SparkSession, e: Column, planes: Int): Column = {
    register(spark)
    call_function("lsh_bucket", e, org.apache.spark.sql.functions.lit(planes))
  }

  def nfc_normalize(spark: SparkSession, s: Column): Column = {
    register(spark)
    call_function("nfc_normalize", s)
  }
}

/** SparkSessionExtensions injection point — lets any user session load
  * the engine's functions via
  * `spark.sql.extensions=graft.functions.GraftExtensions`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      new FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
      GraftFunctions.cosineSimBuilder))
    e.injectFunction((
      new FunctionIdentifier("lsh_bucket"),
      new ExpressionInfo(classOf[LshBucket].getName, "lsh_bucket"),
      GraftFunctions.lshBucketBuilder))
    e.injectFunction((
      new FunctionIdentifier("nfc_normalize"),
      new ExpressionInfo(classOf[NfcNormalize].getName, "nfc_normalize"),
      GraftFunctions.nfcNormalizeBuilder))
    e.injectFunction((
      new FunctionIdentifier("word_tokens"),
      new ExpressionInfo(classOf[WordTokens].getName, "word_tokens"),
      GraftFunctions.wordTokensBuilder))
    e.injectFunction((
      new FunctionIdentifier("graft_bloom_agg"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
        "graft_bloom_agg"),
      GraftFunctions.bloomAggBuilder))
    e.injectFunction((
      new FunctionIdentifier("graft_might_contain"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
        "graft_might_contain"),
      GraftFunctions.mightContainBuilder))
  }
}
