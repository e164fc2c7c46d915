package graft.functions.expressions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression: cosine similarity of two
  * `array<float>` embedding columns, computed in a single fused pass
  * (dot product and both norms in one loop, double accumulation in
  * index order).
  *
  * Why a custom expression instead of
  * `aggregate(zip_with(a, b, _*_), 0d, _+_)`: the built-in
  * higher-order-function composition allocates an intermediate array
  * per row and walks the vectors three times (dot, |a|, |b|); this
  * expression participates in whole-stage codegen with a tight
  * primitive loop and zero allocation — the difference is material
  * when scoring billions of candidate pairs. Accumulation order is
  * identical to the sequential fold, so results equal the built-in
  * formulation bit-for-bit (asserted in tests).
  *
  * Returns null if either vector has zero norm. Vectors of unequal
  * length are scored over the common prefix.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<float> arguments, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "cosine_similarity"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
    while (i < n) {
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      dot += xi * yi; nx += xi * xi; ny += yi * yi; i += 1
    }
    if (nx == 0.0 || ny == 0.0) null
    else java.lang.Double.valueOf(dot / (math.sqrt(nx) * math.sqrt(ny)))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      s"""
        int $n = Math.min($a.numElements(), $b.numElements());
        double $dot = 0.0, $nx = 0.0, $ny = 0.0;
        for (int $i = 0; $i < $n; $i++) {
          double $xi = (double) $a.getFloat($i);
          double $yi = (double) $b.getFloat($i);
          $dot += $xi * $yi; $nx += $xi * $xi; $ny += $yi * $yi;
        }
        if ($nx == 0.0 || $ny == 0.0) {
          ${ev.isNull} = true;
        } else {
          ${ev.value} = $dot / (Math.sqrt($nx) * Math.sqrt($ny));
        }
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Double-lane sibling of [[CosineSimilarity]]: cosine of an
  * `array<float>` vector against an `array<double>` vector (the
  * rounded-centroid shape of `emb_label_cohesion`), all three
  * accumulators in double over the common prefix in index order —
  * bit-for-bit the `zip_with`+`aggregate` higher-order-function chain
  * it replaces (asserted in KernelLawsSpec), but fused into one
  * codegen loop with zero per-row allocation. The float kernel cannot
  * serve here: narrowing the centroid to float32 would erase the
  * 1e-6 centroid rounding the oracle contract depends on.
  *
  * Returns null if either vector has zero norm (no zero-norm vectors
  * exist in the verified corpora; the sibling-kernel convention keeps
  * a degenerate row as a skippable null instead of a NaN).
  */
case class CosineSimilarityD(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<float>, array<double>), got " +
          s"(${l.simpleString}, ${r.simpleString})")
    }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "cosine_similarity_d"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
    while (i < n) {
      val xi = x.getFloat(i).toDouble
      val yi = y.getDouble(i)
      dot += xi * yi; nx += xi * xi; ny += yi * yi; i += 1
    }
    if (nx == 0.0 || ny == 0.0) null
    else java.lang.Double.valueOf(dot / (math.sqrt(nx) * math.sqrt(ny)))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      s"""
        int $n = Math.min($a.numElements(), $b.numElements());
        double $dot = 0.0, $nx = 0.0, $ny = 0.0;
        for (int $i = 0; $i < $n; $i++) {
          double $xi = (double) $a.getFloat($i);
          double $yi = $b.getDouble($i);
          $dot += $xi * $yi; $nx += $xi * $xi; $ny += $yi * $yi;
        }
        if ($nx == 0.0 || $ny == 0.0) {
          ${ev.isNull} = true;
        } else {
          ${ev.value} = $dot / (Math.sqrt($nx) * Math.sqrt($ny));
        }
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** The engine's native expressions, callable from both the Column API
  * (`call_function`) and SQL. Query code does not register them: a
  * session gets them from [[GraftExtensions]] via `spark.sql.extensions`,
  * which [[graft.GraftSession]] sets, or from one [[register]] call on a
  * session built elsewhere.
  */
object GraftFunctions {
  val CosineName = "graft_cosine_similarity"
  val CosineDName = "graft_cosine_similarity_d"
  val DotName = "graft_vector_dot"
  val DotIntName = "graft_vector_dot_int"
  val WSqDistName = "graft_weighted_sq_dist"
  val AsofName = "graft_asof_last"
  val ShingleName = "graft_shingle_hashes"
  val CellTopName = "graft_cell_top_k"

  /** Every native expression as one (name, info, builder) row — the
    * single table both registration paths iterate: [[register]] per
    * session, [[GraftExtensions]] via `spark.sql.extensions`.
    */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = {
    def fn(name: String, usage: String)(builder: Seq[Expression] => Expression) =
      (FunctionIdentifier(name),
        new ExpressionInfo(getClass.getName.stripSuffix("$"), null, name, usage,
          "", "", "", "", "", "", "built-in"),
        builder)
    Seq(
      fn(CosineName,
        "cosine similarity of two array<float> vectors (fused single pass)")(
        exprs => CosineSimilarity(exprs(0), exprs(1))),
      fn(CosineDName,
        "cosine of array<float> against array<double>, double accumulation")(
        exprs => CosineSimilarityD(exprs(0), exprs(1))),
      fn(DotName,
        "dot product of an array<float> vector with an array<double> constant")(
        exprs => DotProduct(exprs(0), exprs(1))),
      fn(DotIntName,
        "exact integer dot of two array<int> code vectors, long accumulation")(
        exprs => DotProductInt(exprs(0), exprs(1))),
      fn(WSqDistName,
        "diagonal-Mahalanobis weighted squared distance to a constant center")(
        exprs => WeightedSqDist(exprs(0), exprs(1), exprs(2))),
      fn(AsofName,
        "last struct of a sorted timeline array with t <= key (as-of probe)")(
        exprs => AsofLast(exprs(0), exprs(1))),
      fn(ShingleName,
        "xxhash64 of word n-grams (default n=5), distinct unless the third argument is false")({
        case Seq(text) => ShingleHashes(text, 5)
        case Seq(text, n) => ShingleHashes(text, n.eval().asInstanceOf[Int])
        case exprs => ShingleHashes(exprs(0),
          exprs(1).eval().asInstanceOf[Int],
          exprs(2).eval().asInstanceOf[Boolean])
      }),
      fn(CellTopName,
        "top-k quantizer cells of a vector by (cosine desc, cell asc)")(
        exprs => CellTopK(exprs(0), exprs(1), exprs(2).eval().asInstanceOf[Int])))
  }

  /** Registers [[functions]] into a session built without
    * [[GraftExtensions]], skipping names its registry already holds so
    * repeated calls do not re-register and log a replacement WARN.
    */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    functions.foreach { case (id, info, builder) =>
      if (!registry.functionExists(id)) registry.registerFunction(id, info, builder)
    }
  }

  /** Column-API handle: `cosineSim($"a", $"b")`. */
  def cosineSim(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.call_function(CosineName, a, b)

  /** Column-API handle: `cosineSimD($"emb", $"centroid")` —
    * `array<float>` against `array<double>`, double accumulation.
    */
  def cosineSimD(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.call_function(CosineDName, a, b)

  /** Column-API handle: `vectorDot($"embedding", typedLit(plane))`. */
  def vectorDot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.call_function(DotName, a, b)

  /** Column-API handle: `vectorDotInt($"qa", $"qb")` — exact integer
    * dot of two int8-code arrays, long accumulation.
    */
  def vectorDotInt(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.call_function(DotIntName, a, b)

  /** Column-API handle: `weightedSqDist($"emb", typedLit(mu), typedLit(w))`. */
  def weightedSqDist(x: org.apache.spark.sql.Column, mu: org.apache.spark.sql.Column,
      w: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.call_function(WSqDistName, x, mu, w)

  /** Column-API handle: `asofLast($"timeline", $"ts")`. */
  def asofLast(arr: org.apache.spark.sql.Column, key: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.call_function(AsofName, arr, key)

  /** Column-API handle: `shingleHashes($"text")` — distinct xxhash64
    * of word 5-grams.
    */
  def shingleHashes(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.call_function(ShingleName, text)

  /** Column-API handle: `shingleInstanceHashes($"text", n)` — EVERY
    * word n-gram instance's xxhash64 in document order (no dedup);
    * each value equals `xxhash64(concat_ws(" ", w_i…w_{i+n-1}))`.
    */
  def shingleInstanceHashes(text: org.apache.spark.sql.Column, n: Int): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.call_function(ShingleName, text,
      org.apache.spark.sql.functions.lit(n), org.apache.spark.sql.functions.lit(false))

  /** Column-API handle: `cellTopK($"embedding", $"qcells", k)` — top-k
    * quantizer cells by (cosine DESC, cell ASC).
    */
  def cellTopK(v: org.apache.spark.sql.Column, cells: org.apache.spark.sql.Column,
      k: Int): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.call_function(CellTopName, v, cells,
      org.apache.spark.sql.functions.lit(k))
}
