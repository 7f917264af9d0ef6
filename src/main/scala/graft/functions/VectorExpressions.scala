package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType, StringType}

/** Sequential (left-to-right) dot product of two float-array columns,
  * accumulated in double.
  *
  * Why a native Catalyst `Expression` rather than composed built-ins:
  * an explicit 64-term `a[1]*b[1] + … + a[64]*b[64]` expression tree
  * blows whole-stage codegen past janino's method limit (observed:
  * `InternalCompilerException` → interpreted fallback), and
  * `aggregate(zip_with(...))` higher-order functions are not codegen'd
  * at all. This expression emits a tight loop, keeps the whole stage in
  * codegen, and evaluates in a fixed element order so results are
  * bit-identical to the oracle's left-associated SQL sum chain — on any
  * cluster size, since per-row evaluation is partition-independent.
  *
  * Semantics: `Σ_i (double)a[i] * (double)b[i]` for i over the shorter
  * length; null if either side or any touched element is null.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  // Not ExpectsInputTypes: its inputTypes signature needs
  // AbstractDataType, which is private[sql] in Spark 4.1 and thus
  // unnameable from this package. Validate with public types instead.
  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType): Boolean = t match {
      case ArrayType(FloatType, _) => true
      case _                       => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<float> arguments, " +
        s"got ${left.dataType.catalogString} and ${right.dataType.catalogString}")
  }
  override def dataType: DataType = DoubleType
  // null on a null ELEMENT, not just a null input — same contract as
  // MicroVec/L2Micro2/SimHash64: with the default (children nullable)
  // two non-nullable inputs make codegen elide the isNull variable the
  // generated loop assigns (Janino failure → silent interpreted
  // fallback), and the declared-non-nullable output hides the
  // null-element null from downstream consumers
  override def nullable: Boolean = true
  override def prettyName: String = "graft_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var sum = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      sum += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    sum
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val sum = ctx.freshName("sum")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $sum = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($x.isNullAt($i) || $y.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  $sum += (double) $x.getFloat($i) * (double) $y.getFloat($i);
         |}
         |${ev.value} = $sum;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Float vector → exact int64 micro-units: element-wise
  * `floor((double)v * 1e6)` as long. Semantically identical to the
  * `transform(c, v => floor(v.cast(double) * 1e6).cast(long))` HOF it
  * replaces (float→double widening exact, floor tie-free), but
  * codegen'd: higher-order functions fall out of whole-stage codegen,
  * and this runs once per corpus row in every micro-unit pipeline
  * (PQ, k-means, outliers). Null if the array or any element is null.
  * NOTE this is deliberately STRICTER than the HOF on a null element:
  * `transform` kept a null element that `posexplode` + `sum` would
  * then SKIP while `count` still counted it — a half-seen vector
  * silently skewing floor(mean) centroids. Here a corrupt vector
  * drops out of every downstream aggregate at once (and a null
  * element reaching [[L2Micro2]] nulled the distance under both
  * formulations). No fixture carries null elements; the choice is
  * about which failure mode a corrupt 100 TB shard gets.
  */
case class MicroVec(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<float> argument, got ${t.catalogString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  // null on a null ELEMENT, not just a null input — without this
  // override the default (child.nullable) lets codegen elide the
  // isNull flag for non-nullable inputs and the null is lost
  override def nullable: Boolean = true
  override def prettyName: String = "graft_micro_vec"

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      if (x.isNullAt(i)) return null
      out(i) = math.floor(x.getFloat(i).toDouble * 1000000.0d).toLong
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val arr = ctx.freshName("arr")
      s"""
         |int $n = $x.numElements();
         |long[] $arr = new long[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($x.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  $arr[$i] = (long) java.lang.Math.floor((double) $x.getFloat($i) * 1000000.0d);
         |}
         |if (!${ev.isNull}) {
         |  ${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($arr);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Squared L2 distance between two equal-length int64 vectors — exact
  * integer arithmetic, no float accumulation order to disagree about.
  * Semantically identical to the `aggregate(zip_with(a, b, (x, y) =>
  * (x-y)*(x-y)), 0L, _+_)` HOF it replaces — including null on
  * length mismatch (zip_with's null padding poisons the sum) and null
  * on a null element — but codegen'd: this is the per-row × cells
  * kernel of the k-means E-step and PQ encode, the dominant per-row
  * cost at scale, and HOFs run interpreted.
  */
case class L2Micro2(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType): Boolean = t match {
      case ArrayType(LongType, _) => true
      case _                      => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<bigint> arguments, " +
        s"got ${left.dataType.catalogString} and ${right.dataType.catalogString}")
  }
  override def dataType: DataType = LongType
  // null on length mismatch or a null element even when both inputs
  // are non-nullable — see MicroVec.nullable
  override def nullable: Boolean = true
  override def prettyName: String = "graft_l2_micro2"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var sum = 0L
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val d = x.getLong(i) - y.getLong(i)
      sum += d * d
      i += 1
    }
    sum
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val sum = ctx.freshName("sum")
      val d = ctx.freshName("d")
      s"""
         |int $n = $x.numElements();
         |long $sum = 0L;
         |if ($n != $y.numElements()) { ${ev.isNull} = true; }
         |else {
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($x.isNullAt($i) || $y.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    long $d = $x.getLong($i) - $y.getLong($i);
         |    $sum += $d * $d;
         |  }
         |}
         |${ev.value} = $sum;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** 64-bit SimHash of a shingle array, per row — the streaming-side
  * formulation of the batch `x_simhash` aggregation (explode + 64
  * vote sums): every shingle votes ±1 per bit position drawn from its
  * md5, bit j set iff the vote sum is positive. Bit extraction is
  * BYTE-IDENTICAL to the batch pipeline's
  * `conv(substring(md5(s),1,8),16,10)` halves (hi = md5 bytes 0-3
  * big-endian, lo = bytes 4-7; j < 32 reads lo bit j, else hi bit
  * j−32) — SimHashParitySpec proves per-row == batch on the fixture,
  * which is what lets the streaming gate and the batch dedup family
  * share one fingerprint definition. Null if the array or any element
  * is null; an EMPTY array (doc under 3 tokens — no shingles, no
  * signal) returns 0, and the gate exempts those rows rather than
  * letting them collide on the zero fingerprint.
  */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<string> argument, got ${t.catalogString}")
  }
  override def dataType: DataType = LongType
  // null on a null ELEMENT even for a non-nullable input — see MicroVec
  override def nullable: Boolean = true
  override def prettyName: String = "graft_simhash64"

  override def nullSafeEval(a: Any): Any =
    SimHash64.compute(a.asInstanceOf[ArrayData])

  // one static call — the loop lives in compiled Scala, the wrapper
  // keeps the surrounding stage in whole-stage codegen
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      val r = ctx.freshName("r")
      s"""
         |Object $r = graft.functions.SimHash64.compute($x);
         |if ($r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = ((java.lang.Long) $r).longValue(); }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimHash64 {
  // one digest per thread, reset per element: getInstance is a JCA
  // provider lookup + allocation, and compute() runs once per ROW in
  // the streaming gate's hot path — per-row instances are pure
  // allocation/lookup overhead (MessageDigest is not thread-safe, so
  // a shared instance must be thread-local)
  private val md5 = ThreadLocal.withInitial[java.security.MessageDigest](() =>
    java.security.MessageDigest.getInstance("MD5"))

  /** Interpreted kernel shared by eval and codegen. Returns null on a
    * null element (boxed Long otherwise).
    */
  def compute(arr: ArrayData): java.lang.Long = {
    val n = arr.numElements()
    val votes = new Array[Int](64)
    val md = md5.get()
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) return null
      md.reset()
      val d = md.digest(arr.getUTF8String(i).getBytes)
      // the batch pipeline parses md5 hex: hi = first 8 hex digits =
      // bytes 0-3 big-endian, lo = next 8 = bytes 4-7
      val hi = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      val lo = ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
        ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
      var j = 0
      while (j < 64) {
        val bit = if (j < 32) (lo >>> j) & 1L else (hi >>> (j - 32)) & 1L
        votes(j) += (if (bit == 1L) 1 else -1)
        j += 1
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < 64) {
      if (votes(j) > 0) out |= (1L << j)
      j += 1
    }
    java.lang.Long.valueOf(out)
  }
}

object VectorFunctions {
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

  /** Function descriptions for [[graft.GraftExtensions]]
    * (`spark.sql.extensions`-based injection). */
  def injections: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] =
    Seq(
      (FunctionIdentifier("graft_dot"),
        new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
        exprs => DotProduct(exprs(0), exprs(1))),
      (FunctionIdentifier("graft_micro_vec"),
        new ExpressionInfo(classOf[MicroVec].getName, "graft_micro_vec"),
        exprs => MicroVec(exprs(0))),
      (FunctionIdentifier("graft_l2_micro2"),
        new ExpressionInfo(classOf[L2Micro2].getName, "graft_l2_micro2"),
        exprs => L2Micro2(exprs(0), exprs(1))),
      (FunctionIdentifier("graft_simhash64"),
        new ExpressionInfo(classOf[SimHash64].getName, "graft_simhash64"),
        exprs => SimHash64(exprs(0))),
      (FunctionIdentifier("graft_bloom_novelty_ppm"),
        new ExpressionInfo(classOf[BloomNoveltyPpm].getName, "graft_bloom_novelty_ppm"),
        exprs => BloomNoveltyPpm(exprs(0), exprs(1))))

  /** Idempotently registers graft's native expressions with the session
    * function registry (also usable from SQL as `graft_dot(a, b)` etc.).
    */
  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_dot", exprs => DotProduct(exprs(0), exprs(1)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_micro_vec", exprs => MicroVec(exprs(0)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_l2_micro2", exprs => L2Micro2(exprs(0), exprs(1)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_simhash64", exprs => SimHash64(exprs(0)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_bloom_novelty_ppm",
      exprs => BloomNoveltyPpm(exprs(0), exprs(1)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_bigram_fluency_ppm",
      exprs => BigramFluencyPpm(exprs(0), exprs(1)), "built-in")
  }

  def dot(spark: SparkSession, a: Column, b: Column): Column = {
    register(spark)
    call_function("graft_dot", a, b)
  }

  def microVec(spark: SparkSession, a: Column): Column = {
    register(spark)
    call_function("graft_micro_vec", a)
  }

  def l2Micro2(spark: SparkSession, a: Column, b: Column): Column = {
    register(spark)
    call_function("graft_l2_micro2", a, b)
  }

  def simhash64(spark: SparkSession, a: Column): Column = {
    register(spark)
    call_function("graft_simhash64", a)
  }

  def bloomNoveltyPpm(spark: SparkSession, shingles: Column,
      filterBytes: Array[Byte]): Column = {
    register(spark)
    call_function("graft_bloom_novelty_ppm", shingles,
      org.apache.spark.sql.functions.lit(filterBytes))
  }

  def bigramFluencyPpm(spark: SparkSession, tokens: Column,
      statsBytes: Array[Byte]): Column = {
    register(spark)
    call_function("graft_bigram_fluency_ppm", tokens,
      org.apache.spark.sql.functions.lit(statsBytes))
  }
}
