package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftglue.Glue
import org.apache.spark.sql.types._

/**
 * Vector distance expressions for the vector-search path.
 *
 * The reference exposes two metrics on fixed-size-list float columns —
 * `l2sq` (squared L2) and `ip` (inner product) — consumed by a generated
 * `ORDER BY dist LIMIT k` query (vastdb/_adbc.py:133-159,
 * vastdb/tests/test_vector_search.py:14-15, 80-146). Here they are native
 * Catalyst expressions with whole-stage codegen (`doGenCode` emits a tight
 * primitive loop, no boxing), so a brute-force top-k stays inside
 * WholeStageCodegen and Spark plans it as TakeOrderedAndProject — a true
 * distributed top-k (per-partition heap + driver merge), which is the
 * 100 TB-safe shape for k ≪ n.
 *
 * Elements may be float or double arrays; accumulation is double.
 */
abstract class VectorFold extends BinaryExpression with Serializable {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float>/array<double> inputs, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  protected def isFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  /** scala fold step given x=left(i), y=right(i): returns new acc */
  protected def step(acc: Double, x: Double, y: Double): Double
  /** java source for the loop body; acc/x/y are double variable names */
  protected def stepCode(acc: String, x: String, y: String): String

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    val lf = isFloat(left)
    val rf = isFloat(right)
    var acc = 0.0
    var i = 0
    while (i < n) {
      val x = if (lf) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (rf) b.getFloat(i).toDouble else b.getDouble(i)
      acc = step(acc, x, y)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lGet = if (isFloat(left)) "getFloat" else "getDouble"
    val rGet = if (isFloat(right)) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = (double) $a.$lGet($i);
         |  double $y = (double) $b.$rGet($i);
         |  ${stepCode(acc, x, y)}
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })
  }
}

/** Squared Euclidean distance — reference metric `l2sq`. */
case class L2SquaredDistance(left: Expression, right: Expression) extends VectorFold {
  override def prettyName: String = "l2sq"
  protected def step(acc: Double, x: Double, y: Double): Double = {
    val d = x - y; acc + d * d
  }
  protected def stepCode(acc: String, x: String, y: String): String = {
    val d = s"d_$acc"
    s"double $d = $x - $y; $acc += $d * $d;"
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** Inner product — reference metric `ip` (similarity; negate for distance). */
case class InnerProduct(left: Expression, right: Expression) extends VectorFold {
  override def prettyName: String = "ip"
  protected def step(acc: Double, x: Double, y: Double): Double = acc + x * y
  protected def stepCode(acc: String, x: String, y: String): String =
    s"$acc += $x * $y;"
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** Cosine similarity — extension metric for embedding near-dup detection. */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression with Serializable {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_sim requires array<float>/array<double> inputs")
  }

  private def isFloat(e: Expression) =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    val lf = isFloat(left); val rf = isFloat(right)
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = if (lf) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (rf) b.getFloat(i).toDouble else b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lGet = if (isFloat(left)) "getFloat" else "getDouble"
    val rGet = if (isFloat(right)) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val dot = ctx.freshName("dot"); val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double x = (double) $a.$lGet($i);
         |  double y = (double) $b.$rGet($i);
         |  $dot += x * y; $na += x * x; $nb += y * y;
         |}
         |${ev.value} = ($na == 0.0 || $nb == 0.0) ? 0.0 : $dot / java.lang.Math.sqrt($na * $nb);
       """.stripMargin
    })
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/**
 * IEEE-754 bits of a double as a sortable long — `Double.doubleToLongBits`
 * (canonical NaN), pure codegen. For NON-NEGATIVE doubles (and NaN) the
 * bit pattern is order-isomorphic to Spark's double ordering: bits grow
 * monotonically from +0.0 through +Inf, and canonical NaN bits sit above
 * +Inf, matching Spark's NaN-greatest ordering. That makes `(d, id)`
 * winner elections packable into one DECIMAL(38,0) HashAggregate key
 * (`bits·2³¹ + id`) instead of a `min(struct)` that plans as SortAggregate
 * — see `Similarity.ivfAssign` / `Quantization.pqEncode`. NOT valid for
 * negative doubles (their bit patterns sort reversed) — callers use it on
 * squared distances only.
 */
case class DoubleSortBits(child: Expression) extends UnaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = LongType
  override def prettyName: String = "double_sort_bits"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case DoubleType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"double_sort_bits requires double, got ${other.simpleString}")
  }

  override def nullSafeEval(v: Any): Any =
    java.lang.Double.doubleToLongBits(v.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"Double.doubleToLongBits($c)")

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/**
 * The sign-flip variant of [[DoubleSortBits]]: a long whose SIGNED order is
 * isomorphic to Spark's ordering over ALL doubles — negatives included —
 * not just non-negative ones. `bits >= 0 ? bits : bits ^ 0x7FFF…` keeps
 * positive patterns (which already sort correctly, NaN-greatest via the
 * canonical `doubleToLongBits` NaN above +Inf) and flips the magnitude
 * lanes of negative patterns (raw negative-double bits sort REVERSED as
 * signed longs; the XOR restores −Inf < … < −0.0). `-0.0` normalizes to
 * `+0.0` first because Spark's comparator (`SQLOrderingUtil.compareDoubles`)
 * treats them EQUAL — distinct keys there would let `-0.0` win elections
 * Spark's own struct ordering would tie-break by id. Real doubles never map
 * to Long.MinValue ‥ flipped(−Inf)−1, so callers can use that band for
 * explicit sentinels (see `Distances.packScoreId`).
 */
case class DoubleTotalOrderBits(child: Expression) extends UnaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = LongType
  override def prettyName: String = "double_total_order_bits"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case DoubleType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"double_total_order_bits requires double, got ${other.simpleString}")
  }

  override def nullSafeEval(v: Any): Any = {
    val d = v.asInstanceOf[Double]
    val bits = java.lang.Double.doubleToLongBits(if (d == 0.0d) 0.0d else d)
    if (bits >= 0L) bits else bits ^ 0x7FFFFFFFFFFFFFFFL
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val bits = ctx.freshName("bits")
      s"""
         |long $bits = Double.doubleToLongBits(($c == 0.0D) ? 0.0D : $c);
         |${ev.value} = ($bits >= 0L) ? $bits : ($bits ^ 0x7FFFFFFFFFFFFFFFL);
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

object Distances {
  /** Squared L2 distance between two float/double array columns. */
  def l2sq(a: Column, b: Column): Column =
    Glue.column(L2SquaredDistance(Glue.expression(a), Glue.expression(b)))
  /** Sortable IEEE bits of a non-negative double (see [[DoubleSortBits]]). */
  def sortBits(d: Column): Column =
    Glue.column(DoubleSortBits(Glue.expression(d)))

  /** (distance, id) packed into ONE DECIMAL(38,0) HashAggregate key:
    * `bits(d)·2³¹ + id` — order-isomorphic to lexicographic (d, id) under
    * [[DoubleSortBits]]' non-negative-distance contract. GUARDED: the id
    * must sit in [0, 2³¹) or adjacent distance slots would overlap and the
    * unpack would silently return a wrong id — out-of-range ids fail the
    * query instead (the in-repo centroid/code ids are dense non-negative
    * ints by construction; the guard is for caller-supplied tables).
    * Unpack with [[unpackPackedId]]. */
  private val IdSlot = 2147483648L // 2^31
  def packDistId(d: Column, id: Column): Column = {
    import org.apache.spark.sql.functions._
    val checkedId = when(id >= 0L && id < IdSlot, id)
      .otherwise(raise_error(concat(
        lit("packDistId: id out of [0, 2^31): "),
        coalesce(id.cast("string"), lit("NULL")))))
    sortBits(d).cast(org.apache.spark.sql.types.DecimalType(38, 0)) *
      lit(IdSlot) + checkedId
  }
  /** The id lane of a [[packDistId]] value. */
  def unpackPackedId(pk: Column): Column = {
    import org.apache.spark.sql.functions._
    (pk % lit(IdSlot)).cast("long")
  }

  /** Sortable bits of ANY double — negatives, ±0 collapse, NaN-greatest —
    * see [[DoubleTotalOrderBits]]. */
  def totalOrderBits(d: Column): Column =
    Glue.column(DoubleTotalOrderBits(Glue.expression(d)))

  /** (score-like key, id) packed into ONE DECIMAL(38,0) HashAggregate key —
    * the SIGN-CAPABLE sibling of [[packDistId]]: `totalOrderBits(d)·2⁶² +
    * (id + 2⁶¹)`, order-isomorphic to Spark's lexicographic (d, id) for any
    * finite-or-not double `d`. 128 bits do not fit DECIMAL(38,0), so the id
    * lane is 62 bits: ids must sit in [−2⁶¹, 2⁶¹) or the lanes would
    * overlap — out-of-range ids FAIL LOUDLY (a silently wrong winner is the
    * one unacceptable outcome; full-range hashed ids keep the struct-min
    * path). A NULL key maps into the sentinel band BELOW every real double
    * (Long.MinValue — [[DoubleTotalOrderBits]] reserves it), matching the
    * nulls-first field ordering `min(struct(d, id))` applies, so the packed
    * election is value-identical to the struct election null-for-null.
    * Unpack with [[unpackScoreId]]. */
  private val IdHalf = 2305843009213693952L // 2^61
  private val IdSlot62 = java.math.BigDecimal.valueOf(IdHalf).add(
    java.math.BigDecimal.valueOf(IdHalf)) // 2^62, exact decimal
  def packScoreId(d: Column, id: Column): Column = {
    import org.apache.spark.sql.functions._
    val checkedId = when(id >= -IdHalf && id < IdHalf, id + lit(IdHalf))
      .otherwise(raise_error(concat(
        lit("packScoreId: id out of [-2^61, 2^61): "),
        coalesce(id.cast("string"), lit("NULL")))))
    val keyBits = when(d.isNull, lit(Long.MinValue)).otherwise(totalOrderBits(d))
    keyBits.cast(org.apache.spark.sql.types.DecimalType(38, 0)) *
      lit(IdSlot62) + checkedId
  }
  /** The id lane of a [[packScoreId]] value. */
  def unpackScoreId(pk: Column): Column = {
    import org.apache.spark.sql.functions._
    pmod(pk, lit(IdSlot62)).cast("long") - lit(IdHalf)
  }
  /** Inner product (higher = more similar). */
  def ip(a: Column, b: Column): Column =
    Glue.column(InnerProduct(Glue.expression(a), Glue.expression(b)))
  /** Cosine similarity in [-1, 1]. */
  def cosineSim(a: Column, b: Column): Column =
    Glue.column(CosineSimilarity(Glue.expression(a), Glue.expression(b)))

  /** Register SQL names (reference server exposes `array_distance`,
    * vastdb/tests/test_vector_search.py:14-15). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = Glue.registry(spark)
    reg.createOrReplaceTempFunction("l2sq", es => L2SquaredDistance(es(0), es(1)), "built-in")
    reg.createOrReplaceTempFunction("array_distance", es => L2SquaredDistance(es(0), es(1)), "built-in")
    reg.createOrReplaceTempFunction("inner_product", es => InnerProduct(es(0), es(1)), "built-in")
    reg.createOrReplaceTempFunction("cosine_sim", es => CosineSimilarity(es(0), es(1)), "built-in")
  }
}
