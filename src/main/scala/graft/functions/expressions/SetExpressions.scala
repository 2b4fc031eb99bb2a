package graft.functions.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{ArrayIntersect, BinaryExpression, Expression, Size}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `|distinct(a) ∩ distinct(b)|` for string arrays without materializing the
  * intersection array — value-identical to `size(array_intersect(a, b))`,
  * which builds (hash set + ArrayData + copy) only to count it. This is the
  * hot kernel of near-dup Jaccard verification, where both sides are
  * per-document shingle arrays.
  */
object IntersectionSizeKernel {
  def count(a: ArrayData, b: ArrayData): Int = {
    val (small, large) = if (a.numElements() <= b.numElements()) (a, b) else (b, a)
    val n = small.numElements()
    val set = new java.util.HashSet[UTF8String](n * 2)
    var smallHasNull = false
    var i = 0
    while (i < n) {
      if (small.isNullAt(i)) smallHasNull = true
      else set.add(small.getUTF8String(i))
      i += 1
    }
    var c = 0
    var nullCounted = false
    val m = large.numElements()
    i = 0
    while (i < m) {
      if (large.isNullAt(i)) {
        if (smallHasNull && !nullCounted) { c += 1; nullCounted = true }
      } else if (set.remove(large.getUTF8String(i))) c += 1 // remove ⇒ distinct
      i += 1
    }
    c
  }
}

case class IntersectionSize(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(StringType, _), ArrayType(StringType, _)) => TypeCheckResult.TypeCheckSuccess
    case (a, b) => TypeCheckResult.TypeCheckFailure(
      s"graft_intersect_size needs (array<string>, array<string>), got (${a.sql}, ${b.sql})")
  }

  // IntegerType on purpose: drop-in for size(array_intersect(...))
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_intersect_size"

  protected override def nullSafeEval(a: Any, b: Any): Any =
    IntersectionSizeKernel.count(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.expressions.IntersectionSizeKernel.count($a, $b)")

  protected override def withNewChildrenInternal(
      l: Expression, r: Expression): IntersectionSize = copy(left = l, right = r)
}

/** Optimizer rewrite: `size(array_intersect(a, b))` over string arrays →
  * [[IntersectionSize]], skipping the intermediate array. Applies only in
  * non-legacy size semantics (`size(null)` = null on both shapes then).
  * Injected by [[graft.GraftExtensions]].
  */
object IntersectSizeRewrite extends Rule[LogicalPlan] {
  private def isStringArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(StringType, _) => true
    case _ => false
  }
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case Size(ArrayIntersect(l, r), false) if isStringArray(l) && isStringArray(r) =>
      IntersectionSize(l, r)
  }
}

/** Membership probe against a BROADCAST sorted long array (binary search,
  * zero per-row allocation) — exact long-set `IN` as a codegen'd scan
  * expression. The inline replacement for a stream-static hash-set join:
  * a static blocklist of hashed keys folds to one broadcast array and the
  * probe fuses into the consumer's projection (works inside higher-order
  * lambdas, e.g. filtering a sentence array by hash membership). NULL
  * keys return NULL, like any unary expression.
  *
  * `sorted` MUST be sorted ascending (callers sort once at build);
  * equality/canonicalization keys on the broadcast id, like
  * BloomMightContain.
  */
case class LongSetContains(child: Expression,
                           sorted: org.apache.spark.broadcast.Broadcast[Array[Long]])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_long_set_contains needs a long key, got ${other.sql}")
  }
  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_long_set_contains"

  def contains(v: Long): Boolean =
    java.util.Arrays.binarySearch(sorted.value, v) >= 0

  protected override def nullSafeEval(input: Any): Any =
    contains(input.asInstanceOf[Long])

  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("longSetProbe", this, classOf[LongSetContains].getName)
    defineCodeGen(ctx, ev, c => s"$ref.contains($c)")
  }

  override def equals(other: Any): Boolean = other match {
    case e: LongSetContains =>
      (this eq e) || (child == e.child && sorted.id == e.sorted.id)
    case _ => false
  }
  override def hashCode(): Int =
    java.util.Objects.hash(classOf[LongSetContains], child,
      java.lang.Long.valueOf(sorted.id))

  protected override def withNewChildInternal(newChild: Expression): LongSetContains =
    copy(child = newChild)
}

object LongSetContains {
  /** Broadcast `sorted` (ascending) once and return the membership probe
    * over it: long-typed key column → [[LongSetContains]] column. Every
    * column the probe builds shares the one broadcast.
    */
  def probe(spark: org.apache.spark.sql.SparkSession,
            sorted: Array[Long]): org.apache.spark.sql.Column =>
      org.apache.spark.sql.Column = {
    val bc = spark.sparkContext.broadcast(sorted)
    key => org.apache.spark.sql.graft.Bridge.column(
      LongSetContains(org.apache.spark.sql.graft.Bridge.expression(key), bc))
  }
}
