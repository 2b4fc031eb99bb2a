package graft.functions.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
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

/** The rows a driver-held table files under `child`'s value, read from a
  * BROADCAST hash map: the rows of one key as an array of structs, empty
  * for an absent or null key. `inline` over it is an inner equi-join
  * against rows the driver already holds, with no exchange and no job (a
  * `broadcast(LocalRelation)` join runs one to collect its build side).
  * Generated code holds the expression by reference, so the table's
  * contents never enter the source and a new table compiles nothing; for
  * the same reason it is never folded to a literal, even on a constant
  * key. Keys are `LongType` (boxed) or `StringType` (`UTF8String`) values;
  * equality/canonicalization keys on the broadcast id, like
  * [[LongSetContains]].
  */
case class KeyedRows(child: Expression,
                     table: org.apache.spark.broadcast.Broadcast[
                       java.util.HashMap[AnyRef, ArrayData]],
                     rowType: StructType)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType | StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_keyed_rows needs a long or string key, got ${other.sql}")
  }
  override def dataType: DataType = ArrayType(rowType, containsNull = false)
  override def nullable: Boolean = false
  override def foldable: Boolean = false
  override def prettyName: String = "graft_keyed_rows"

  def lookup(key: AnyRef): ArrayData = {
    val rows = if (key == null) null else table.value.get(key)
    if (rows == null) KeyedRows.none else rows
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    lookup(child.eval(input).asInstanceOf[AnyRef])

  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("keyedRows", this, classOf[KeyedRows].getName)
    val k = child.genCode(ctx)
    val boxed = if (child.dataType == LongType) s"java.lang.Long.valueOf(${k.value})"
      else k.value.toString
    ev.copy(code = code"""
      ${k.code}
      ${CodeGenerator.javaType(dataType)} ${ev.value} =
        $ref.lookup(${k.isNull} ? null : (Object) $boxed);""",
      isNull = FalseLiteral)
  }

  override def equals(other: Any): Boolean = other match {
    case e: KeyedRows =>
      (this eq e) || (child == e.child && table.id == e.table.id)
    case _ => false
  }
  override def hashCode(): Int =
    java.util.Objects.hash(classOf[KeyedRows], child,
      java.lang.Long.valueOf(table.id))

  protected override def withNewChildInternal(newChild: Expression): KeyedRows =
    copy(child = newChild)
}

object KeyedRows {
  private val none: ArrayData = new org.apache.spark.sql.catalyst.util.GenericArrayData(
    Array.empty[Any])
}
