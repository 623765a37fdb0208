package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Predicate}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.SqlShims
import org.apache.spark.sql.types.{ArrayType, IntegerType}

/** The LSH candidate predicate: true iff, for some table t, the row's
  * bucket in table t is in the query's probe set for t (the query's own
  * bucket, or its 1-bit ball under multi-probe). It reads one of two
  * row shapes:
  *  - one `ARRAY<INT>` of per-table buckets, element t being table t's
  *    bucket (the [[graft.index.IndexCache]] bucketed frame);
  *  - a `(table INT, bucket INT)` pair, one row per table (the
  *    [[graft.index.LshIndexStore]] layout).
  *
  * A NULL array, element, table or bucket, and a table with no probe
  * set, never matches, and the result is never NULL, so as a WHERE
  * clause it keeps exactly the rows the per-table
  * `buckets[t] = b_t OR ...` disjunction keeps.
  *
  * Why an Expression and not that disjunction: the probe sets are data,
  * not code. They reach generated code through `ctx.addReferenceObj`,
  * so the generated source is the same for every query and the driver
  * and executor codegen caches hit after the first one. The disjunction
  * would inline every bucket id as a Java constant, so each query would
  * compile its whole stage again. `sets` is a `Seq` so the expression
  * has value equality and prints its buckets.
  */
case class LshBucketProbe(children: Seq[Expression], sets: Seq[Seq[Int]])
    extends Expression with Predicate {

  private val overArray = children.size == 1

  /** `sets` as sorted arrays, the form eval and generated code search. */
  @transient private lazy val probe: Array[Array[Int]] =
    sets.map(_.distinct.sorted.toArray).toArray

  override def checkInputDataTypes(): TypeCheckResult = children.map(_.dataType) match {
    case Seq(ArrayType(IntegerType, _)) | Seq(IntegerType, IntegerType) =>
      TypeCheckResult.TypeCheckSuccess
    case ts => TypeCheckResult.TypeCheckFailure(
      s"$prettyName takes ARRAY<INT> buckets or (INT table, INT bucket), got ${ts.mkString(", ")}")
  }
  override def nullable: Boolean = false
  override def prettyName: String = "lsh_probe"

  private def setsString: String = sets.map(_.mkString("[", ",", "]")).mkString("[", ",", "]")
  override def toString: String = s"$prettyName(${children.mkString(", ")}, $setsString)"
  override def sql: String = s"$prettyName(${children.map(_.sql).mkString(", ")}, '$setsString')"

  override def eval(input: InternalRow): Any =
    if (overArray) {
      val a = children.head.eval(input)
      a != null && LshBucketProbe.anyTable(a.asInstanceOf[ArrayData], probe)
    } else {
      val t = children.head.eval(input)
      t != null && {
        val b = children(1).eval(input)
        b != null && LshBucketProbe.inTable(probe, t.asInstanceOf[Int], b.asInstanceOf[Int])
      }
    }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("probeSets", probe, "int[][]")
    val self = "graft.expressions.LshBucketProbe"
    val test =
      if (overArray) {
        val a = children.head.genCode(ctx)
        code"""
          |${a.code}
          |boolean ${ev.value} = !${a.isNull} && $self.anyTable(${a.value}, $ref);
        """.stripMargin
      } else {
        val t = children.head.genCode(ctx)
        val b = children(1).genCode(ctx)
        code"""
          |${t.code}
          |${b.code}
          |boolean ${ev.value} = !${t.isNull} && !${b.isNull} &&
          |  $self.inTable($ref, ${t.value}, ${b.value});
        """.stripMargin
      }
    ev.copy(code = test, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren)
}

object LshBucketProbe {

  /** True iff `bucket` is in table `t`'s sorted probe set (shared by
    * eval and the generated code). */
  def inTable(probe: Array[Array[Int]], t: Int, bucket: Int): Boolean =
    t >= 0 && t < probe.length && java.util.Arrays.binarySearch(probe(t), bucket) >= 0

  /** True iff some non-null element t of `buckets` is in table t's
    * probe set. */
  def anyTable(buckets: ArrayData, probe: Array[Array[Int]]): Boolean = {
    val n = math.min(buckets.numElements(), probe.length)
    var t = 0
    while (t < n) {
      if (!buckets.isNullAt(t) && inTable(probe, t, buckets.getInt(t))) return true
      t += 1
    }
    false
  }

  /** The predicate over an `ARRAY<INT>` column of per-table buckets. */
  def apply(buckets: Column, sets: Seq[Seq[Int]]): Column =
    SqlShims.column(LshBucketProbe(Seq(SqlShims.expression(buckets)), sets))
}
