package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.{DataType, LongType}

import graft.TripleStore.table

/** `zorder_key(x, y)`: the Morton (Z-order) interleave of the low 31 bits of
  * two non-negative longs — bit `i` of `x` lands at position `2i`, bit `i`
  * of `y` at `2i+1`, giving a 62-bit (always positive) key.
  *
  * Why it exists: range-sharding on ONE column (the triple store's layout —
  * `TripleStore.writeSharded`) prunes scans on that column only. Sorting or
  * range-partitioning a 100 TB table by the z-key clusters BOTH dimensions
  * at once, so parquet min/max stats stay narrow for each column
  * individually and a rectangle predicate (`x BETWEEN … AND y BETWEEN …`)
  * skips most files/row-groups on either dimension — multi-dimensional data
  * skipping from one sort key, no index structure. The store's z layout,
  * `TripleStore.writeZOrdered`, keys on this expression.
  *
  * Why a native expression: the key is computed once per row in the write
  * path of very large tables; the magic-number spread is 12 mask/shift ops,
  * branch-free, inlined into whole-stage codegen (a per-bit SQL `transform`
  * fold costs a 31-element array per row). Reference for the operator scope:
  * the reference's ETL sort/partition step (`preprocess_notebook.ipynb`
  * cells 4-6) orders by a single composite string key; this is the
  * multi-dimension generalization.
  */
case class ZOrderKey(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(left, right).forall(_.dataType == LongType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"zorder_key requires (bigint, bigint), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  override def dataType: DataType = LongType
  override def prettyName: String = "zorder_key"

  override def nullSafeEval(x: Any, y: Any): Any =
    ZOrderKey.interleave(x.asInstanceOf[Long], y.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (x, y) =>
      s"graft.plans.ZOrderKey.interleave($x, $y)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ZOrderKey =
    copy(left = newLeft, right = newRight)
}

object ZOrderKey {

  /** Spread the low 31 bits of `v` to even bit positions (0,2,4,…,60). */
  def spread(v: Long): Long = {
    var x = v & 0x7fffffffL
    x = (x | (x << 16)) & 0x0000ffff0000ffffL
    x = (x | (x << 8)) & 0x00ff00ff00ff00ffL
    x = (x | (x << 4)) & 0x0f0f0f0f0f0f0f0fL
    x = (x | (x << 2)) & 0x3333333333333333L
    x = (x | (x << 1)) & 0x5555555555555555L
    x
  }

  /** Called from generated code. */
  def interleave(x: Long, y: Long): Long = spread(x) | (spread(y) << 1)

  /** Gate query q57: the z-key over lineitem's (part, supplier) plane, with
    * the row identity alongside. Total order: (zkey, l_orderkey,
    * l_linenumber). */
  def q57(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"),
        expr("zorder_key(CAST(l_partkey AS BIGINT), CAST(l_suppkey AS BIGINT))")
          .as("zkey"))
      .orderBy("zkey", "l_orderkey", "l_linenumber")

  /** The oracle computes the identical interleave as a 31-term bit sum. */
  val q57Sql: String =
    """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
      |  CAST(list_sum(list_transform(range(0, 31), i ->
      |    (((l_partkey >> i) & 1) << (2 * i)) +
      |    (((l_suppkey >> i) & 1) << (2 * i + 1)))) AS BIGINT) AS zkey
      |FROM lineitem ORDER BY zkey, l_orderkey, l_linenumber""".stripMargin
}
