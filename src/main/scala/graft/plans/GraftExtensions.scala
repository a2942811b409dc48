package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, CreateStruct, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, BloomFilterAggregate, MaxBy}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.aggregate.ScalaAggregator

import graft.functions.LwwObject

/** Optimizer rule: rewrite the typed [[LwwObject]] UDAF into the native
  * `max_by(object, struct(ts_ms, object))` — identical semantics (SURVEY §4
  * "optional Rule" item), but the native aggregate stays codegen-friendly
  * and skips the Aggregator's per-row encode/decode round-trip. The Q12 gate
  * query runs through this rewrite, so the correctness gate itself proves
  * the rule semantics-preserving.
  */
object LwwObjectToMaxBy extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case ae: AggregateExpression => ae.aggregateFunction match {
        case sa: ScalaAggregator[_, _, _]
            if (sa.agg eq LwwObject) && sa.children.size == 2 =>
          val obj = sa.children.head
          val ts = sa.children(1)
          ae.copy(aggregateFunction = MaxBy(obj, CreateStruct(Seq(ts, obj))))
        case _ => ae
      }
    }
}

/** Engine extensions, installed via `spark.sql.extensions=graft.plans.
  * GraftExtensions`: the native SQL functions of the companion's
  * `Functions` table and the [[LwwObjectToMaxBy]] optimizer rule. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.Functions.foreach { case (name, cls, n, build) =>
      ext.injectFunction((
        new FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name),
        (children: Seq[Expression]) => {
          GraftExtensions.arity(name, n, children)
          build(children)
        }))
    }
    ext.injectOptimizerRule(_ => LwwObjectToMaxBy)
  }
}

object GraftExtensions {

  /** Every injected function: (SQL name, expression class, arity, builder).
    *  - `lww_object(object, ts_ms)`: the reference's whole surface is
    *    queries-from-outside (`MasterServer.py:292-330`), so the LWW winner
    *    must be reachable from SQL text. It is registered directly as the
    *    native `max_by(obj, struct(ts, obj))` that [[LwwObjectToMaxBy]]
    *    rewrites the typed UDAF into (the analyzer wraps a bare aggregate
    *    function into an `AggregateExpression`).
    *  - the vector kernels and `nearest_centroid`: compiled replacements
    *    for the interpreted folds on the vectors pillar's hot paths,
    *    bit-exact to the declarative forms (see VectorKernels' contract);
    *    `nearest_centroid` binds the centroid matrix once, so plan and
    *    codegen are O(1) in k.
    *  - `bloom_build(xxhash64(key), est_items, num_bits)` and
    *    `bloom_might_contain(filter, xxhash64(key))`: Spark's own
    *    runtime-filter bloom pair (codegen'd, no false negatives), on which
    *    q61's incremental dedup is built. */
  private val Functions
      : Seq[(String, Class[_], Int, Seq[Expression] => Expression)] =
    Seq(
      ("hamming_distance", classOf[HammingDistance], 2,
        c => HammingDistance(c(0), c(1))),
      ("range_bucket", classOf[RangeBucket], 2, c => RangeBucket(c(0), c(1))),
      ("gram_run_stats", classOf[GramRunStats], 2,
        c => GramRunStats(c(0), c(1))),
      ("minhash_signature", classOf[MinhashSignature], 2,
        c => MinhashSignature(c(0), c(1))),
      ("simhash_bits", classOf[SimhashBits], 2, c => SimhashBits(c(0), c(1))),
      ("window_mins", classOf[WindowMins], 2, c => WindowMins(c(0), c(1))),
      ("rolling_kgram_hashes", classOf[RollingKgramHashes], 2,
        c => RollingKgramHashes(c(0), c(1))),
      ("zorder_key", classOf[ZOrderKey], 2, c => ZOrderKey(c(0), c(1))),
      ("lww_object", classOf[MaxBy], 2,
        c => MaxBy(c(0), CreateStruct(Seq(c(1), c(0))))),
      ("vec_dot", classOf[VecDot], 2, c => VecDot(c(0), c(1))),
      ("vec_normalize", classOf[VecNormalize], 1, c => VecNormalize(c(0))),
      ("int8_dot", classOf[Int8Dot], 2, c => Int8Dot(c(0), c(1))),
      ("int8_norm2", classOf[Int8Norm2], 1, c => Int8Norm2(c(0))),
      ("int8_decode", classOf[Int8Decode], 2, c => Int8Decode(c(0), c(1))),
      ("nearest_centroid", classOf[NearestCentroid], 3,
        c => NearestCentroid(c(0), c(1), c(2))),
      ("bloom_build", classOf[BloomFilterAggregate], 3,
        c => new BloomFilterAggregate(c(0), c(1), c(2))),
      ("bloom_might_contain", classOf[BloomFilterMightContain], 2,
        c => BloomFilterMightContain(c(0), c(1))))

  /** A wrong-arity SQL call surfaces as an analysis-time error naming the
    * function, not as a raw IndexOutOfBoundsException from `children(n)`. */
  private def arity(name: String, n: Int, children: Seq[Expression]): Unit =
    if (children.size != n)
      throw new org.apache.spark.sql.AnalysisException(
        errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
        messageParameters = Map(
          "functionName" -> name, "expectedNum" -> n.toString,
          "actualNum" -> children.size.toString,
          "docroot" -> "https://spark.apache.org/docs/latest"))
}
