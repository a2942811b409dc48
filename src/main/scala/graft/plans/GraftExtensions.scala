package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, CreateStruct, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, AggregateFunction, BloomFilterAggregate, MaxBy}
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
  * GraftExtensions`: the [[HammingDistance]], [[RangeBucket]] and
  * [[RollingKgramHashes]] native functions and the [[LwwObjectToMaxBy]]
  * optimizer rule. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("hamming_distance"),
      new ExpressionInfo(classOf[HammingDistance].getName, "hamming_distance"),
      (children: Seq[Expression]) =>
        HammingDistance(children(0), children(1))))
    ext.injectFunction((
      new FunctionIdentifier("range_bucket"),
      new ExpressionInfo(classOf[RangeBucket].getName, "range_bucket"),
      (children: Seq[Expression]) =>
        RangeBucket(children(0), children(1))))
    ext.injectFunction((
      new FunctionIdentifier("gram_run_stats"),
      new ExpressionInfo(classOf[GramRunStats].getName, "gram_run_stats"),
      (children: Seq[Expression]) =>
        GramRunStats(children(0), children(1))))
    ext.injectFunction((
      new FunctionIdentifier("minhash_signature"),
      new ExpressionInfo(classOf[MinhashSignature].getName,
        "minhash_signature"),
      (children: Seq[Expression]) =>
        MinhashSignature(children(0), children(1))))
    ext.injectFunction((
      new FunctionIdentifier("simhash_bits"),
      new ExpressionInfo(classOf[SimhashBits].getName, "simhash_bits"),
      (children: Seq[Expression]) =>
        SimhashBits(children(0), children(1))))
    ext.injectFunction((
      new FunctionIdentifier("window_mins"),
      new ExpressionInfo(classOf[WindowMins].getName, "window_mins"),
      (children: Seq[Expression]) =>
        WindowMins(children(0), children(1))))
    ext.injectFunction((
      new FunctionIdentifier("rolling_kgram_hashes"),
      new ExpressionInfo(classOf[RollingKgramHashes].getName,
        "rolling_kgram_hashes"),
      (children: Seq[Expression]) =>
        RollingKgramHashes(children(0), children(1))))
    ext.injectFunction((
      new FunctionIdentifier("zorder_key"),
      new ExpressionInfo(classOf[ZOrderKey].getName, "zorder_key"),
      (children: Seq[Expression]) =>
        ZOrderKey(children(0), children(1))))
    // `lww_object(object, ts_ms)` in SQL text: the reference's whole surface
    // is queries-from-outside (MasterServer.py:292-330), so the LWW winner
    // function must be reachable from spark.sql, not just the Column API.
    // Registered DIRECTLY as the native max_by(obj, struct(ts, obj)) the
    // optimizer rule below rewrites the typed UDAF into — SQL users get the
    // codegen-friendly plan with no UDAF round-trip at all. (The analyzer
    // wraps a bare AggregateFunction into an AggregateExpression.)
    ext.injectFunction((
      new FunctionIdentifier("lww_object"),
      new ExpressionInfo(classOf[MaxBy].getName, "lww_object"),
      (children: Seq[Expression]) => {
        val obj = children.head
        val ts = children(1)
        MaxBy(obj, CreateStruct(Seq(ts, obj))): AggregateFunction
      }))
    // the native vector kernels (r19): compiled replacements for the
    // interpreted aggregate/zip_with/transform folds on the vectors
    // pillar's hot paths — bit-exact to the declarative forms they
    // replace (see VectorKernels' contract), so every oracle carries
    // over unchanged.
    // arity checked up front: a wrong-arity SQL call must surface as an
    // analysis-time error naming the function, not a raw
    // IndexOutOfBoundsException from children(1)
    def arity(name: String, n: Int, children: Seq[Expression]): Unit =
      if (children.size != n)
        throw new org.apache.spark.sql.AnalysisException(
          errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
          messageParameters = Map(
            "functionName" -> name, "expectedNum" -> n.toString,
            "actualNum" -> children.size.toString,
            "docroot" -> "https://spark.apache.org/docs/latest"))
    ext.injectFunction((
      new FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[VecDot].getName, "vec_dot"),
      (children: Seq[Expression]) => {
        arity("vec_dot", 2, children)
        VecDot(children(0), children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("vec_normalize"),
      new ExpressionInfo(classOf[VecNormalize].getName, "vec_normalize"),
      (children: Seq[Expression]) => {
        arity("vec_normalize", 1, children)
        VecNormalize(children(0))
      }))
    ext.injectFunction((
      new FunctionIdentifier("int8_dot"),
      new ExpressionInfo(classOf[Int8Dot].getName, "int8_dot"),
      (children: Seq[Expression]) => {
        arity("int8_dot", 2, children)
        Int8Dot(children(0), children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("int8_norm2"),
      new ExpressionInfo(classOf[Int8Norm2].getName, "int8_norm2"),
      (children: Seq[Expression]) => {
        arity("int8_norm2", 1, children)
        Int8Norm2(children(0))
      }))
    ext.injectFunction((
      new FunctionIdentifier("int8_decode"),
      new ExpressionInfo(classOf[Int8Decode].getName, "int8_decode"),
      (children: Seq[Expression]) => {
        arity("int8_decode", 2, children)
        Int8Decode(children(0), children(1))
      }))
    // r20: the IVF assignment argmax with the centroid MATRIX bound once —
    // plan and codegen O(1) in k (the greatest-over-k-struct-literals form
    // it replaces carried O(k·d) plan literals and a k-ary method, the
    // production-k ceiling). Bit-identical membership (see the kernel's
    // contract), so the q66/q78/q86 oracles carry over unchanged.
    ext.injectFunction((
      new FunctionIdentifier("nearest_centroid"),
      new ExpressionInfo(classOf[NearestCentroid].getName, "nearest_centroid"),
      (children: Seq[Expression]) => {
        arity("nearest_centroid", 3, children)
        NearestCentroid(children(0), children(1), children(2))
      }))
    // Spark's OWN bloom-filter expression pair (the machinery behind
    // runtime row-level filtering), surfaced as callable functions:
    // `bloom_build(xxhash64(key), est_items, num_bits)` aggregates a
    // serialized filter; `bloom_might_contain(filter, xxhash64(key))`
    // probes it — codegen'd, no-false-negative. The q61 zero-corpus-shuffle
    // incremental dedup is built on these.
    ext.injectFunction((
      new FunctionIdentifier("bloom_build"),
      new ExpressionInfo(classOf[BloomFilterAggregate].getName, "bloom_build"),
      (children: Seq[Expression]) =>
        new BloomFilterAggregate(children(0), children(1), children(2)):
          AggregateFunction))
    ext.injectFunction((
      new FunctionIdentifier("bloom_might_contain"),
      new ExpressionInfo(classOf[BloomFilterMightContain].getName,
        "bloom_might_contain"),
      (children: Seq[Expression]) =>
        BloomFilterMightContain(children(0), children(1))))
    ext.injectOptimizerRule(_ => LwwObjectToMaxBy)
  }
}
