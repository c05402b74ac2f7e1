package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** The PUBLIC extension entry point for graft's native expressions:
  * `spark.sql.extensions=graft.functions.GraftExtensions` on any cluster
  * (spark-submit conf), or programmatically via
  * `SparkSession.builder.withExtensions(GraftExtensions.inject)`.
  *
  * `injectFunction` registers each expression in the session's function
  * registry at session-build time, so every session derived from the
  * builder — including `spark.newSession()` children, which drop
  * temp-function registrations — can call them from SQL. This is the
  * Catalyst-native registration surface (SparkSessionExtensions is also
  * where a custom Rule[LogicalPlan] or SparkStrategy would plug in);
  * `GraftFunctions.register` remains the in-code fallback for foreign
  * sessions built without the extension.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = GraftExtensions.inject(ext)
}

object GraftExtensions {

  /** (name, builder) for every native expression the library ships. */
  val all: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "minhash_sig"    -> (e => MinHashSig(e.head)),
    "minhash_from_shingles" -> (e => MinHashFromShingles(e.head)),
    "token_h7s"      -> (e => TokenH7s(e.head)),
    "shingle_hashes_pre" -> (e => ShingleHashesPre(e(0), e(1), e(2))),
    "h7"             -> (e => H7(e.head)),
    "simhash_sig"    -> (e => SimHashSig(e.head)),
    "lsh_buckets"    -> (e => LshBuckets(e.head)),
    "shingle_hashes" -> (e =>
      if (e.size >= 2) ShingleHashes(e(0), e(1)) else ShingleHashes(e.head)),
    "fold_dot"       -> (e => FoldDot(e(0), e(1))),
    "sorted_overlap" -> (e => SortedOverlap(e(0), e(1))),
    "zip_eq_count"   -> (e => ZipEqCount(e(0), e(1))),
    "pq_encode"      -> (e => PqEncode(e(0), e(1), e(2), e(3))),
    "jaro_winkler"   -> (e => JaroWinkler(e(0), e(1))),
    "cdc_boundaries" -> (e => CdcBoundaries(e(0), e(1), e(2))),
    // native AGGREGATE surface (TypedImperativeAggregate): map-side
    // partial sketches, 256-byte merge state — see HllDistinct
    "hll_distinct"   -> (e => HllDistinct(e.head).toAggregateExpression()),
    // table-generating (Generator) surface — fans one row out to many
    "shingle_windows" -> (e =>
      if (e.size >= 2) ShingleWindows(e(0), e(1)) else ShingleWindows(e.head))
  )

  def inject(ext: SparkSessionExtensions): Unit = {
    all.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(getClass.getName, name), builder))
    }
    // Whole-operator surface: the native grouped top-k (logical node +
    // strategy + heap-based physical operator, graft.plans.NativeTopK).
    // The rule turns the declarative row_number()<=k idiom into the
    // custom node; the strategy plans it. A session turns the rewrite off
    // with spark.sql.optimizer.excludedRules=
    // graft.plans.RewriteRankLimitToNativeTopK (the stock plan).
    ext.injectOptimizerRule(_ => graft.plans.RewriteRankLimitToNativeTopK)
    ext.injectPlannerStrategy(_ => graft.plans.NativeTopKStrategy)
  }
}
