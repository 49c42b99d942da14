package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.types.IntegerType

import graft.functions.expr._

/** SQL-function surface of the custom Catalyst expressions, injected
  * via `SparkSessionExtensions` (enable with
  * `spark.sql.extensions=graft.GraftExtensions`, which
  * GraftSession.builder sets). Registration makes the expressions
  * first-class: usable from `spark.sql(...)`, `call_function`, and
  * views, with no UDF serialization overhead — they stay Catalyst
  * expressions inside the plan.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    // the inverted-index optimization for SQL-shaped doc-id lookups,
    // and the physical rule that keeps its id range out of the
    // generated filter code
    ext.injectOptimizerRule(_ => graft.plans.LargeInListToJoin)
    ext.injectColumnar(_ => graft.plans.DropImpliedRangeRule)
    // the posting-list-intersection physical operator (index-backed
    // boolean search as a custom whole-operator plan node)
    ext.injectPlannerStrategy(_ => graft.plans.PostingListStrategy)
  }
}

object GraftExtensions {
  private def intArg(e: Expression, fn: String, pos: Int): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$fn argument $pos must be an integer literal, got $other")
  }

  private def doubleArg(e: Expression, fn: String, pos: Int): Double = e match {
    case Literal(v: Double, org.apache.spark.sql.types.DoubleType) => v
    case other => throw new IllegalArgumentException(
      s"$fn argument $pos must be a double literal, got $other")
  }

  type FunctionDescription =
    (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  val functions: Seq[FunctionDescription] = Seq(
    (FunctionIdentifier("graft_minhash"),
      new ExpressionInfo(classOf[MinHashSignature].getName, "graft_minhash"),
      (args: Seq[Expression]) =>
        MinHashSignature(args(0), intArg(args(1), "graft_minhash", 1))),
    (FunctionIdentifier("graft_simhash"),
      new ExpressionInfo(classOf[SimHash64].getName, "graft_simhash"),
      (args: Seq[Expression]) => SimHash64(args(0))),
    (FunctionIdentifier("graft_fingerprint"),
      new ExpressionInfo(classOf[WinnowFingerprint].getName, "graft_fingerprint"),
      (args: Seq[Expression]) =>
        WinnowFingerprint(args(0), intArg(args(1), "graft_fingerprint", 1),
          intArg(args(2), "graft_fingerprint", 2))),
    (FunctionIdentifier("graft_cosine"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "graft_cosine"),
      (args: Seq[Expression]) => CosineSimilarity(args(0), args(1))),
    (FunctionIdentifier("graft_minhash_text"),
      new ExpressionInfo(classOf[MinHashText].getName, "graft_minhash_text"),
      (args: Seq[Expression]) =>
        MinHashText(args(0), intArg(args(1), "graft_minhash_text", 1),
          intArg(args(2), "graft_minhash_text", 2))),
    (FunctionIdentifier("graft_simhash_text"),
      new ExpressionInfo(classOf[SimHashText].getName, "graft_simhash_text"),
      (args: Seq[Expression]) => SimHashText(args(0))),
    (FunctionIdentifier("graft_fingerprint_text"),
      new ExpressionInfo(classOf[WinnowFingerprintText].getName, "graft_fingerprint_text"),
      (args: Seq[Expression]) =>
        WinnowFingerprintText(args(0), intArg(args(1), "graft_fingerprint_text", 1),
          intArg(args(2), "graft_fingerprint_text", 2))),
    (FunctionIdentifier("graft_repetition"),
      new ExpressionInfo(classOf[RepetitionStatsText].getName, "graft_repetition"),
      (args: Seq[Expression]) =>
        RepetitionStatsText(args(0), intArg(args(1), "graft_repetition", 1))),
    (FunctionIdentifier("graft_shingles"),
      new ExpressionInfo(classOf[ShingleHashesText].getName, "graft_shingles"),
      (args: Seq[Expression]) =>
        ShingleHashesText(args(0), intArg(args(1), "graft_shingles", 1))),
    (FunctionIdentifier("graft_word_shingles"),
      new ExpressionInfo(classOf[WordShinglesText].getName, "graft_word_shingles"),
      (args: Seq[Expression]) =>
        WordShinglesText(args(0), intArg(args(1), "graft_word_shingles", 1))),
    (FunctionIdentifier("graft_langid"),
      new ExpressionInfo(classOf[LangIdText].getName, "graft_langid"),
      (args: Seq[Expression]) => LangIdText(args(0))),
    (FunctionIdentifier("graft_srp"),
      new ExpressionInfo(classOf[SrpSignBits].getName, "graft_srp"),
      (args: Seq[Expression]) =>
        SrpSignBits(args(0), intArg(args(1), "graft_srp", 1))),
    (FunctionIdentifier("graft_zorder"),
      new ExpressionInfo(classOf[ZOrder2].getName, "graft_zorder"),
      (args: Seq[Expression]) => ZOrder2(args(0), args(1))),
    (FunctionIdentifier("graft_hilbert"),
      new ExpressionInfo(classOf[Hilbert2].getName, "graft_hilbert"),
      (args: Seq[Expression]) => Hilbert2(args(0), args(1))),
    (FunctionIdentifier("graft_topk"),
      new ExpressionInfo(classOf[TopKByScore].getName, "graft_topk"),
      (args: Seq[Expression]) =>
        TopKByScore(args(0), args(1), intArg(args(2), "graft_topk", 2))),
    (FunctionIdentifier("graft_mmr"),
      new ExpressionInfo(classOf[MmrSelect].getName, "graft_mmr"),
      (args: Seq[Expression]) =>
        MmrSelect(args(0), intArg(args(1), "graft_mmr", 1),
          doubleArg(args(2), "graft_mmr", 2))),
    (FunctionIdentifier("graft_entropy"),
      new ExpressionInfo(classOf[EntropyStatsText].getName, "graft_entropy"),
      (args: Seq[Expression]) => EntropyStatsText(args(0))),
    (FunctionIdentifier("graft_vec_sum"),
      new ExpressionInfo(classOf[VecSum].getName, "graft_vec_sum"),
      (args: Seq[Expression]) => VecSum(args(0))),
    (FunctionIdentifier("graft_freqitems"),
      new ExpressionInfo(classOf[FreqItemsSketch].getName, "graft_freqitems"),
      (args: Seq[Expression]) =>
        FreqItemsSketch(args(0), intArg(args(1), "graft_freqitems", 1))),
    (FunctionIdentifier("graft_collect_capped"),
      new ExpressionInfo(classOf[CollectCapped].getName, "graft_collect_capped"),
      (args: Seq[Expression]) =>
        CollectCapped(args(0), intArg(args(1), "graft_collect_capped", 1))),
    (FunctionIdentifier("graft_sorted_ids"),
      new ExpressionInfo(classOf[CollectLongsSorted].getName, "graft_sorted_ids"),
      (args: Seq[Expression]) => CollectLongsSorted(args(0))),
    // Spark's own runtime-filter Bloom machinery, surfaced as callable
    // functions: (long, estItems, numBits) -> binary sketch, and
    // (binary, long) -> might-contain. The sketch is the scale path
    // when an exact key set outgrows a broadcast hash relation.
    (FunctionIdentifier("graft_bloom_agg"),
      new ExpressionInfo(classOf[BloomFilterAggregate].getName, "graft_bloom_agg"),
      (args: Seq[Expression]) => BloomFilterAggregate(args(0), args(1), args(2), 0, 0)),
    (FunctionIdentifier("graft_bloom_contains"),
      new ExpressionInfo(classOf[BloomFilterMightContain].getName, "graft_bloom_contains"),
      (args: Seq[Expression]) => BloomFilterMightContain(args(0), args(1))))

  /** Idempotent registration on an already-built session (tests,
    * notebooks attached to a foreign session). */
  def register(spark: SparkSession): Unit =
    functions.foreach { case (ident, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(ident, info, builder)
    }
}
