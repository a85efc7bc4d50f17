package graft

import graft.functions._
import graft.parse.JsonFindNumbers
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

/** Session extensions mounting the engine's custom Catalyst pieces.
  * Enable with .config("spark.sql.extensions", "graft.GraftExtensions").
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  /** Arity-checked builder: a wrong argument count surfaces as a
    * readable analysis-time error naming the expected signature, not
    * an IndexOutOfBoundsException from exprs(n).
    */
  private def checked(name: String, signature: String, n: Int)(
      build: Seq[Expression] => Expression): Seq[Expression] => Expression =
    exprs => {
      if (exprs.length != n)
        throw new IllegalArgumentException(
          s"$name expects $n arguments — $name($signature) — got ${exprs.length}")
      build(exprs)
    }

  override def apply(ext: SparkSessionExtensions): Unit = {
    def fn(name: String, cls: Class[_], signature: String, n: Int)(
        build: Seq[Expression] => Expression): Unit =
      ext.injectFunction((FunctionIdentifier(name), new ExpressionInfo(cls.getName, name),
        checked(name, signature, n)(build)))
    // Whole-operator extension: the native as-of join (logical node →
    // strategy → streaming merge exec). See graft.plans.AsOfJoin.
    ext.injectPlannerStrategy(_ => new graft.plans.AsOfJoinStrategy)
    fn(JsonFindNumbers.fnName, classOf[JsonFindNumbers], "json, key, subfield", 3)(
      exprs => JsonFindNumbers(exprs(0), exprs(1), exprs(2)))
    fn(CosineSimilarity.fnName, classOf[CosineSimilarity], "vecA, vecB", 2)(
      exprs => CosineSimilarity(exprs(0), exprs(1)))
    fn(LshSignature.fnName, classOf[LshSignature], "vec, numPlanes, table", 3)(
      exprs => LshSignature(exprs(0), exprs(1), exprs(2)))
    fn(SimHash64.fnName, classOf[SimHash64], "words", 1)(
      exprs => SimHash64(exprs(0)))
    fn(SimHashMd5.fnName, classOf[SimHashMd5], "words", 1)(
      exprs => SimHashMd5(exprs(0)))
    fn(WordShingles.fnName, classOf[WordShingles], "text, n", 2)(
      exprs => WordShingles(exprs(0), exprs(1)))
    fn(TopKCount.fnName, classOf[TopKCount], "term, k, capacity", 3)(
      exprs => TopKCount(exprs(0), exprs(1), exprs(2)))
    fn(TopKSum.fnName, classOf[TopKSum], "term, weight, k, capacity", 4)(
      exprs => TopKSum(exprs(0), exprs(1), exprs(2), exprs(3)))
    fn(NfcNormalize.fnName, classOf[NfcNormalize], "str", 1)(
      exprs => NfcNormalize(exprs(0)))
    fn(SubwordTokenize.fnName, classOf[SubwordTokenize], "words, vocab, unk", 3)(
      exprs => SubwordTokenize(exprs(0), exprs(1), exprs(2)))
    fn(DictMatch.fnName, classOf[DictMatch], "text, patterns", 2)(
      exprs => DictMatch(exprs(0), exprs(1)))
    fn(BitmapDistinct.aggName, classOf[BitmapAgg], "bucket, m", 2)(
      exprs => BitmapAgg(exprs(0), exprs(1)))
    fn(BitmapDistinct.orAggName, classOf[BitmapOrAgg], "bm", 1)(
      exprs => BitmapOrAgg(exprs(0)))
    fn(BitmapDistinct.cardName, classOf[BitmapCardinality], "bm", 1)(
      exprs => BitmapCardinality(exprs(0)))
    fn(BitmapDistinct.andName, classOf[BitmapAndCardinality], "a, b", 2)(
      exprs => BitmapAndCardinality(exprs(0), exprs(1)))
    fn(BitmapDistinct.orName, classOf[BitmapOrCardinality], "a, b", 2)(
      exprs => BitmapOrCardinality(exprs(0), exprs(1)))
    fn(CountMin.aggName, classOf[CountMinAgg], "value, w, d", 3)(
      exprs => CountMinAgg(exprs(0), exprs(1), exprs(2)))
    fn(CountMin.mergeName, classOf[CountMinMergeAgg], "sketch", 1)(
      exprs => CountMinMergeAgg(exprs(0)))
    fn(CountMin.estName, classOf[CountMinEstimate], "sketch, value", 2)(
      exprs => CountMinEstimate(exprs(0), exprs(1)))
    // Spark's own runtime-filter expressions, surfaced as callable
    // functions so ops/Joins.bloomPrunedJoin can build/probe the
    // sketch explicitly (the planner's InjectRuntimeFilter only fires
    // under narrow preconditions). Both are codegen'd; the aggregate
    // merges partial sketches executor-side.
    fn("graft_bloom_agg", classOf[BloomFilterAggregate], "xxhash64Value, estimatedItems, numBits", 3)(
      exprs => new BloomFilterAggregate(exprs(0), exprs(1), exprs(2)))
    fn("graft_might_contain", classOf[BloomFilterMightContain], "bloomFilter, xxhash64Value", 2)(
      exprs => BloomFilterMightContain(exprs(0), exprs(1)))
  }
}
