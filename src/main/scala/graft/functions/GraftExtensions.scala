package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier

/** SparkSessionExtensions entry point registering the engine's native
  * functions (brief: custom Expression via SparkSessionExtensions when
  * built-ins can't express the semantics/performance).
  *
  * Wire with `.config("spark.sql.extensions", "graft.functions.GraftExtensions")`
  * — done by Tables.localSession, the session every graft tool builds, so
  * `vec_dot` resolves in SQL and via `call_function`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  private def arity(n: Int, name: String)(
      children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) = {
    if (children.length != n) {
      throw new IllegalArgumentException(
        s"$name expects exactly $n arguments, got ${children.length}")
    }
    children
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("vec_dot"),
      DotProduct.info,
      cs => { val c = arity(2, "vec_dot")(cs); DotProduct(c(0), c(1)) }))
    ext.injectFunction((
      FunctionIdentifier("simhash64"),
      SimHash64.info,
      cs => { val c = arity(1, "simhash64")(cs); SimHash64(c(0)) }))
    ext.injectFunction((
      FunctionIdentifier("minhash_sigs"),
      MinHashSigs.info,
      cs => { val c = arity(2, "minhash_sigs")(cs)
              MinHashSigs(c(0), c(1)) }))
    ext.injectFunction((
      FunctionIdentifier("tabulation_sigs"),
      TabulationSigs.info,
      cs => { val c = arity(2, "tabulation_sigs")(cs)
              TabulationSigs(c(0), c(1)) }))
    ext.injectFunction((
      FunctionIdentifier("shingles3"),
      Shingles3.info,
      cs => { val c = arity(1, "shingles3")(cs); Shingles3(c(0)) }))
    ext.injectFunction((
      FunctionIdentifier("token_profile"),
      TokenProfile.info,
      cs => { val c = arity(2, "token_profile")(cs)
              TokenProfile(c(0), c(1)) }))
    ext.injectFunction((
      FunctionIdentifier("rolling_fp"),
      RollingFp.info,
      cs => { val c = arity(1, "rolling_fp")(cs); RollingFp(c(0)) }))
    ext.injectFunction((
      FunctionIdentifier("minhash_agg"),
      MinHashAgg.info,
      cs => { val c = arity(1, "minhash_agg")(cs); MinHashAgg(c(0)) }))
    ext.injectFunction((
      FunctionIdentifier("percentile_exact"),
      PercentileExact.info,
      cs => { val c = arity(2, "percentile_exact")(cs)
              PercentileExact(c(0), c(1)) }))
    ext.injectFunction((
      FunctionIdentifier("percentile_disc_exact"),
      PercentileExact.discInfo,
      cs => { val c = arity(2, "percentile_disc_exact")(cs)
              PercentileDiscExact(c(0), c(1)) }))
    ext.injectFunction((
      FunctionIdentifier("mg_topk"),
      MisraGriesAgg.info,
      cs => { val c = arity(2, "mg_topk")(cs); MisraGriesAgg(c(0), c(1)) }))
    ext.injectFunction((
      FunctionIdentifier("word_ngrams"),
      WordNGrams.info,
      cs => { val c = arity(2, "word_ngrams")(cs)
              WordNGrams(c(0), c(1)) }))
    ext.injectFunction((
      FunctionIdentifier("span_fps"),
      SpanFps.info,
      cs => { val c = arity(2, "span_fps")(cs); SpanFps(c(0), c(1)) }))
    ext.injectFunction((
      FunctionIdentifier("sorted_intersect_count"),
      SortedIntersectCount.info,
      cs => { val c = arity(2, "sorted_intersect_count")(cs)
              SortedIntersectCount(c(0), c(1)) }))
    ext.injectFunction((
      FunctionIdentifier("repeat_stats"),
      RepeatStats.info,
      cs => { val c = arity(1, "repeat_stats")(cs); RepeatStats(c(0)) }))
    // Spark's internal runtime-filter bloom sketch, exposed as SQL
    // functions so the dedup prefilter (operators.Dedup.bloomDedup) can
    // build/probe it explicitly: graft_bloom_agg(xxhash64(key), est_items)
    // aggregates a binary bloom filter; graft_might_contain(bloom, hash)
    // probes it. Both are codegen'd catalyst expressions, not UDFs.
    ext.injectFunction((
      FunctionIdentifier("graft_bloom_agg"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate
          .BloomFilterAggregate].getName, "graft_bloom_agg"),
      cs => { val c = arity(2, "graft_bloom_agg")(cs)
              new org.apache.spark.sql.catalyst.expressions.aggregate
                .BloomFilterAggregate(c(0), c(1)) }))
    ext.injectFunction((
      FunctionIdentifier("graft_might_contain"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions
          .BloomFilterMightContain].getName, "graft_might_contain"),
      cs => { val c = arity(2, "graft_might_contain")(cs)
              org.apache.spark.sql.catalyst.expressions
                .BloomFilterMightContain(c(0), c(1)) }))
  }
}
