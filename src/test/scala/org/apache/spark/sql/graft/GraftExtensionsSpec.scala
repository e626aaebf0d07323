package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.Literal

/** The `spark.sql.extensions` entry point: what a session configured with
  * `spark.sql.extensions=org.apache.spark.sql.graft.GraftExtensions` gets,
  * checked on a fresh `SparkSessionExtensions` and a clone of the builtin
  * registry instead of a second session. */
class GraftExtensionsSpec extends graft.SparkSpec {

  // spelled out here, not read from the registry table
  private val names = Seq(
    "dl_distance", "dl_distance_full", "dl_distance_true", "dl_distance_within",
    "cosine_sim", "sq8_cosine", "lsh_band_keys", "pq_encode", "pq_adc_sim",
    "quality_signals", "repetition_signals", "gopher_signals",
    "token_ngrams", "token_segments", "array_ngrams", "char_ngrams",
    "hashed_grams", "hashed_gram_counts", "char_ngram_profile",
    "minhash_sig", "simhash_sig", "ngram_jaccard",
    "shingle_hashes", "ensemble_minhash", "hash_overlap_count",
    "winnow_fingerprints", "kgram_hashes",
    "alphabet_encode", "alphabet_decode", "span_corrupt", "bpe_encode")

  test("GraftExtensions injects all 31 graft functions and the banded-distance rewrite") {
    assert(names.distinct.size == 31)
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    val registry = ext.registerFunctions(FunctionRegistry.builtin.clone())

    names.foreach { n =>
      assert(!FunctionRegistry.builtin.functionExists(FunctionIdentifier(n)), s"$n shadows a builtin")
      assert(registry.functionExists(FunctionIdentifier(n)), s"$n not injected")
    }
    assert(registry.listFunction().size - FunctionRegistry.builtin.listFunction().size == 31)

    // injected builders build the registry's nodes
    val dl = registry.lookupFunction(FunctionIdentifier("dl_distance_full"),
      Seq(Literal("ab"), Literal("ba")))
    assert(dl == DamerauLevenshteinExpr(Literal("ab"), Literal("ba"), 1))
    assert(registry.lookupFunction(FunctionIdentifier("quality_signals"), Seq(Literal("x")))
      .prettyName == "quality_signals")

    assert(ext.buildOptimizerRules(spark) == Seq(BandedDistanceRewrite))
  }
}
