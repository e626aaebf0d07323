package graft.textanalysis

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * N-gram-profile language identification — Cavnar & Trenkle, "N-Gram-Based
 * Text Categorization" (SDAIR 1994): a language's profile is its top-K
 * character n-grams in frequency-rank order; a document classifies to the
 * language whose profile is closest under the OUT-OF-PLACE measure
 * `Σ_g |rank_doc(g) − rank_lang(g)|` with a fixed penalty for grams absent
 * from the language profile. This is the model-based upgrade of
 * [[TextAnalysis.langId]]'s character-class heuristic (exactly the
 * "broadcast-table upgrade of the same shape" its Scaladoc names): the
 * rank tables are DATA, trained from any labeled corpus, where the
 * heuristic is hard-coded script rules.
 *
 * Everything is integer arithmetic over deterministic ranks (frequency
 * DESC, gram ASC tie-break), so training and classification are
 * bit-identical on any engine and partitioning — the whole surface is
 * oracle-checkable, unlike probabilistic langid models.
 *
 * Scale shape: training = one exploded gram count keyed by (lang, gram)
 * + a per-lang top-K window (WindowGroupLimit keeps the sort partial
 * map-side); the profile table is ≤ langs·K rows — broadcast. A document's
 * own profile is bounded by `docK` grams (per-doc window over its own
 * gram counts — many small groups); the distance join probes the
 * broadcast profile per (doc-gram × lang), ≤ docK·|langs| rows per doc.
 */
object LangProfile {

  /** Character trigrams of the padded normalized text (`' ' + text + ' '`
    * — CT's word-boundary evidence), as strings (profiles are small; the
    * hash families are for the dedup operators, not rank tables). */
  private def grams(text: Column): Column =
    call_function("char_ngrams", text, lit(3))

  /** The pure-Column restatement of [[grams]] — the interpreted-HOF form
    * the `char_ngrams` kernel replaced (round 7: the per-gram `substr`
    * lambda evaluates interpreted, one round trip per character). Kept as
    * the equivalence witness (LangProfileSpec); null text yields an empty
    * array here vs null from the kernel — identical after the explode both
    * consumers apply. */
  private[graft] def gramsColumns(text: Column): Column = {
    val t = concat(lit(" "), graft.dedup.Dedup.normalizeText(text), lit(" "))
    graft.dedup.Dedup.let(t) { s =>
      when(length(s) >= 3,
        transform(sequence(lit(1), length(s) - 2), i => s.substr(i, lit(3))))
        .otherwise(array().cast("array<string>"))
    }
  }

  /** Train per-language rank profiles from a labeled corpus:
    * `(lang, gram, rank)` with rank 1..K by (frequency DESC, gram ASC). */
  // NOTE on a rejected "single-pass" fusion: a selfClassify that derived
  // the lang profiles from a per-(doc, lang, gram) count table (one explode
  // feeding both profile families) was MEASURED SLOWER at sf0.1 than the
  // plain classify(train(...)) composition (5.64-5.71 s vs 4.68 s
  // best-of-3, OPTIMIZATION_r07.md, with and without checkpointing the shared
  // table): the finer (doc, gram) key defeats the map-side partial combine
  // that collapses the (lang, gram) aggregation inside each partition, and
  // for trigrams the intermediate is nearly explode-sized. Two independent
  // aggregations over the narrow codegen'd explode are the measured
  // optimum — the opposite conclusion from LmScore's token arrays (see
  // measure-before-materialize).
  def train(docs: DataFrame, k: Int = 300,
            textCol: String = "text", langCol: String = "lang"): DataFrame = {
    require(k >= 1, s"profile size k must be >= 1, got $k")
    org.apache.spark.sql.graft.NativeFunctions.register(docs.sparkSession)
    // NOTE: a Fanout.fanout of the (lang, text) rows before this explode
    // was MEASURED SLOWER at sf0.1 (q_lang_profile 1.23 → 1.60 s warm):
    // the (lang, gram) key space is small, so the single-partition map-side
    // combine collapses the exploded rows to ~|langs|·|grams| BEFORE the
    // exchange, and 32-way partials ship up to 32× that — the opposite
    // trade from classify's per-doc profile kernel (no combine to lose)
    docs.select(col(langCol).as("lang"), explode(grams(col(textCol))).as("gram"))
      .groupBy(col("lang"), col("gram")).agg(count(lit(1)).as("__n"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("lang")).orderBy(col("__n").desc, col("gram").asc)))
      .filter(col("rank") <= k)
      .select(col("lang"), col("gram"), col("rank").cast("long").as("rank"))
  }

  /**
   * Classify every doc against trained profiles: `(idCol, lang_pred,
   * dist)` — the argmin-out-of-place language (ties to the
   * lexicographically smallest lang). `penalty` is the out-of-place
   * rank distance for grams missing from a language profile (CT's
   * "maximum" value); `penalty <= 0` (the default) derives it from the
   * table as `max(rank)` — the profile size the training `k` actually
   * implied — so a model trained with `k != 300` is penalized
   * consistently without the caller restating `k`. The derivation is one
   * driver-side agg over the (langs × k)-row profiles table, which is
   * broadcast two lines later anyway. Docs with no grams (empty text) get
   * the smallest lang at distance 0 — no evidence, deterministic fallback.
   */
  def classify(docs: DataFrame, profiles: DataFrame, docK: Int = 100,
               penalty: Long = 0L,
               idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(docK >= 1, s"doc profile size must be >= 1, got $docK")
    org.apache.spark.sql.graft.NativeFunctions.register(docs.sparkSession)
    val pen =
      if (penalty > 0L) penalty
      else profiles.agg(max(col("rank"))).head().getLong(0)
    // round 7 second pass: the whole doc-profile build — gram explode,
    // (id, gram) count and the per-doc top-docK row_number window — is a
    // pure per-document function, yet paid TWO corpus-wide Exchanges (the
    // count keys and the window partition keys never cross documents). The
    // `char_ngram_profile` kernel computes the ranked profile inside the
    // row (count DESC, gram ASC — the exact window order) and the explode
    // emits the profile rows directly: same row set, zero exchange, and
    // only docK rows per doc ever leave the scan (witness:
    // [[docProfilesWindowed]], equivalence spec in LangProfileSpec).
    val dp = graft.pipeline.Fanout.fanout(
        docs.select(col(idCol), col(textCol)), col(idCol))
      .select(col(idCol),
        explode(call_function("char_ngram_profile",
          col(textCol), lit(3), lit(docK))).as("__p"))
      .select(col(idCol), col("__p.gram").as("gram"), col("__p.rank_d").as("rank_d"))
    rankDistance(docs, dp, profiles, pen, idCol)
  }

  /** Relational witness of the kernel doc-profile build in [[classify]]:
    * gram explode → (id, gram) count → per-doc top-docK window. */
  private[graft] def docProfilesWindowed(docs: DataFrame, docK: Int,
                                         idCol: String = "doc_id",
                                         textCol: String = "text"): DataFrame = {
    org.apache.spark.sql.graft.NativeFunctions.register(docs.sparkSession)
    docProfiles(
      docs.select(col(idCol), explode(grams(col(textCol))).as("gram"))
        .groupBy(col(idCol), col("gram")).agg(count(lit(1)).as("__n")),
      docK, idCol)
  }

  /** Doc-profile tail: per-doc top-docK rank over pre-aggregated
    * `(idCol, gram, __n)` counts. */
  private def docProfiles(counts: DataFrame, docK: Int, idCol: String): DataFrame =
    counts
      .withColumn("rank_d", row_number().over(
        Window.partitionBy(col(idCol)).orderBy(col("__n").desc, col("gram").asc)))
      .filter(col("rank_d") <= docK)
      .select(col(idCol), col("gram"), col("rank_d").cast("long").as("rank_d"))

  /** The out-of-place distance + argmin + no-evidence fallback tail shared
    * by [[classify]] and [[selfClassify]]. */
  private def rankDistance(docs: DataFrame, dp: DataFrame, profiles: DataFrame,
                           penalty: Long, idCol: String): DataFrame = {
    val langs = profiles.select(col("lang")).distinct()
    val dists = dp.join(broadcast(langs), lit(true))
      .join(broadcast(profiles), Seq("lang", "gram"), "left")
      .groupBy(col(idCol), col("lang"))
      .agg(sum(when(col("rank").isNull, penalty)
        .otherwise(abs(col("rank_d") - col("rank")))).cast("long").as("dist"))
    val best = dists
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col(idCol)).orderBy(col("dist").asc, col("lang").asc)))
      .filter(col("__rn") === 1)
      .select(col(idCol), col("lang").as("lang_pred"), col("dist"))
    // empty-text docs emit no gram rows — deterministic no-evidence fallback
    val minLang = langs.agg(min(col("lang")).as("__l"))
    docs.select(col(idCol)).join(best, Seq(idCol), "left")
      .crossJoin(broadcast(minLang))
      .select(col(idCol),
        coalesce(col("lang_pred"), col("__l")).as("lang_pred"),
        coalesce(col("dist"), lit(0L)).as("dist"))
  }

  /** Persist profiles: `dir/profiles` (lang, gram, rank). */
  def save(profiles: DataFrame, dir: String): Unit =
    profiles.write.mode("overwrite").parquet(s"$dir/profiles")

  /** Load persisted profiles, asserting the layout. */
  def load(spark: SparkSession, dir: String): DataFrame = {
    val p = spark.read.parquet(s"$dir/profiles")
    require(p.columns.toSet == Set("lang", "gram", "rank"),
      s"lang profiles must have (lang, gram, rank), got ${p.columns.mkString(",")}")
    p
  }
}
