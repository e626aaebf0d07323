package graft.textanalysis

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * N-gram language-model quality scoring — the CCNet-family filter (Wenzek
 * et al., LREC 2020: rank crawl documents by LM perplexity; far-tail docs
 * are gibberish, boilerplate, or wrong-language). A full KenLM is external
 * tooling; the in-engine form is a self-trained add-α bigram model:
 *
 *   logp(doc) = mean over bigrams (w1 w2) of
 *               ln( (c(w1 w2) + α) / (c(w1) + α·V) )
 *
 * with corpus counts c(·), vocabulary size V, smoothing α. Scores are
 * comparable corpus-wide; low mean log-prob = high perplexity = suspect.
 *
 * Scale shape: counts are the [[TextAnalysis.corpusNgramCounts]] hash
 * aggregations; scoring joins each doc's bigrams against the count tables
 * by gram (hash joins keyed on the gram string — at 100 TB these tables are
 * the LM, sized by DISTINCT grams, not corpus tokens; broadcast when the
 * pruned model fits). V arrives via `crossJoin(broadcast(1-row agg))` — no
 * driver action. The per-doc mean folds log-probs IN BIGRAM POSITION ORDER
 * (sorted collect + `aggregate`, the q_bm25_doc discipline): FP addition is
 * not associative, so a bare `sum()` would be partition-order-dependent.
 * The collected list is bounded by the doc's token count; at 100 TB the
 * scale path is plain `sum()/count()` with last-ulp nondeterminism accepted
 * (documented trade-off — the oracle-checked form is the contractual one).
 */
object LmScore {

  val DefaultAlpha = 0.4

  /**
   * Per-doc mean bigram log-probability under the corpus's own add-α
   * bigram LM: `(idCol, n_bigrams, avg_logprob)`. Docs with fewer than two
   * tokens have no bigram evidence and are omitted (score undefined).
   * `minCount` prunes rare grams from the model (they back off to the
   * α-floor like unseen grams), shrinking the join tables.
   */
  def scoreDocs(docs: DataFrame, alpha: Double = DefaultAlpha,
                minCount: Long = 1L,
                idCol: String = "doc_id",
                textCol: String = "text"): DataFrame = {
    // SINGLE-PASS shape: self-training makes the corpus its own model, so a
    // naive composition scans+tokenizes it three times (unigram counts,
    // bigram counts, scoring rows). Tokenize ONCE into a materialized
    // (id, token-array) table — localCheckpoint pays for itself here,
    // unlike the SubstringDup kg case, because it replaces two additional
    // FULL scan→normalize→split chains rather than one narrow rebuild
    // (q_lm_score 6.0 s → ~1.5 s at sf0.1 in the driver-bench shape) — and
    // derive all three consumers narrowly from the arrays. The derivations
    // are definitionally ngramArray(text, 1) and ngramArray(text, 2) over
    // the same token array (equality spec-asserted vs the naive reference).
    org.apache.spark.sql.graft.NativeFunctions.register(docs.sparkSession)
    // (a Fanout.fanout before the tokenize was MEASURED SLOWER at sf0.1,
    // q_lm_score 0.90 → 1.06 s warm — the split/filter is too cheap to
    // amortize an exchange; see the Fanout scaladoc for the trade)
    val toks = docs.select(col(idCol),
        filter(graft.dedup.Dedup.tokens(col(textCol)), t => length(t) > 0).as("__toks"))
      .localCheckpoint()
    val uni = toks.select(explode(col("__toks")).as("w1"))
      .groupBy(col("w1")).agg(count(lit(1)).as("c_uni"))
      .filter(col("c_uni") >= minCount)
    // round 7: bigrams over the materialized token arrays via the native
    // `array_ngrams` kernel — one codegen'd call per row instead of the
    // interpreted per-gram concat_ws lambda (bit-equal; the TextAnalysis
    // ngram equivalence spec covers the kernel family)
    val bigramArr = call_function("array_ngrams", col("__toks"), lit(2))
    val dg = toks.select(col(idCol), posexplode(bigramArr).as(Seq("pos", "gram")))
      .withColumn("w1", split(col("gram"), " ").getItem(0))
    val bi = dg.groupBy(col("gram")).agg(count(lit(1)).as("c_bi"))
      .filter(col("c_bi") >= minCount)
    scoreGrams(dg, uni, bi, alpha, idCol)
  }

  /**
   * Score against an EXTERNAL model — the production CCNet shape: counts
   * trained once on a reference corpus (their own `corpusNgramCounts`
   * run, persisted), the crawl scored against it. Under an external model
   * unseen grams hit the α-floor, so gibberish genuinely lands in the
   * high-perplexity tail (self-training can't see its own grams as rare —
   * see the spec's ordering note). `uniCounts` = `(w1, c_uni)`,
   * `biCounts` = `(gram, c_bi)`.
   */
  def scoreWith(docs: DataFrame, uniCounts: DataFrame, biCounts: DataFrame,
                alpha: Double = DefaultAlpha,
                idCol: String = "doc_id",
                textCol: String = "text"): DataFrame =
    scoreGrams(
      TextAnalysis.docNgrams(docs, n = 2, idCol, textCol)
        .withColumn("w1", split(col("gram"), " ").getItem(0)),
      uniCounts, biCounts, alpha, idCol)

  /** The scoring tail shared by [[scoreDocs]] and [[scoreWith]]: positioned
    * doc bigrams `(idCol, pos, gram, w1)` joined against the model count
    * tables, per-doc position-ordered fold of the log-probs. */
  private def scoreGrams(dg: DataFrame, uniCounts: DataFrame, biCounts: DataFrame,
                         alpha: Double, idCol: String): DataFrame = {
    require(alpha > 0.0, s"add-alpha smoothing needs alpha > 0, got $alpha")
    val uni = uniCounts
    val bi = biCounts
    val vsize = uni.agg(count(lit(1)).as("v"))
    val lp = dg
      .join(bi, Seq("gram"), "left")
      .join(uni, Seq("w1"), "left")
      .crossJoin(broadcast(vsize))
      .withColumn("lp", log(
        (coalesce(col("c_bi"), lit(0L)).cast("double") + alpha) /
        (coalesce(col("c_uni"), lit(0L)).cast("double") + lit(alpha) * col("v").cast("double"))))
    lp.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        (aggregate(
          transform(array_sort(collect_list(struct(col("pos"), col("lp")))),
            x => x("lp")),
          lit(0.0), (a, x) => a + x) / count(lit(1))).as("avg_logprob"))
  }

  /** Persist a reference model trained on `refDocs`: `dir/uni` (w1, c_uni)
    * and `dir/bi` (gram, c_bi) parquet — the artifact [[scoreWith]] and the
    * spark-submit `--lm-model` flag consume. */
  def saveModel(refDocs: DataFrame, dir: String, minCount: Long = 1L,
                textCol: String = "text"): Unit = {
    TextAnalysis.corpusNgramCounts(refDocs, n = 1, minCount, textCol)
      .select(col("gram").as("w1"), col("n").as("c_uni"))
      .write.mode("overwrite").parquet(s"$dir/uni")
    TextAnalysis.corpusNgramCounts(refDocs, n = 2, minCount, textCol)
      .select(col("gram"), col("n").as("c_bi"))
      .write.mode("overwrite").parquet(s"$dir/bi")
  }

  /** Load a persisted reference model, asserting the expected schemas. */
  def loadModel(spark: org.apache.spark.sql.SparkSession,
                dir: String): (DataFrame, DataFrame) = {
    val uni = spark.read.parquet(s"$dir/uni")
    val bi = spark.read.parquet(s"$dir/bi")
    require(uni.columns.toSet == Set("w1", "c_uni"),
      s"LM model $dir/uni must have (w1, c_uni), got ${uni.columns.mkString(",")}")
    require(bi.columns.toSet == Set("gram", "c_bi"),
      s"LM model $dir/bi must have (gram, c_bi), got ${bi.columns.mkString(",")}")
    (uni, bi)
  }
}
