package graft.correct

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Span

/**
 * Spark-native dictionary corrector (reference:
 * `/root/reference/src/baselines/dictionary_corrector.py`).
 *
 * Training is the classic two-phase hash aggregation (tokenize → groupBy →
 * count, reference :54-62); the trained vocabulary is collected (pruned — the
 * reference prunes for exactly this reason, :64-76) and broadcast, the Spark
 * analog of `ray.put(self)` shared memory (:126).
 *
 * Two correction paths, equivalence-tested against each other:
 *  - [[corrector]] — the one memoized [[MemoCorrector]] over the broadcast
 *    [[DictionaryModel]], the path production runs (Zipf token reuse makes
 *    the executor-wide memo's hit rate very high);
 *  - [[correctTokensRelational]] — pure relational broadcast-join + min_by
 *    argmin, the oracle-checkable witness (SURVEY.md §2.3 J3).
 */
object DictionaryCorrector {

  /** Vocabulary build over the train-split clean text spans (A2):
    * `explode(split(trim(text))) → groupBy(token) → count`. */
  def trainVocab(docs: DataFrame, spansCol: String = "spans",
                 splitFilter: Option[String] = Some("train")): DataFrame = {
    val base = splitFilter.fold(docs)(s => docs.filter(col("split") === s))
    base
      .select(explode(col(spansCol)).as("span"))
      .filter(col("span.kind") === Span.KindText)
      .select(explode(split(trim(col("span.text")), "\\s+")).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(col("token"))
      .agg(count(lit(1)).as("freq"))
  }

  /** Collect + broadcast the (pruned) vocabulary as a kernel model. */
  def buildModel(spark: SparkSession, vocabDf: DataFrame, minFrequency: Long): Broadcast[DictionaryModel] =
    TokenModel.broadcast(spark, vocabDf, minFrequency)(new DictionaryModel(_, minFrequency))

  def corrector(bc: Broadcast[DictionaryModel]): Corrector = new MemoCorrector(bc)

  /**
   * The oracle path: relational nearest-word over distinct tokens — broadcast
   * theta join on the length-band predicate + `min_by` argmin with the full
   * deterministic tie-break (dist asc, freq desc, token asc).
   *
   * `maxDist` bounds the band (|len(cand) - len(token)| <= maxDist); a token
   * whose true nearest word is farther than `maxDist` falls back to itself.
   * With `maxDist` >= max token length the result equals the kernel exactly.
   */
  def correctTokensRelational(tokens: DataFrame, vocabDf: DataFrame,
                              minFrequency: Long, maxDist: Int = Int.MaxValue): DataFrame = {
    val vocab = vocabDf.filter(col("freq") >= minFrequency)
      .select(col("token").as("cand"), col("freq"))
    // native codegen'd kernel, not a Scala UDF: the distance runs inside the
    // broadcast theta-join's WholeStageCodegen span with no serde per pair
    org.apache.spark.sql.graft.NativeFunctions.register(tokens.sparkSession)
    val dl = (a: Column, b: Column) => call_function("dl_distance", a, b)
    val distinctTokens = tokens.select(col("token")).distinct()
    val inVocab = distinctTokens.join(vocab, col("token") === col("cand"), "left_semi")
      .select(col("token"), col("token").as("corrected"))
    val oov = distinctTokens.join(vocab, col("token") === col("cand"), "left_anti")
    val candidates = oov.join(broadcast(vocab),
      abs(length(col("cand")) - length(col("token"))) <= (if (maxDist == Int.MaxValue) lit(Int.MaxValue) else lit(maxDist)))
      .withColumn("dist", dl(col("token"), col("cand")))
    val best = candidates
      .groupBy(col("token"))
      .agg(min_by(col("cand"), struct(col("dist"), (-col("freq")).as("nf"), col("cand"))).as("corrected"))
    val fallback = oov.join(best, Seq("token"), "left_anti")
      .select(col("token"), col("token").as("corrected"))
    inVocab.unionByName(best).unionByName(fallback)
  }
}
