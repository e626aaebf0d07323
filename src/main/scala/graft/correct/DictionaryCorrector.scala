package graft.correct

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.{Span, SpanRow}

/**
 * Spark-native dictionary corrector (reference:
 * `/root/reference/src/baselines/dictionary_corrector.py`).
 *
 * Training is the classic two-phase hash aggregation (tokenize → groupBy →
 * count, reference :54-62); the trained vocabulary is collected (pruned — the
 * reference prunes for exactly this reason, :64-76) and broadcast, the Spark
 * analog of `ray.put(self)` shared memory (:126).
 *
 * Three correction paths, equivalence-tested against each other:
 *  1. [[BroadcastDictionaryCorrector]] — mapPartitions kernel with per-
 *     partition memoization (the production fast path; Zipf token reuse makes
 *     the memo hit rate very high).
 *  2. [[correctTokensViaMap]] — distinct-token dataflow: correct each distinct
 *     OOV token ONCE cluster-wide, then join the mapping back. At 100 TB the
 *     kernel cost collapses from O(corpus tokens) to O(distinct tokens); the
 *     extra shuffles are on the (small) token dimension.
 *  3. [[correctTokensRelational]] — pure relational broadcast-join + min_by
 *     argmin, the oracle-checkable path (SURVEY.md §2.3 J3).
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
  def buildModel(spark: SparkSession, vocabDf: DataFrame, minFrequency: Long): Broadcast[DictionaryModel] = {
    val vocab = vocabDf
      .filter(col("freq") >= minFrequency)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .toMap
    spark.sparkContext.broadcast(new DictionaryModel(vocab, minFrequency))
  }

  /** Path 1: broadcast kernel with executor-wide memoization (one memo per
    * deserialized model instance = per executor JVM, shared across tasks). */
  final class BroadcastDictionaryCorrector(bc: Broadcast[DictionaryModel]) extends Corrector {
    override def correctTexts(texts: Iterator[String]): Iterator[String] = {
      val model = bc.value
      texts.map(Memo.correctSentence(_, model.memo, model.inferToken))
    }
    override def correctText(text: String): String = bc.value.inferSentence(text)
  }

  def corrector(bc: Broadcast[DictionaryModel]): Corrector = new BroadcastDictionaryCorrector(bc)

  /** Path 2 building block: distinct tokens → corrected mapping, each
    * distinct token inferred exactly once cluster-wide. */
  def tokenMap(tokens: Dataset[String], bc: Broadcast[DictionaryModel]): DataFrame = {
    val spark = tokens.sparkSession
    import spark.implicits._
    tokens.distinct()
      .mapPartitions { it => val m = bc.value; it.map(t => (t, m.inferToken(t))) }
      .toDF("token", "corrected")
  }

  /** Path 2: correct text spans via the distinct-token mapping. Empty/blank
    * text spans and media spans pass through untouched. */
  def correctSpansViaTokenMap(spans: Dataset[SpanRow], bc: Broadcast[DictionaryModel]): Dataset[SpanRow] = {
    val spark = spans.sparkSession
    import spark.implicits._
    val text = spans.filter(col("kind") === Span.KindText)
    val exploded = text
      .select(col("doc_id"), col("offset"),
        posexplode(split(trim(col("text")), "\\s+")).as(Seq("pos", "token")))
      .filter(length(col("token")) > 0)
    val mapping = tokenMap(exploded.select(col("token")).as[String], bc)
    val correctedSentences = exploded
      .join(mapping, Seq("token"))
      .groupBy(col("doc_id"), col("offset"))
      .agg(array_join(transform(
        sort_array(collect_list(struct(col("pos"), col("corrected")))),
        s => s("corrected")), " ").as("corrected_text"))
    val correctedText = text
      .join(correctedSentences, Seq("doc_id", "offset"), "left")
      .select(col("doc_id"), col("offset"), col("kind"),
        // blank spans produced no tokens → keep "" (reference joins zero tokens to "")
        coalesce(col("corrected_text"),
          when(length(trim(col("text"))) === 0, lit("")).otherwise(col("text"))).as("text"),
        col("media_ref"))
      .as[SpanRow]
    correctedText.unionByName(spans.filter(col("kind") =!= Span.KindText))
  }

  /**
   * Path 3 (oracle): relational nearest-word over distinct tokens — broadcast
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
