package graft.correct

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.CerMetrics
import graft.pipeline.CerAggregator

/**
 * The reference's min-frequency model sweep
 * (`/root/reference/src/baselines/dictionary_corrector.py:181-246`):
 * candidate min_freq values are powers of two up to
 * `ceil(log2(max(freq) / 1000))` (:211-214); each pruned model is evaluated
 * on (a capped sample of) the validation split; the model with the lowest
 * average normalized distance wins and is finally scored on the test split.
 *
 * The sweep loop runs on the driver exactly like the reference's __main__;
 * each evaluation is a distributed job over the broadcast-pruned model.
 */
object DictionarySweep {

  final case class SweepResult(minFreq: Long, metrics: CerMetrics)
  final case class Outcome(results: Seq[SweepResult], best: SweepResult, testMetrics: CerMetrics)

  /** Evaluate a model on (noisy, clean) sentence pairs. */
  def evaluate(spark: SparkSession, pairs: DataFrame,
               model: org.apache.spark.broadcast.Broadcast[DictionaryModel],
               limit: Option[Int]): CerMetrics = {
    import spark.implicits._
    val sample = limit.fold(pairs)(n => pairs.limit(n))
    val c = DictionaryCorrector.corrector(model)
    sample.select(col("text_noisy"), col("text_clean")).as[(String, String)]
      .mapPartitions { it =>
        val rows = it.toArray
        c.correctTexts(rows.iterator.map(_._1)).zip(rows.iterator.map(_._2))
      }
      .select(CerAggregator.column).head()
  }

  /** Candidate min-freq grid: 2^1 .. 2^(ceil(log2(maxFreq/1000)) - 1) (:211-214).
    * On tiny corpora the reference grid is empty and its __main__ would crash
    * (`best_model_path=None`); we fall back to the single candidate {2}. */
  def minFreqGrid(maxFreq: Long): Seq[Long] = {
    val limit = math.ceil(math.log(maxFreq / 1000.0) / math.log(2.0)).toInt
    val grid = (1 until limit).map(p => 1L << p)
    if (grid.isEmpty) Seq(2L) else grid
  }

  /**
   * Full sweep over a `pairs` table (doc_id, offset, split, text_noisy,
   * text_clean). Vocabulary is trained once from the train-split clean text;
   * pruning happens per candidate at broadcast time.
   */
  def run(spark: SparkSession, pairs: DataFrame, nToEval: Int = 30): Outcome = {
    val vocabDf = pairs.filter(col("split") === "train")
      .select(explode(split(trim(col("text_clean")), "\\s+")).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(col("token")).agg(count(lit(1)).as("freq"))
      .cache()
    try {
      val maxFreq = vocabDf.agg(max(col("freq"))).head().getLong(0)
      val grid = minFreqGrid(maxFreq)
      val validation = pairs.filter(col("split") === "validation")
      val results = grid.map { mf =>
        val model = DictionaryCorrector.buildModel(spark, vocabDf, mf)
        try SweepResult(mf, evaluate(spark, validation, model, Some(nToEval)))
        finally model.destroy()
      }
      val best = results.minBy(_.metrics.avgDistance)
      val bestModel = DictionaryCorrector.buildModel(spark, vocabDf, best.minFreq)
      val testMetrics =
        try evaluate(spark, pairs.filter(col("split") === "test"), bestModel, Some(nToEval))
        finally bestModel.destroy()
      Outcome(results, best, testMetrics)
    } finally vocabDf.unpersist()
  }
}
