package graft.tools

import org.apache.spark.sql.SparkSession

/** Dev smoke entry: generate a small interleaved-docs table, corrupt it
  * through the noise channel, score noisy-vs-clean with the DL kernel in a
  * distributed job, print the null-corrector CER floor. Usage:
  * `sbt "runMain graft.tools.Smoke [nDocs]"`. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(500L)
    val spark = SparkSession.builder()
      .master("local[8]")
      .appName("graft-smoke")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val pairs = graft.gen.DocGen.pairs(spark, n)
    val scored = pairs.map { p =>
      (p.split, graft.pipeline.CheckpointedRun.normalizedDist(p.text_noisy, p.text_clean),
        if (p.text_noisy == p.text_clean) 1L else 0L)
    }.toDF("split", "dist", "perfect")
    scored.groupBy($"split")
      .agg(org.apache.spark.sql.functions.count("*").as("n_spans"),
        org.apache.spark.sql.functions.avg($"dist").as("null_cer"),
        org.apache.spark.sql.functions.avg($"perfect").as("pct_perfect"))
      .orderBy($"split")
      .show(truncate = false)

    val docs = graft.gen.DocGen.docs(spark, n)
    println(s"docs=${docs.count()} text_spans=${pairs.count()}")

    // Full flagship pipeline: explode → (null-)correct → salted reassemble,
    // check the span-sequence invariant and CER against clean.
    import graft.pipeline.{CorrectionPipeline => CP}
    val docsDf = docs.toDF()
    val out = CP.run(docsDf.select($"doc_id", $"noisy_spans"), graft.correct.NullCorrector,
      spansCol = "noisy_spans", salted = true)
    val violations = CP.spanSequenceViolations(out,
      docsDf.select($"doc_id", $"noisy_spans".as("spans"))).count()
    val corrected = CP.correct(CP.explodeSpans(docsDf, "noisy_spans"), graft.correct.NullCorrector)
    val m = CP.cer(corrected, docsDf)
    println(s"pipeline: docs_out=${out.count()} span_seq_violations=$violations " +
      f"null_cer=${m.avgDistance}%.4f pct_perfect=${m.percentPerfect}%.4f n=${m.n}")

    // Dictionary correction: train vocab on the train split, correct the
    // noisy spans, report CER improvement over the null floor.
    import graft.correct.{DictionaryCorrector => DC}
    val vocabDf = DC.trainVocab(docsDf).cache()
    val bc = DC.buildModel(spark, vocabDf, 2L)
    val t0 = System.nanoTime()
    val dictCorrected = CP.correct(CP.explodeSpans(docsDf, "noisy_spans"), DC.corrector(bc))
    val dm = CP.cer(dictCorrected, docsDf)
    val secs = (System.nanoTime() - t0) / 1e9
    println(f"dictionary: cer=${dm.avgDistance}%.4f pct_perfect=${dm.percentPerfect}%.4f " +
      f"n=${dm.n} spans_per_sec=${dm.n / secs}%.0f (null floor ${m.avgDistance}%.4f)")

    // Noisy-channel corrector (trie + Levenshtein automaton + channel weights)
    val ncBc = graft.correct.NoisyChannelModel.fromVocabDf(spark, vocabDf, 2L)
    val t1 = System.nanoTime()
    val ncCorrected = CP.correct(CP.explodeSpans(docsDf, "noisy_spans"),
      new graft.correct.NoisyChannelCorrector(ncBc))
    val nm = CP.cer(ncCorrected, docsDf)
    val secs1 = (System.nanoTime() - t1) / 1e9
    println(f"noisy-channel: cer=${nm.avgDistance}%.4f pct_perfect=${nm.percentPerfect}%.4f " +
      f"n=${nm.n} spans_per_sec=${nm.n / secs1}%.0f")
    spark.stop()
  }
}
