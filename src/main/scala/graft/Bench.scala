package graft

import org.apache.spark.sql.SparkSession

import graft.correct.{DictionaryCorrector, NoisyChannelModel, NoisyChannelCorrector}
import graft.gen.DocGen
import graft.pipeline.CorrectionPipeline

/**
 * Benchmark main. Two parts:
 *
 *  1. Headline SparkEntry queries over `SPARK_GRAFT_SF_DIR` at
 *     `local[SPARK_GRAFT_CPUS]` (per-query wall seconds).
 *  2. The explode form of the correction pipeline (deterministic interleaved
 *     docs with pathological skew → noisy-channel correction → salted
 *     reassembly → CER; production corrects in place in each doc row,
 *     `CheckpointedRun.run`, and is not what this times)
 *     run at TWO parallelism levels, local[N] and local[4N] (N = cpus/4) —
 *     the sandbox evidence for the north rule's cluster-scaling criterion:
 *     scaling efficiency = throughput(4N) / (4 × throughput(N)) ≥ 0.8.
 *     Each session gets an untimed warmup run so JIT state doesn't bias
 *     either level.
 *
 * Prints exactly ONE JSON line.
 */
object Bench {

  private val headline = Seq(
    "q1_agg", "q_vocab_agg", "q_reassemble", "q_minhash", "q_lsh_pairs",
    "q_simhash", "q_simhash_hamming", "q_ngram_jaccard", "q_quality",
    "q_ann_topk", "q_lsh_ann_bands", "q_cosine_neardup", "q_join_agg",
    "q_window_events", "q_sessionize", "q_decode_stop",
    "q_dedup_cc", "q_tfidf", "q_bm25", "q_repetition", "q_winnow",
    "q_corpus_rollup", "q_winnow_pairs", "q_len_quantiles",
    "q_bm25_doc", "q_quality_gate", "q_bigrams", "q_sample_strat", "q_profile",
    "q_dup_segments", "q_seg_dedup", "q_semdedup_pairs",
    "q_sq8", "q_sq8_topk", "q_gopher",
    "q_pq_topk", "q_bpe_pairs", "q_ivf_pq", "q_bloom_dedup", "q_cms_hh",
    "q_span_corrupt", "q_weighted_sample", "q_len_batches", "q_corpus_diff",
    "q_freq_spectrum", "q_shards",
    "q_good_turing")

  /** The join/window-heavy tail runs in a FRESH session: in BENCH_r04 these
    * queries drifted 3–6× inside the long shared session (AQE flipping join
    * strategies under accumulated heap pressure) while early queries drifted
    * ~1.3×; a clean heap + a System.gc() per query keeps their plans on the
    * broadcast path they get in isolation. */
  private val headlineHeavy = Seq(
    "q_shared_substrings", "q_dup_intervals", "q_substr_cut", "q_self_repeats",
    "q_lm_score", "q_decontam", "q_pii_scrub", "q_source_quota", "q_seq_pack",
    // round 6: as the shared-session headline grew past 60 queries the
    // same heap drift reached these (measured 1.3-2.3x slower in-session
    // at position 30+ vs fresh-session bests at or below round-5 levels)
    "q_semdedup", "q_dsir", "q_lang_profile", "q_source_mix", "q_qclf",
    "q_containment", "q_containment_lsh")

  private def session(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graft-bench-$cores")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** One full pipeline run over synthetic HTML pages (pathological skew on).
    * Timed section = the explode composition, not the production job
    * (which corrects in place per doc row): main-content extraction →
    * simulated-OCR noise → explode → correction kernel → salted
    * reassembly → sink.
    * Input materialization, model training/broadcast (one-off at production
    * scale) and the CER evaluation job are measured separately.
    * Returns (nTextSpans, jobSec, cer, pctPerfect). */
  private def pipelineRun(spark: SparkSession, nDocs: Long): (Long, Double, Double, Double) = {
    import spark.implicits._
    val pages = graft.gen.HtmlGen.pages(spark, nDocs, pathological = true).cache()
    val clean = graft.extract.Extract.extractDocs(pages).toDF().cache()
    try {
      pages.count()
      clean.count() // clean extraction doubles as vocab source + CER truth
      val vocab = DictionaryCorrector.trainVocab(clean, "spans", splitFilter = None)
      val model = NoisyChannelModel.fromVocabDf(spark, vocab, 2)
      val corrector = new NoisyChannelCorrector(model)
      val (_, sec) = time {
        val extracted = graft.extract.Extract.extractDocs(pages)
        val noisy = graft.gen.NoiseChannel.noiseDocs(extracted)
        val corrected = CorrectionPipeline
          .correct(CorrectionPipeline.explodeSpans(noisy.toDF(), "spans"), corrector)
        CorrectionPipeline.reassembleSalted(corrected)
          .write.mode("overwrite").parquet(s"/tmp/graft_bench_out")
      }
      val out = spark.read.parquet("/tmp/graft_bench_out")
      val m = CorrectionPipeline.cer(
        CorrectionPipeline.explodeSpans(out, "spans"), clean, "spans")
      (m.n, sec, m.avgDistance, m.percentPerfect)
    } finally { pages.unpersist(); clean.unpersist(); () }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val nDocs = sys.env.getOrElse("SPARK_GRAFT_BENCH_DOCS", "8000").toLong
    // Scaling pair N → 4N. Default 2 → 8: this host's own pure-CPU scaling
    // tops out at ~0.73 efficiency for 8→32 cores (measured with plain
    // process pools, no JVM/Spark involved — frequency/contention ceiling),
    // so the 2→8 band is where code-level scaling is observable at all.
    val scaleN = sys.env.getOrElse("SPARK_GRAFT_SCALE_N", "2").toInt
    val scale4N = 4 * scaleN

    // Reps are PAIRED same-window (the round-2 advisor's suggested
    // estimator): each rep times the N-core and 4N-core runs back-to-back,
    // so shared-host contention — which drifts on a minutes scale — hits the
    // numerator and denominator of that rep's efficiency ratio together
    // instead of landing on whichever level happened to run in the noisy
    // minutes. The gate metric is the MEDIAN pair (round-3 advisor fix:
    // max-of-pairs harvests anti-correlated drift — a slow-N/fast-4N pair
    // reads high — while the median is robust to one noisy pair in either
    // direction and cannot be biased upward by selection). The best pair is
    // still emitted as `eff_best_pair` (the quietest-window secondary stat),
    // and all raw rep times and per-pair efficiencies are emitted so the
    // artifact shows the noise distribution, not just the chosen window.
    // 5 reps (round-4 verdict task 7): BENCH_r04's median-of-3 sat 0.019
    // above the 0.8 gate with one 0.694 contended pair in the record —
    // median-of-5 is robust to TWO bad pairs at ~4 extra minutes
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "5").toInt
    def onePass(cores: Int): (Long, Double, Double, Double) = {
      System.gc() // don't let the previous pass's garbage tax this one
      val s = session(cores)
      try {
        pipelineRun(s, nDocs / 16) // warmup: JIT + codegen caches
        pipelineRun(s, nDocs)
      } finally {
        s.stop()
        SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      }
    }
    val pairs = (0 until reps).map { _ => (onePass(scaleN), onePass(scale4N)) }
    val repsN = pairs.map(_._1._2)
    val reps4N = pairs.map(_._2._2)
    val effPairs = pairs.map { case (n, f) => (f._1 / f._2) / (4.0 * (n._1 / n._2)) }
    // median pair: for even rep counts take the LOWER middle (conservative —
    // never reads above the true median)
    val medianEff = effPairs.sorted.apply((reps - 1) / 2)
    val ((spansN, secN, _, _), (spans4, sec4, cer, pct)) =
      pairs(effPairs.indexOf(medianEff))

    // --- headline queries at full width; the heavy tail in its own fresh
    // session, one System.gc() per query (see headlineHeavy) ---
    def runGroup(names: Seq[String]): Seq[(String, Double)] = {
      val sQ = session(cpus)
      try names.flatMap { name =>
        SparkEntry.queries.get(name).map { fn =>
          System.gc()
          val (_, sec) = time {
            fn(sQ, sfDir).write.mode("overwrite").format("noop").save()
          }
          name -> sec
        }
      } finally {
        sQ.stop()
        SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      }
    }
    val queryTimes = runGroup(headline) ++ runGroup(headlineHeavy)

    val thrN = spansN / secN
    val thr4 = spans4 / sec4
    val eff = thr4 / (4.0 * thrN) // == medianEff by construction
    // Portable.jsonNum: Locale.ROOT + non-finite → null (shared with
    // RunPipeline so the artifact-format rules live in one place)
    def num(fmt: String, v: Double) = Portable.jsonNum(fmt, v)
    val qJson = queryTimes.map { case (k, v) => s""""$k":${num("%.3f", v)}""" }.mkString("{", ",", "}")
    def arr(xs: Seq[Double]) = xs.map(num("%.2f", _)).mkString("[", ",", "]")
    val total = queryTimes.map(_._2).sum + sec4
    println(
      s"""{"metric":"total","value":${num("%.3f", total)},"unit":"sec","queries":$qJson,""" +
        s""""sf":"$sfDir","pipeline":{"n_docs":$nDocs,"text_spans":$spans4,""" +
        s""""cer":${num("%.4f", cer)},"pct_perfect":${num("%.4f", pct)},""" +
        s""""spans_per_sec_N":${num("%.1f", thrN)},"spans_per_sec_4N":${num("%.1f", thr4)},""" +
        s""""cores_N":$scaleN,"cores_4N":$scale4N,"scaling_efficiency":${num("%.3f", eff)},""" +
        s""""eff_pairs":${effPairs.map(num("%.3f", _)).mkString("[", ",", "]")},""" +
        s""""eff_best_pair":${num("%.3f", effPairs.max)},""" +
        s""""reps_N":${arr(repsN)},"reps_4N":${arr(reps4N)}}}""")
  }
}
