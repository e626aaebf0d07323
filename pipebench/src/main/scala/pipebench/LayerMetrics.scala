package pipebench

import graft.correct.NoisyChannelModel
import graft.gen.DetRng

/** Per-layer metrics of one traced iteration, named `<layer>.<metric>`
  * after the engine module each layer calls into. */
object LayerMetrics {

  /** Curation stages reported on every workload (zero where a workload
    * does not run the stage). */
  val CurationStages = Seq("sample", "quality_gate", "dedup", "span_dedup")

  def unit(key: String): String = key match {
    case k if k.endsWith("tokens_per_s") || k.startsWith("scaling.spans_per_s") => "1/s"
    case k if k.endsWith("_s") || k.endsWith(".s") => "s"
    case k if k.endsWith("_bytes") || k.endsWith("bytes_read") || k.endsWith("bytes_written") => "bytes"
    case k if k.endsWith("_us_p50") || k.endsWith("_us_p99") => "us"
    case k if k.endsWith("_ratio") || k.endsWith("_frac") || k.endsWith("task_skew") ||
      k == "scaling.efficiency" => "ratio"
    case _ => "count"
  }

  def apply(m: Map[String, Double], tr: Tracer, lis: StageListener, outDir: String,
            tracedS: Double, untracedS: Double): Map[String, Double] = {
    val self = tr.selfSeconds.withDefaultValue(0.0)
    def tasks(span: String) = lis.of(span)
    def sumL(span: String)(f: TaskRec => Long): Double = tasks(span).map(f).sum.toDouble
    val cur = CurationStages.flatMap { st =>
      val span = s"curation.$st"
      Seq(s"$span.s" -> self(span),
        s"$span.docs_in" -> m.getOrElse(s"$span.docs_in", 0.0),
        s"$span.docs_out" -> m.getOrElse(s"$span.docs_out", 0.0),
        s"$span.shuffle_bytes" -> sumL(span)(_.shuffleWriteBytes))
    }.toMap
    val dedupIn = cur("curation.dedup.docs_in")
    val kernelS = self("kernel")
    val tokens = m("kernel.tokens")
    val checkpoint = Seq("checkpoint.stage", "checkpoint.stage_clean", "checkpoint.done",
      "checkpoint.state").map(self).sum
    val sinkFiles = {
      def walk(f: java.io.File): Int =
        if (f.isDirectory) Option(f.listFiles).map(_.map(walk).sum).getOrElse(0)
        else if (f.getName.startsWith("part-")) 1 else 0
      walk(new java.io.File(outDir))
    }
    val all = lis.tasks
    cur ++ Map(
      "sources.s" -> self("sources"),
      "sources.docs" -> m("sources.docs"),
      "sources.bytes_read" -> sumL("sources")(_.inputBytes),
      "curation.s" -> CurationStages.map(st => self(s"curation.$st")).sum,
      "curation.dedup.removed_frac" ->
        (if (dedupIn > 0) 1.0 - cur("curation.dedup.docs_out") / dedupIn else 0.0),
      "model.s" -> (self("model.vocab") + self("model.build") + self("model.trie")),
      "model.vocab_s" -> self("model.vocab"),
      "model.vocab_size" -> m("model.vocab_size"),
      "model.build_s" -> self("model.build"),
      "model.trie_build_s" -> self("model.trie"),
      "model.broadcast_bytes" -> m("model.broadcast_bytes"),
      "checkpoint.s" -> checkpoint,
      "checkpoint.stage_s" -> self("checkpoint.stage"),
      "checkpoint.stage_bytes" -> sumL("checkpoint.stage")(_.outputBytes),
      "checkpoint.stage_clean_s" -> self("checkpoint.stage_clean"),
      "checkpoint.state_s" -> (self("checkpoint.done") + self("checkpoint.state")),
      "checkpoint.state_rows" -> m("checkpoint.state_rows"),
      "explode.s" -> self("explode"),
      "explode.spans" -> m("explode.spans"),
      "kernel.s" -> kernelS,
      "kernel.tokens" -> tokens,
      "kernel.tokens_per_s" -> (if (kernelS > 0) tokens / kernelS else 0.0),
      "kernel.distinct_tokens" -> m("kernel.distinct_tokens"),
      "kernel.oov_distinct_tokens" -> m("kernel.oov_distinct_tokens"),
      "kernel.memo_entries" -> m("kernel.memo_entries"),
      "kernel.memo_hit_ratio" -> (if (tokens > 0) 1.0 - m("kernel.memo_entries") / tokens else 0.0),
      "kernel.task_skew" -> lis.taskSkew("kernel"),
      "kernel.gc_s" -> sumL("kernel")(_.gcMs) / 1000.0,
      "reassembly.s" -> self("reassembly"),
      "reassembly.shuffle_bytes" -> sumL("reassembly")(_.shuffleWriteBytes),
      "reassembly.shuffle_records" -> sumL("reassembly")(_.shuffleWriteRecords),
      "reassembly.spill_bytes" -> sumL("reassembly")(_.spillBytes),
      "reassembly.task_skew" -> lis.taskSkew("reassembly"),
      "sink.s" -> self("sink"),
      "sink.bytes_written" -> sumL("sink")(_.outputBytes),
      "sink.files" -> sinkFiles.toDouble,
      "cer.s" -> self("cer"),
      "cer.pairs" -> m("cer.pairs"),
      "spark.jobs" -> lis.jobs.get.toDouble,
      "spark.stages" -> lis.stages.get.toDouble,
      "spark.tasks" -> all.size.toDouble,
      "spark.shuffle_bytes" -> all.map(_.shuffleWriteBytes).sum.toDouble,
      "spark.gc_s" -> all.map(_.gcMs).sum / 1000.0,
      "trace.traced_s" -> tracedS,
      "trace.untraced_s" -> untracedS,
      "trace.overhead_s" -> (tracedS - untracedS),
      "trace.self_s" -> (self("trace.token_stats") + self("run") + self("group")))
  }

  /** Single-thread `inferToken` latency over a seeded sample of the run's
    * distinct out-of-vocabulary tokens, in microseconds, with the sample
    * count. */
  def oovLatency(model: NoisyChannelModel, oov: Seq[String], seed: Long): Seq[(String, Double)] = {
    val MaxSamples = 2000
    val sample = Stats.shuffled(oov, DetRng.forKey("oov-sample", seed)).take(MaxSamples)
    val us = sample.map { t =>
      val t0 = System.nanoTime(); model.inferToken(t); (System.nanoTime() - t0) / 1e3
    }.toSeq
    Seq("kernel.oov_token_us_p50" -> (if (us.isEmpty) 0.0 else Stats.quantile(us, 0.5)),
      "kernel.oov_token_us_p99" -> (if (us.isEmpty) 0.0 else Stats.quantile(us, 0.99)),
      "kernel.oov_token_samples" -> sample.length.toDouble)
  }
}
