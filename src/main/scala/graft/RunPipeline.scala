package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.correct.{DictionaryCorrector, NoisyChannelCorrector, NoisyChannelModel, NullCorrector}
import graft.pipeline.CheckpointedRun

/**
 * Production entry point — the spark-submit surface of the engine
 * (BASELINE.json north_star: "the pipeline is submitted via spark-submit"):
 *
 * {{{
 * spark-submit --class graft.RunPipeline <jar> \
 *   --input  /data/docs            # parquet, (doc_id, <spans-col>: array<struct<kind,text,media_ref,offset>>)
 *   --output /data/corrected       # bucket-partitioned parquet
 *   [--state /data/corrected/_state]  # checkpoint state table (resume = rerun same command)
 *   [--clean /data/truth]          # ground-truth docs for CER (default: the input itself,
 *                                  #   making `cer` the corrected-vs-input drift)
 *   [--vocab /data/vocab]          # pre-trained (token, freq) parquet; else trained from --clean
 *   [--corrector noisy|dictionary|null] [--min-freq 2]
 *   [--dedup none|exact|near-lsh[:threshold]|near-cc[:threshold]|near-simhash[:maxHamming]]
 *                                  # duplicate collapse BEFORE correction:
 *                                  #   exact        = normalized-text fingerprint groups
 *                                  #   near-lsh:t   = + MinHash-LSH candidates, star-wise
 *                                  #                  Jaccard >= t verification (default t 0.9)
 *                                  #   near-cc:t    = + full pair verification and exact
 *                                  #                  transitive clusters (Jaccard >= t)
 *                                  #   near-simhash:d = + SimHash Hamming <= d clusters (default d 3)
 *   [--sample f]                   # deterministic hash-gated sample of the input docs
 *                                  #   (md5(doc_id) gate: reproducible, nested across f)
 *   [--quality-gate q[:d]]         # drop text docs with quality < q or duplicate-token
 *                                  #   ratio > d (default d 0.6); media-only docs pass
 *   [--gopher minWords[:minStop]]  # full Gopher rule set (Rae'21 App. A) on the text
 *                                  #   docs: word-count/mean-word-length bounds, symbol
 *                                  #   ratio, alpha-word + bullet/ellipsis-line
 *                                  #   fractions, stopword hits (defaults 50:2, the
 *                                  #   paper's); media-only docs pass
 *   [--quality-model /data/qm]     # model-based quality filter: a persisted count-diff
 *                                  #   classifier (QualityClassifier.saveCountDiffModel
 *                                  #   layout: diff/ + meta/ parquet) scores each text
 *                                  #   doc's hashed unigram counts; docs with
 *                                  #   score_raw <= threshold are dropped (GPT-3/CCNet-
 *                                  #   style learned gate); media-only docs pass
 *   [--quality-model-min n]        # the integer score threshold (default 0); a separate
 *                                  #   flag, not a :suffix, because thresholds are signed
 *                                  #   and paths may carry :port segments
 *   [--decontam /data/eval[:n]]    # drop training docs sharing an n-token n-gram
 *                                  #   (default n 13) with the eval/benchmark docs table
 *                                  #   (same interleaved-docs shape; GPT-3-style rule)
 *   [--lm-model /data/lm]          # reference bigram-LM count tables (LmScore.saveModel
 *                                  #   layout: uni/ + bi/ parquet)
 *   [--lm-min-logprob x]           # with --lm-model: drop text docs whose mean bigram
 *                                  #   log-prob under the reference model is < x (CCNet-
 *                                  #   style perplexity filter); docs with no bigram
 *                                  #   evidence (< 2 tokens) and media-only docs pass
 *   [--dsir-model /data/dsir]      # DSIR importance resampling (Xie'23): a persisted
 *                                  #   target bag-of-ngrams model (Dsir.saveModel
 *                                  #   layout: counts/ + meta/ parquet); text docs are
 *                                  #   Gumbel-top-k sampled ∝ their importance weight
 *                                  #   against it — distribution matching, not a score
 *                                  #   gate; media-only docs pass
 *   [--dsir-k n]                   # with --dsir-model: the resample budget (count of
 *                                  #   text docs kept); both-or-neither with the model
 *   [--dsir-alpha x]               # add-α bucket-model smoothing (default 0.5)
 *   [--bloom-dedup /data/bloom]    # cross-BATCH incremental dedup (Dolma-style): drop
 *                                  #   text docs whose normalized-text fingerprint hits
 *                                  #   a persisted Bloom sketch of previously shipped
 *                                  #   batches (Bloom.save layout: words/ + meta/);
 *                                  #   true re-crawls ALWAYS drop (no false negatives),
 *                                  #   fresh docs drop at the sketch's FP rate (the
 *                                  #   documented trade); media-only docs pass; runs
 *                                  #   with the dedup family, keyed on the same
 *                                  #   (redacted) text
 *   [--bloom-out /data/bloom2]     # write the updated sketch: this batch's surviving
 *                                  #   text fingerprints, MERGED into the --bloom-dedup
 *                                  #   input sketch when given (same geometry) — the
 *                                  #   accumulator the next batch deduplicates against
 *   [--bloom-bits m] [--bloom-k k] # sketch geometry when --bloom-out starts fresh
 *                                  #   (no input sketch; defaults 1048576:5)
 *   [--langid-model /data/lp]      # language gate (the CCNet langid filter): classify
 *                                  #   each text doc with a persisted Cavnar-Trenkle
 *                                  #   n-gram rank profile (LangProfile.save layout)
 *                                  #   and keep only docs predicted in --langid-keep;
 *                                  #   media-only docs pass; both-or-neither
 *   [--langid-keep en,de]          # comma-separated allowed languages
 *                                  # curation order: sample -> quality gate -> gopher
 *                                  # -> quality model -> LM filter -> DSIR resample
 *                                  # -> decontam -> PII
 *                                  # scrub -> doc
 *                                  # dedup -> span dedup -> media dedup -> source mix
 *                                  # (narrow/cheap first, shuffle-bearing later; dedup
 *                                  # keys on the REDACTED text when the scrub is on;
 *                                  # span cuts on doc-dedup survivors only; the mix
 *                                  # allocates over the CLEANED per-source counts)
 *   [--bpe-train n[:maxWords]]     # train a BPE merge table over the corrected corpus
 *                                  #   (one distributed word-count agg + the driver-local
 *                                  #   delta merge loop over the top-maxWords words,
 *                                  #   default 2^20) -> output/_export/bpe_model in the
 *                                  #   Bpe.saveMerges layout; point --bpe-encode at that
 *                                  #   dir to train AND tokenize in one run
 *   [--stage-telemetry true]       # per-stage quality telemetry: null-CER + doc/span
 *                                  #   counts of each ACTIVE doc-drop stage's surviving
 *                                  #   population (which gate moved quality) — written
 *                                  #   to <output>/_telemetry/stage_null_cer and rides
 *                                  #   the artifact as "stage_cer"; opt-in (each stage
 *                                  #   re-evaluates its curation prefix once)
 *   [--pii-scrub true]             # redact emails/IPv4/intl phones in TEXT spans with
 *                                  #   typed placeholders (Pii.redact) before correction;
 *                                  #   media spans untouched
 *   [--span-dedup minTokens]       # drop TEXT spans whose normalized content repeats
 *                                  #   corpus-wide (C4/RefinedWeb repeated-unit rule on
 *                                  #   the span — boilerplate sentences doc-level dedup
 *                                  #   cannot see); first occurrence (min doc, offset)
 *                                  #   keeps its copy; spans under minTokens tokens are
 *                                  #   immune; media spans/order/offsets untouched
 *   [--media-dedup dhash[:d]+ahash[:d]+vhash[:d]]
 *                                  # perceptual dedup across MEDIA spans, per modality:
 *                                  #   dhash = images (9x8 difference hash, default d 6),
 *                                  #   ahash = audio (energy-envelope hash over the PCM
 *                                  #   decode, default d 8), vhash = video (composited
 *                                  #   per-frame dHash over animated GIF, default d 6,
 *                                  #   frame-set overlap >= 0.8); hash-identical and
 *                                  #   Hamming<=d near-dup payloads collapse to one
 *                                  #   canonical ref per cluster (component min);
 *                                  #   media_refs are rewritten in place, span order/
 *                                  #   kinds/text untouched — the modalities the text
 *                                  #   dedup family cannot see
 *   [--source-mix alpha:budget]    # temperature-based source mixing (the GPT-3/LLaMA
 *                                  #   data-mixing rule): per-source output share re-
 *                                  #   weighted toward n^alpha under a total row budget
 *                                  #   of budget*N, small-source saturation resolved by
 *                                  #   exact water-filling (Sampling.temperatureMix);
 *                                  #   runs LAST so allocations reflect the CLEANED
 *                                  #   per-source counts — the recipe's semantics (mix
 *                                  #   proportions are quoted over deduped data)
 *   [--mix-source-col source]      # the input column naming each doc's source/domain
 *                                  #   (default "source"; must exist when --source-mix
 *                                  #   is set — extra input columns ride through
 *                                  #   CorpusIO's contract check untouched)
 *   [--input-format parquet|orc|jsonl] # input + clean table format (CorpusIO.readDocs:
 *                                  #   asserts the (doc_id, spans) contract on scan;
 *                                  #   jsonl reads the canonical record with an explicit
 *                                  #   schema — no inference pass)
 *   [--shards N[:seed]]            # TRAINING EXPORT (terminal, over the CORRECTED
 *                                  #   output): deterministic shard assignment
 *                                  #   (Sampling.shardAssignment — md5-keyed global
 *                                  #   shuffle, dense 0-based pos per shard); writes
 *                                  #   output/_export/shards (docs + shard + pos,
 *                                  #   partitionBy(shard) for storage-pruned shard
 *                                  #   reads) and output/_export/manifest
 *                                  #   (shard, n_docs, n_tokens)
 *   [--pack seqLen]                # with --shards: per-shard sequence-packing index
 *                                  #   (Packing.packSequences over each shard's pos
 *                                  #   order, token stream restarting at 0 per shard —
 *                                  #   each shard feeds one dataloader); writes
 *                                  #   output/_export/pack (doc_id, shard, pos,
 *                                  #   n_tokens, tok_start, start_bin, end_bin)
 *   [--span-corrupt p[:maxLen]]    # T5 span-corruption examples over the corrected
 *                                  #   doc text (SpanCorruption.corrupt, deterministic
 *                                  #   md5 gates; defaults maxLen 4); writes
 *                                  #   output/_export/corrupt (doc_id, input_text,
 *                                  #   target_text)
 *   [--bpe-encode /data/bpe]       # tokenize the corrected doc text with a persisted
 *                                  #   BPE merge table (Bpe.saveMerges layout); writes
 *                                  #   output/_export/tokens (doc_id, tokens)
 *                                  # Export stages are resumable as a unit: a sidecar
 *                                  # output/_export/_spec records the export spec +
 *                                  # source stage token; re-submitting the identical
 *                                  # command skips them (byte-identical artifacts stay
 *                                  # put), any spec/source change rebuilds them.
 *   [--run-id run1] [--spans-col spans] [--clean-spans-col spans]
 *   [--buckets 64] [--group-size 8]
 * }}}
 *
 * The run is resumable: work is committed per bucket group with a state row
 * `(run_id, bucket, status, rows, cer_sum, perfect, lineage)` after each
 * atomic data commit, so re-submitting the identical command after a kill
 * processes only the remaining buckets (see CheckpointedRun; kill-and-resume
 * byte-identity is CI-tested). Prints ONE JSON metrics line on success.
 *
 * No `.master()` is set here — spark-submit provides it; running under sbt
 * without one falls back to `local[*]` for development.
 */
object RunPipeline {

  private def parseArgs(args: Array[String]): Map[String, String] =
    args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap

  def main(args: Array[String]): Unit = {
    val a = parseArgs(args)
    val builder = SparkSession.builder()
      .appName(s"graft-run-${a.getOrElse("run-id", "run1")}")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
    val spark =
      (if (sys.props.contains("spark.master") || sys.env.contains("SPARK_MASTER"))
         builder
       else builder.master("local[*]")
             .config("spark.sql.shuffle.partitions", Runtime.getRuntime.availableProcessors()))
        .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try println(run(spark, a)) finally spark.stop()
  }

  /** The pipeline's canonical "document text" key — concatenated text-span
    * contents — plus its normalized length, shared by every curation step
    * (dedup, quality gate, LM filter) so they can never disagree on what a
    * document's text is. Returns the frame tagged with `__txt` and `__n`. */
  private def tagDocText(docs: org.apache.spark.sql.DataFrame,
                         spansCol: String): org.apache.spark.sql.DataFrame = {
    val txt = concat_ws(" ",
      transform(filter(col(spansCol), sp => sp.getField("kind") === graft.model.Span.KindText),
        sp => sp.getField("text")))
    docs.withColumn("__txt", txt)
      .withColumn("__n",
        coalesce(length(graft.dedup.Dedup.normalizeText(col("__txt"))), lit(0)))
  }

  /** Duplicate collapse over the interleaved-docs table — the standard
    * web-pipeline order (dedup BEFORE the expensive correction kernel; every
    * duplicate removed here saves a full correction pass). The dedup key is
    * the normalized concatenation of the TEXT spans, and the survivor rules
    * are the [[graft.dedup.Dedup]] operators themselves (one definition per
    * rule; shuffles carry fingerprints/signatures + doc ids only, never
    * span arrays). Docs with NO text content (media-only spans, null spans)
    * pass through untouched — an empty text makes them text-identical to
    * each other, not duplicates of anything.
    *
    * `mode` grammar: `exact`, `near-lsh[:threshold]`, `near-cc[:threshold]`,
    * `near-simhash[:maxHamming]` — the near modes all run the exact collapse
    * first (inside their Dedup operators) and differ in candidate
    * generation / verification / cluster semantics (see Dedup scaladoc). */
  private def dedupDocs(docs: org.apache.spark.sql.DataFrame,
                        spansCol: String, mode: String): org.apache.spark.sql.DataFrame = {
    import graft.dedup.Dedup
    def arg(default: Double): Double =
      mode.split(":", 2) match {
        case Array(_, v) => v.toDouble
        case _ => default
      }
    val tagged = tagDocText(docs, spansCol)
    val hasText = tagged.where(col("__n") > 0)
    val noText = tagged.where(col("__n") === 0)
    val deduped = mode.takeWhile(_ != ':') match {
      case "exact" => Dedup.dedupExact(hasText, "doc_id", "__txt")
      case "near-lsh" => Dedup.dedupNearLsh(hasText, arg(0.9), idCol = "doc_id", textCol = "__txt")
      case "near-cc" => Dedup.dedupNearCC(hasText, arg(0.9), idCol = "doc_id", textCol = "__txt")
      case "near-simhash" =>
        Dedup.dedupNearSimHash(hasText, arg(3.0).toInt, idCol = "doc_id", textCol = "__txt")
      case other => sys.error(
        s"unknown --dedup $other (none|exact|near-lsh[:t]|near-cc[:t]|near-simhash[:d])")
    }
    deduped.unionByName(noText).drop("__txt", "__n")
  }

  /** Quality gate over the concatenated text spans (same text key and
    * media-only passthrough policy as [[dedupDocs]]): keep text docs with
    * `quality >= q` and `dup_token_ratio <= d`. Both signals are scan-side
    * narrow expressions — no shuffle. `spec` grammar: `q` or `q:d`. */
  private def gateDocs(docs: org.apache.spark.sql.DataFrame,
                       spansCol: String, spec: String): org.apache.spark.sql.DataFrame = {
    val (q, d) = spec.split(":", 2) match {
      case Array(qs, ds) => (qs.toDouble, ds.toDouble)
      case Array(qs) => (qs.toDouble, 0.6)
    }
    val tagged = tagDocText(docs, spansCol)
    val kept = graft.streaming.StreamingOps.qualityGate(
        tagged.where(col("__n") > 0), "__txt", q, d)
      .drop("quality", "dup_token_ratio", "dup_bigram_frac")
    kept.unionByName(tagged.where(col("__n") === 0)).drop("__txt", "__n")
  }

  /** The full Gopher heuristic gate (Rae'21 App. A) over assembled doc
    * text: one native `gopher_signals` call per doc, thresholds from the
    * `minWords[:minStopHits]` spec (other rules at the paper's defaults).
    * Media-only docs pass, like every text gate in this chain. */
  private def gopherDocs(docs: org.apache.spark.sql.DataFrame,
                         spansCol: String, spec: String): org.apache.spark.sql.DataFrame = {
    val (minW, minS) = spec.split(":", 2) match {
      case Array(w, s) => (w.toLong, s.toLong)
      case Array(w) if w.nonEmpty => (w.toLong, 2L)
      case _ => (50L, 2L)
    }
    import graft.textanalysis.TextAnalysis
    val tagged = tagDocText(docs, spansCol)
    val kept = tagged.where(col("__n") > 0)
      .withColumn("__gsig",
        TextAnalysis.gopherSignals(docs.sparkSession, coalesce(col("__txt"), lit(""))))
      .where(TextAnalysis.gopherKeep(col("__gsig"), minWords = minW, minStopHits = minS))
      .drop("__gsig")
    kept.unionByName(tagged.where(col("__n") === 0)).drop("__txt", "__n")
  }

  /** Benchmark decontamination: drop training docs sharing an n-token
    * n-gram with the eval corpus (GPT-3 appendix-C rule). Both sides are
    * interleaved-docs tables; the shared text key is [[tagDocText]]. Eval
    * grams are distinct + broadcast — the training text never shuffles.
    * `spec` grammar: `path` or `path:n`. */
  /** `--decontam` spec → (path, n). The spec carries a PATH, which may
    * itself contain colons (s3a://, hdfs://, file:/) — the :n override is
    * recognized only as a NUMERIC suffix after the last colon, and is
    * additionally bounded to 1..100: a bare authority URI like
    * 'hdfs://host:9000' would otherwise parse as path 'hdfs://host' with
    * the PORT silently becoming an absurd gram order — out-of-range
    * numerics stay part of the path. */
  private[graft] def parseDecontamSpec(spec: String): (String, Int) =
    spec.lastIndexOf(':') match {
      case i if i >= 0 && spec.substring(i + 1).nonEmpty &&
        spec.substring(i + 1).forall(_.isDigit) &&
        spec.substring(i + 1).length <= 3 &&
        spec.substring(i + 1).toInt >= 1 && spec.substring(i + 1).toInt <= 100 =>
        (spec.substring(0, i), spec.substring(i + 1).toInt)
      case _ => (spec, 13)
    }

  private def decontamDocs(docs: org.apache.spark.sql.DataFrame, spansCol: String,
                           spec: String, fmt: String): org.apache.spark.sql.DataFrame = {
    // format note: the eval table reads with --decontam-format (default:
    // the training --input-format) — benchmark dumps are produced once and
    // need not share the training corpus' lake format
    val (path, n) = parseDecontamSpec(spec)
    val spark = docs.sparkSession
    val evalDocs = graft.sources.CorpusIO.readDocs(spark, path.stripSuffix("/"), fmt, spansCol)
    val train = tagDocText(docs, spansCol)
    val eval = tagDocText(evalDocs, spansCol).select(col("doc_id"), col("__txt"))
    graft.textanalysis.Decontamination.decontaminate(
        train, eval, n, idCol = "doc_id", textCol = "__txt")
      .drop("__txt", "__n")
  }

  /** Sub-document span dedup: `--span-dedup minTokens` — drop TEXT spans
    * whose normalized content repeats corpus-wide (the C4/RefinedWeb
    * repeated-unit rule on the pipeline's natural unit, the span: shared
    * boilerplate sentences inside otherwise-distinct docs, which doc-level
    * `--dedup` cannot see). The FIRST occurrence (min (doc_id, offset))
    * keeps its copy; spans under `minTokens` tokens are never candidates
    * (one-word navigation stubs carry no boilerplate evidence). Media spans
    * and span order are untouched; offsets keep their original values
    * (reassembly sorts by offset — gaps are fine, same contract as the
    * doc-drop modes). Scale shape: [[graft.dedup.LineDedup]] — spans reduce
    * to (60-bit md5, doc_id, offset) before any shuffle; the cut is a
    * scan-side array filter on docs that lost a span. */
  private def spanDedupDocs(docs: org.apache.spark.sql.DataFrame,
                            spansCol: String, spec: String): org.apache.spark.sql.DataFrame = {
    val minTokens = spec.toInt
    require(minTokens >= 1, s"--span-dedup minTokens must be >= 1, got $minTokens")
    val units = docs.select(col("doc_id"), explode(col(spansCol)).as("__sp"))
      .where(col("__sp.kind") === graft.model.Span.KindText)
      .select(col("doc_id"), col("__sp.offset").as("unit_no"),
        graft.dedup.Dedup.normalizeText(col("__sp.text")).as("unit"))
      .withColumn("n_tokens", size(split(col("unit"), " ")))
    val losers = graft.dedup.LineDedup.duplicateUnitLosers(units, minTokens)
      .groupBy(col("doc_id")).agg(collect_set(col("unit_no")).as("__lost"))
    docs.join(losers, Seq("doc_id"), "left")
      .withColumn(spansCol,
        when(col("__lost").isNull, col(spansCol)).otherwise(
          filter(col(spansCol), sp =>
            sp.getField("kind") =!= graft.model.Span.KindText ||
              !array_contains(col("__lost"), sp.getField("offset")))))
      .drop("__lost")
  }

  /** Perceptual media dedup over the docs table's MEDIA spans:
    * `--media-dedup <mode[:d]>[+<mode[:d]>...]` with modes `dhash` (images,
    * 9×8 difference hash, default d 6), `ahash` (audio, 65-window energy-
    * envelope hash over the PCM decode, default d 8) and `vhash` (video,
    * composited per-frame dHash over animated GIF, default d 6, frame-set
    * overlap ≥ 0.8). Builds the media blob table for the distinct refs ONCE,
    * computes each selected modality's canonical map
    * ([[graft.multimodal.Multimodal.mediaCanonMap]]: one decode pass per
    * payload to ≤ 8 bytes×frames of hashes, exact collapse, Hamming-banded
    * near-dup graph, component-min canon; refs are disjoint across
    * modalities so the union is conflict-free), and rewrites `media_ref`s
    * IN PLACE — docs stay un-exploded. The only doc-keyed work is joining
    * back the per-doc remap maps, which exist ONLY for docs referencing a
    * duplicate payload (a tiny fraction; AQE broadcasts when small), then a
    * narrow span-array transform; text spans and span order are untouched,
    * preserving the passthrough discipline of the text dedup family. */
  private def mediaDedupDocs(docs: org.apache.spark.sql.DataFrame,
                             spansCol: String, spec: String): org.apache.spark.sql.DataFrame = {
    val usage = "dhash[:d]+ahash[:d]+vhash[:d]"
    val parts = spec.split("\\+").toSeq.map { part =>
      part.split(":", 2) match {
        case Array(mode, v) => mode -> v.toInt
        case Array(mode)    => mode -> (if (mode == "ahash") 8 else 6)
      }
    }
    val byMode = parts.toMap
    require(byMode.size == parts.size,
      s"duplicate --media-dedup mode in '$spec' ($usage)")
    val unknown = byMode.keySet -- Set("dhash", "ahash", "vhash")
    require(unknown.isEmpty, s"unknown --media-dedup mode(s) $unknown ($usage)")
    import graft.multimodal.Multimodal
    val mapping = Multimodal.mediaCanonMap(Multimodal.mediaTable(docs, spansCol),
      imageHamming = byMode.get("dhash"),
      audioHamming = byMode.get("ahash"),
      videoHamming = byMode.get("vhash"))
    rewriteMediaRefs(docs, spansCol, mapping)
  }

  /** Apply a `(media_ref, canon_ref)` rewrite map to the docs table's media
    * spans (the [[mediaDedupDocs]] tail, factored so specs can drive it with
    * constructed blob fixtures — the sandbox's deterministic media table
    * derives payloads from refs, so distinct refs never collide there). */
  private[graft] def rewriteMediaRefs(docs: org.apache.spark.sql.DataFrame,
                                      spansCol: String,
                                      mapping: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val remaps = docs.select(col("doc_id"), explode(col(spansCol)).as("__sp"))
      .where(col("__sp.kind") === graft.model.Span.KindMedia)
      .select(col("doc_id"), col("__sp.media_ref").as("media_ref"))
      .join(mapping, Seq("media_ref")) // inner: only refs that change
      .groupBy(col("doc_id"))
      .agg(map_from_entries(collect_set(struct(col("media_ref"), col("canon_ref"))))
        .as("__remap"))
    docs.join(remaps, Seq("doc_id"), "left")
      .withColumn(spansCol,
        when(col("__remap").isNull, col(spansCol)).otherwise(
          transform(col(spansCol), sp => struct(
            sp.getField("kind").as("kind"),
            sp.getField("text").as("text"),
            when(sp.getField("kind") === graft.model.Span.KindMedia,
              coalesce(element_at(col("__remap"), sp.getField("media_ref")),
                sp.getField("media_ref")))
              .otherwise(sp.getField("media_ref")).as("media_ref"),
            sp.getField("offset").as("offset")))))
      .drop("__remap")
  }

  /** Span-level PII scrub: text spans pass through [[graft.textanalysis.Pii.redact]]
    * (typed placeholders), media spans untouched — a narrow per-row array
    * transform, no shuffle. Runs BEFORE correction, and when a separate
    * --clean ground-truth table is supplied THAT side is scrubbed too (see
    * run()) — so vocab, corrected corpus, AND the CER pairs all see
    * placeholders, and the CER score measures correction, not redaction. */
  private def piiScrubDocs(docs: org.apache.spark.sql.DataFrame,
                           spansCol: String): org.apache.spark.sql.DataFrame =
    docs.withColumn(spansCol, transform(col(spansCol), sp =>
      struct(
        sp.getField("kind").as("kind"),
        when(sp.getField("kind") === graft.model.Span.KindText,
          graft.textanalysis.Pii.redact(sp.getField("text")))
          .otherwise(sp.getField("text")).as("text"),
        sp.getField("media_ref").as("media_ref"),
        sp.getField("offset").as("offset"))))

  /** CCNet-style LM perplexity filter against a persisted reference model:
    * keep text docs whose mean bigram log-prob is >= `minLp`. Docs without
    * bigram evidence (fewer than 2 tokens) and media-only docs pass — the
    * filter only acts where the model has something to say. The score join
    * carries (doc_id, score) only; the model tables are sized by distinct
    * grams. */
  private def lmFilterDocs(docs: org.apache.spark.sql.DataFrame, spansCol: String,
                           modelDir: String, minLp: Double): org.apache.spark.sql.DataFrame = {
    import graft.textanalysis.LmScore
    val spark = docs.sparkSession
    val (uni, bi) = LmScore.loadModel(spark, modelDir)
    val tagged = tagDocText(docs, spansCol)
    val scores = LmScore.scoreWith(tagged.select(col("doc_id"), col("__txt")), uni, bi,
        idCol = "doc_id", textCol = "__txt")
      .select(col("doc_id"), col("avg_logprob"))
    tagged.join(scores, Seq("doc_id"), "left")
      .where(col("avg_logprob").isNull || col("avg_logprob") >= minLp)
      .drop("__txt", "__n", "avg_logprob")
  }

  /** Model-based quality filter (`--quality-model`): score each text doc's
    * hashed unigram counts against a persisted count-diff classifier
    * ([[graft.textanalysis.QualityClassifier]]) and keep docs with
    * `score_raw > minScore`. Media-only docs pass — the model has no
    * evidence about them (same passthrough policy as the heuristic gate).
    * The model is `<= dim` rows and broadcast; the only doc-keyed traffic
    * is `(doc_id, f, c)` triples — text never shuffles. */
  private def qualityModelDocs(docs: org.apache.spark.sql.DataFrame, spansCol: String,
                               modelDir: String, minScore: Long): org.apache.spark.sql.DataFrame = {
    import graft.textanalysis.QualityClassifier
    val (model, dim) = QualityClassifier.loadCountDiffModel(docs.sparkSession, modelDir)
    val tagged = tagDocText(docs, spansCol)
    val hasText = tagged.where(col("__n") > 0)
    val kept = QualityClassifier.countDiffScores(
        hasText.select(col("doc_id"), col("__txt")), model, dim,
        idCol = "doc_id", textCol = "__txt")
      .where(col("score_raw") > minScore)
      .select(col("doc_id"))
    hasText.join(kept, Seq("doc_id"), "left_semi")
      .unionByName(tagged.where(col("__n") === 0))
      .drop("__txt", "__n")
  }

  /** DSIR importance resampling (`--dsir-model`/`--dsir-k`): Gumbel-top-k
    * sample `k` text docs ∝ their importance weight against a persisted
    * target model ([[graft.textanalysis.Dsir]]). Media-only docs pass —
    * the model has no evidence about them (the quality-filter family's
    * passthrough policy), so the output holds k text docs PLUS the media
    * passthrough. Distribution matching, not a gate: the budget is spent
    * to REPRODUCE the target's hashed-n-gram distribution. */
  private def dsirDocs(docs: org.apache.spark.sql.DataFrame, spansCol: String,
                       modelDir: String, k: Int, alpha: Double): org.apache.spark.sql.DataFrame = {
    import graft.textanalysis.Dsir
    val (counts, dim) = Dsir.loadModel(docs.sparkSession, modelDir)
    val tagged = tagDocText(docs, spansCol)
    val hasText = tagged.where(col("__n") > 0)
    val picked = Dsir.resample(
        hasText.select(col("doc_id"), col("__txt")), counts, k, dim, alpha,
        idCol = "doc_id", textCol = "__txt")
      .select(col("doc_id"))
    hasText.join(picked, Seq("doc_id"), "left_semi")
      .unionByName(tagged.where(col("__n") === 0))
      .drop("__txt", "__n")
  }

  /** Cross-batch Bloom dedup (`--bloom-dedup`): drop text docs whose
    * normalized concatenated-text fingerprint might be in the persisted
    * sketch. Media-only/empty-text docs pass — their fingerprint is the
    * constant md5("") and the membership question is meaningless for them
    * (the dedup family's passthrough policy). */
  private def bloomDedupDocs(docs: org.apache.spark.sql.DataFrame, spansCol: String,
                             dir: String): org.apache.spark.sql.DataFrame = {
    import graft.dedup.{Bloom, Dedup}
    val spark = docs.sparkSession
    val (mBits, k) = Bloom.loadMeta(spark, dir)
    val tagged = tagDocText(docs, spansCol)
    if (mBits / Bloom.WordBits <= Bloom.LiteralProbeMaxWords) {
      // scan-side probe: the sketch rides as one plan literal
      val (words, _, _) = Bloom.load(spark, dir)
      tagged.where(col("__n") === 0 ||
          !Bloom.mightContain(Dedup.fingerprint(col("__txt")), words, mBits, k))
        .drop("__txt", "__n")
    } else {
      // GB-scale sketch: probe by joining the sparse word table
      // (identical survivors — BloomSpec equivalence)
      val table = spark.read.parquet(s"$dir/words")
      Bloom.dedupAgainstSketchTable(tagged.where(col("__n") > 0), table, mBits, k,
          textCol = "__txt", idCol = "doc_id")
        .unionByName(tagged.where(col("__n") === 0))
        .drop("__txt", "__n")
    }
  }

  /** `--bloom-out`: persist the sketch of this batch's SURVIVING text-doc
    * fingerprints, merged into the input sketch when `--bloom-dedup` was
    * given (geometry inherited), else fresh at `mBits`/`k`. */
  private def bloomOutSketch(docs: org.apache.spark.sql.DataFrame, spansCol: String,
                             outDir: String, inDir: Option[String],
                             mBits: Int, k: Int): Unit = {
    import graft.dedup.{Bloom, Dedup}
    val spark = docs.sparkSession
    // Fail fast on in-place accumulation: the merge lazily reads the input
    // sketch, so writing --bloom-out to the same dir would die at write time
    // with Spark's opaque "cannot overwrite a path being read from".
    inDir.foreach { d =>
      require(new java.io.File(d).getCanonicalPath !=
          new java.io.File(outDir).getCanonicalPath,
        s"--bloom-out must differ from the --bloom-dedup input dir ('$d'): " +
          "the merge reads the input sketch lazily; write the merged sketch " +
          "to a new directory and rotate it in afterwards")
    }
    val (gm, gk) = inDir match {
      case Some(d) =>
        val (_, m0, k0) = Bloom.load(spark, d)
        (m0, k0)
      case None => (mBits, k)
    }
    val tagged = tagDocText(docs, spansCol).where(col("__n") > 0)
    val batch = Bloom.buildTable(
      tagged.select(Dedup.fingerprint(col("__txt")).as("__fp")), "__fp", gm, gk)
    val merged = inDir match {
      case Some(d) => Bloom.merge(spark.read.parquet(s"$d/words"), batch)
      case None    => batch
    }
    Bloom.save(spark, merged, gm, gk, outDir)
  }

  /**
   * `--stage-telemetry true`: null-CER movement per curation stage — which
   * gate moved quality. The noisy-vs-truth span distances are computed ONCE
   * per doc (one positional join + the codegen'd `dl_distance` kernel,
   * checkpointed at doc-count size: 4 columns/doc), and each ACTIVE stage
   * then pays one id-projection + one join-aggregate against that side
   * table — the stage's curation prefix re-evaluates for its id set, which
   * is why this is an opt-in diagnostic, not an always-on artifact.
   * Distances are measured on the ORIGINAL text (pre-PII-scrub) so stage
   * rows are comparable across the scrub boundary; stages that mutate spans
   * without dropping docs (pii, span/media dedup) are intentionally absent.
   * Writes `(stage_no, stage, docs, spans, null_cer, pct_perfect)` to
   * `<output>/_telemetry/stage_null_cer` and returns the same rows as a
   * JSON array for the run artifact. Recomputed every invocation (derived
   * from the input, not from run state).
   */
  private def stageNullCer(spark: SparkSession, output: String,
                           stages: Seq[(String, org.apache.spark.sql.DataFrame)],
                           docs0: org.apache.spark.sql.DataFrame,
                           clean: String, input: String, fmt: String,
                           spansCol: String, cleanSpansCol: String): String = {
    import graft.pipeline.CorrectionPipeline
    org.apache.spark.sql.graft.DamerauLevenshteinExpr.register(spark)
    val cleanAll = if (clean == input) docs0
                   else graft.sources.CorpusIO.readDocs(spark, clean, fmt, cleanSpansCol)
    def textSpans(df: org.apache.spark.sql.DataFrame, sc: String, as: String) =
      CorrectionPipeline.explodeSpans(df, sc)
        .filter(col("kind") === graft.model.Span.KindText)
        .select(col("doc_id"), col("offset"), col("text").as(as))
    val noisySp = textSpans(docs0, spansCol, "__tn")
    val cleanSp = textSpans(cleanAll, if (clean == input) spansCol else cleanSpansCol, "__tc")
    // reference normalized distance: dist / codepoints(clean), empty-truth
    // guard, exact-equality shortcut (skips the DP kernel)
    val norm = when(col("__tn") === col("__tc"), lit(0.0))
      .otherwise(when(length(col("__tc")) === 0, lit(1.0))
        .otherwise(call_function("dl_distance", col("__tn"), col("__tc")).cast("double") /
          length(col("__tc"))))
    val perDoc = noisySp.join(cleanSp, Seq("doc_id", "offset"))
      .groupBy(col("doc_id"))
      .agg(sum(norm).as("__d"), count(lit(1)).as("__s"),
        sum((col("__tn") === col("__tc")).cast("long")).as("__p"))
      .localCheckpoint()
    val rows = stages.zipWithIndex.map { case ((name, df), i) =>
      val r = df.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
        .agg(count(lit(1)).as("docs"),
          coalesce(sum(col("__s")), lit(0L)).as("spans"),
          coalesce(sum(col("__d")), lit(0.0)).as("d"),
          coalesce(sum(col("__p")), lit(0L)).as("p"))
        .head()
      (i, name, r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))
    }
    import spark.implicits._
    rows.map { case (i, name, docs, spans, d, p) =>
      (i, name, docs, spans,
        if (spans > 0) d / spans else 0.0,
        if (spans > 0) p.toDouble / spans else 0.0)
    }.toDF("stage_no", "stage", "docs", "spans", "null_cer", "pct_perfect")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$output/_telemetry/stage_null_cer")
    rows.map { case (_, name, docs, spans, d, p) =>
      s"""{"stage":${Portable.jsonStr(name)},"docs":$docs,"spans":$spans,""" +
        s""""null_cer":${Portable.jsonNum("%.4f", if (spans > 0) d / spans else 0.0)},""" +
        s""""pct_perfect":${Portable.jsonNum("%.4f", if (spans > 0) p.toDouble / spans else 0.0)}}"""
    }.mkString("[", ",", "]")
  }

  /** Language gate (`--langid-model`/`--langid-keep`): classify each text
    * doc against persisted Cavnar-Trenkle profiles and keep predicted
    * members of the allowed set. Media-only docs pass (no text evidence —
    * the quality-filter family's passthrough policy). */
  private def langidDocs(docs: org.apache.spark.sql.DataFrame, spansCol: String,
                         modelDir: String, keep: Set[String]): org.apache.spark.sql.DataFrame = {
    import graft.textanalysis.LangProfile
    val profiles = LangProfile.load(docs.sparkSession, modelDir)
    val tagged = tagDocText(docs, spansCol)
    val hasText = tagged.where(col("__n") > 0)
    val kept = LangProfile.classify(
        hasText.select(col("doc_id"), col("__txt")), profiles,
        idCol = "doc_id", textCol = "__txt")
      .filter(col("lang_pred").isin(keep.toSeq: _*))
      .select(col("doc_id"))
    hasText.join(kept, Seq("doc_id"), "left_semi")
      .unionByName(tagged.where(col("__n") === 0))
      .drop("__txt", "__n")
  }

  /** `--shards N[:seed]` → (nShards, seed). */
  private[graft] def parseShardsSpec(spec: String): (Int, String) =
    spec.split(":", 2) match {
      case Array(n, seed) => (n.toInt, seed)
      case Array(n) => (n.toInt, "")
    }

  /** `--span-corrupt p[:maxLen]` → (pStart, maxLen); maxLen defaults to
    * the T5 paper's mean-3 regime (our gate draws 1..maxLen uniform). */
  private[graft] def parseCorruptSpec(spec: String): (Double, Int) =
    spec.split(":", 2) match {
      case Array(p, m) => (p.toDouble, m.toInt)
      case Array(p) => (p.toDouble, 4)
    }

  /**
   * Training-export tail (`--shards`/`--pack`/`--span-corrupt`/
   * `--bpe-encode`): terminal stages over the CORRECTED output table —
   * the step that turns a curated corpus into trainer-consumable
   * artifacts, mirroring the reference keeping its batching/tensor-view
   * surface in the pipeline (reference `src/util/data_functions.py:31-60`),
   * not as library calls the operator must script.
   *
   * Resumable as a UNIT: a `_spec` sidecar under `outDir/_export` records
   * the export spec plus the source stage token; when it matches, the
   * whole tail is a no-op (artifacts already on disk are byte-identical —
   * every stage is deterministic), and any change to the spec or the
   * upstream sources rebuilds everything with Overwrite semantics.
   *
   * Scale shape: the shard assignment is one md5-keyed shuffle with
   * per-shard (parallel) position sorts; packing is the two-phase prefix
   * sum PER SHARD (pos is dense per shard, so bucketing holds); corruption
   * and BPE encode shuffle by doc id only. Nothing here is corpus-global
   * single-partition.
   *
   * @return "written" | "skipped" — the resume telemetry for the metrics
   *         line.
   */
  private def exportArtifacts(spark: SparkSession, outDir: String, spansCol: String,
                              shards: Option[(Int, String)], pack: Option[Int],
                              corrupt: Option[(Double, Int)], bpeDir: Option[String],
                              bpeTrain: Option[(Int, Int)],
                              stageToken: String): String = {
    import graft.pipeline.{Packing, Sampling, SpanCorruption}
    val exportDir = s"$outDir/_export"
    val specStr = s"shards=${shards.getOrElse("")}|pack=${pack.getOrElse("")}" +
      s"|corrupt=${corrupt.getOrElse("")}|bpe=${bpeDir.getOrElse("")}" +
      s"|bpetrain=${bpeTrain.getOrElse("")}|src=$stageToken"
    val hconf = spark.sparkContext.hadoopConfiguration
    val marker = new org.apache.hadoop.fs.Path(s"$exportDir/_spec")
    val fs = marker.getFileSystem(hconf)
    if (fs.exists(marker)) {
      val in = fs.open(marker)
      val prev = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      if (prev == specStr) return "skipped"
    }
    // the corrected table: underscore-prefixed siblings (_state, _export)
    // are invisible to the parquet scan (Spark's hidden-path filter)
    val docs = spark.read.parquet(outDir).drop("bucket")
    val tagged = tagDocText(docs, spansCol)
    shards.foreach { case (n, seed) =>
      // one assignment computation feeds the docs sink AND the manifest
      // (localCheckpoint: the per-shard position sort runs once; the
      // checkpointed shape is 3 narrow columns per doc)
      val assign = Sampling.shardAssignment(tagged, n, seed).localCheckpoint(true)
      docs.join(assign, Seq("doc_id"))
        .write.mode("overwrite").partitionBy("shard").parquet(s"$exportDir/shards")
      Sampling.manifestOfAssignment(assign, tagged, textCol = "__txt")
        .write.mode("overwrite").parquet(s"$exportDir/manifest")
      pack.foreach { seqLen =>
        val withText = assign.join(
          tagged.select(col("doc_id"), col("__txt")), Seq("doc_id"))
        Packing.packSequences(withText, seqLen, idCol = "pos", textCol = "__txt",
            partitionCols = Seq("shard"))
          .join(assign.select(col("doc_id"), col("shard"), col("pos")), Seq("shard", "pos"))
          .write.mode("overwrite").parquet(s"$exportDir/pack")
      }
    }
    corrupt.foreach { case (p, maxLen) =>
      SpanCorruption.corrupt(tagged, p, maxLen, textCol = "__txt")
        .write.mode("overwrite").parquet(s"$exportDir/corrupt")
    }
    // train BEFORE encode: `--bpe-encode <output>/_export/bpe_model`
    // tokenizes with the merges trained in the SAME run
    bpeTrain.foreach { case (numMerges, maxWords) =>
      val merges = graft.textanalysis.Bpe.trainMergesLocal(
        tagged.where(col("__n") > 0), numMerges, textCol = "__txt", maxWords = maxWords)
      graft.textanalysis.Bpe.saveMerges(spark, merges, s"$exportDir/bpe_model")
    }
    bpeDir.foreach { dir =>
      val merges = graft.textanalysis.Bpe.loadMerges(spark, dir)
      graft.textanalysis.Bpe.encodeDocs(tagged, merges, textCol = "__txt")
        .write.mode("overwrite").parquet(s"$exportDir/tokens")
    }
    // marker LAST: a kill mid-export leaves no marker, so the resume
    // rebuilds every artifact (each write is atomic per job)
    val os = fs.create(marker, true)
    try os.write(specStr.getBytes("UTF-8")) finally os.close()
    "written"
  }

  /** `--source-mix alpha:budget` → (alpha, budgetFraction); both mandatory
    * (there is no sensible default budget) and range-checked downstream. */
  private[graft] def parseSourceMixSpec(spec: String): (Double, Double) =
    spec.split(":", 2) match {
      case Array(a, b) => (a.toDouble, b.toDouble)
      case _ => sys.error(s"--source-mix must be alpha:budget, got '$spec'")
    }

  /** Temperature-based source mixing over the docs table (`--source-mix`):
    * [[graft.pipeline.Sampling.temperatureMix]] on the named source column.
    * Fails fast when the column is missing — a silent identity would ship
    * an "alpha-mixed" corpus that was never mixed. */
  private def sourceMixDocs(docs: org.apache.spark.sql.DataFrame, sourceCol: String,
                            alpha: Double, budget: Double): org.apache.spark.sql.DataFrame = {
    require(docs.columns.contains(sourceCol),
      s"--source-mix needs column '$sourceCol' on the input table " +
        s"(set --mix-source-col; input has ${docs.columns.mkString(",")})")
    graft.pipeline.Sampling.temperatureMix(docs, sourceCol, "doc_id", alpha, budget)
  }

  /** The submitted job, factored from [[main]] so tests drive it with their
    * own session. Returns the JSON metrics line. */
  def run(spark: SparkSession, a: Map[String, String]): String = {
    def req(k: String): String =
      a.getOrElse(k, sys.error(s"missing required --$k (see scaladoc)"))
    // trailing slashes normalized so path equality (clean == input) and the
    // stage-directory naming don't depend on how the operator typed the path
    val input = req("input").stripSuffix("/")
    val output = req("output").stripSuffix("/")
    val state = a.getOrElse("state", s"$output/_state")
    val clean = a.getOrElse("clean", input).stripSuffix("/")
    val runId = a.getOrElse("run-id", "run1")
    val spansCol = a.getOrElse("spans-col", "spans")
    // when the clean side IS the input (omitted, or explicitly the same
    // path), its spans live in the same (possibly non-default) column
    val cleanSpansCol = a.getOrElse("clean-spans-col",
      if (clean == input) spansCol else "spans")
    val minFreq = a.getOrElse("min-freq", "2").toLong
    val nBuckets = a.getOrElse("buckets", "64").toInt
    val groupSize = a.getOrElse("group-size", "8").toInt
    val correctorName = a.getOrElse("corrector", "noisy")
    val dedupMode = a.getOrElse("dedup", "none")
    val sampleFrac = a.get("sample").map(_.toDouble)
    val gateSpec = a.get("quality-gate")
    val gopherSpec = a.get("gopher")
    val decontamSpec = a.get("decontam")
    val piiScrub = a.get("pii-scrub").exists(_.toBoolean)
    val mediaDedupSpec = a.get("media-dedup")
    val spanDedupSpec = a.get("span-dedup")
    val lmModel = a.get("lm-model")
    val lmMinLp = a.get("lm-min-logprob").map(_.toDouble)
    val qualityModel = a.get("quality-model")
    val qualityModelMin = a.getOrElse("quality-model-min", "0").toLong
    val sourceMix = a.get("source-mix").map(parseSourceMixSpec)
    val mixSourceCol = a.getOrElse("mix-source-col", "source")
    val dsirModel = a.get("dsir-model")
    val dsirK = a.get("dsir-k").map(_.toInt)
    val dsirAlpha = a.getOrElse("dsir-alpha", "0.5").toDouble
    val bloomDedup = a.get("bloom-dedup")
    val bloomOut = a.get("bloom-out")
    val bloomBits = a.getOrElse("bloom-bits", "1048576").toInt
    val bloomK = a.getOrElse("bloom-k", "5").toInt
    val langidModel = a.get("langid-model")
    val langidKeep = a.get("langid-keep")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    require(langidModel.isEmpty == langidKeep.isEmpty,
      "--langid-model and --langid-keep must be provided together")
    require(langidKeep.forall(_.nonEmpty), "--langid-keep must name at least one language")
    val shardsSpec = a.get("shards").map(parseShardsSpec)
    val packSpec = a.get("pack").map(_.toInt)
    val corruptSpec = a.get("span-corrupt").map(parseCorruptSpec)
    val bpeEncode = a.get("bpe-encode")
    // n[:maxWords] — train a BPE merge table over the corrected corpus
    // (driver-local delta loop over the top-maxWords word counts)
    val bpeTrain = a.get("bpe-train").map { spec =>
      spec.split(":", 2) match {
        case Array(n, w) => (n.toInt, w.toInt)
        case Array(n) => (n.toInt, 1 << 20)
      }
    }
    bpeTrain.foreach { case (n, w) =>
      require(n >= 1 && w >= 1, s"--bpe-train needs n>=1[:maxWords>=1], got $n:$w")
    }
    // packing is per-shard by design (each shard's token stream feeds one
    // dataloader); a shard-less pack would be a corpus-global stream over a
    // string id — undefined order, so fail loudly
    require(packSpec.isEmpty || shardsSpec.nonEmpty,
      "--pack requires --shards (sequences pack per shard, in shard-pos order)")
    // both-or-neither: --lm-model alone would otherwise be a SILENT no-op
    // (an operator shipping an "LM-filtered" corpus that was never filtered)
    require(lmModel.isEmpty == lmMinLp.isEmpty,
      "--lm-model and --lm-min-logprob must be provided together")
    // same rule for DSIR: a model with no budget (or a budget with no
    // model) has no defined behavior — fail loudly, not silently
    require(dsirModel.isEmpty == dsirK.isEmpty,
      "--dsir-model and --dsir-k must be provided together")

    val t0 = System.nanoTime()
    val fmt = a.getOrElse("input-format", "parquet")
    val docs0 = graft.sources.CorpusIO.readDocs(spark, input, fmt, spansCol)
    // curation order: narrow row-pure filters first (sample, then the
    // quality gate), the model-join filters (quality classifier, LM) and
    // decontam next, the PII scrub after all text drops are decided (scrub
    // only survivors), the shuffle-bearing dedup family after that — keying
    // on the redacted text by design — and source mixing last (allocations
    // over the cleaned counts)
    val sampled = sampleFrac.fold(docs0)(f =>
      graft.pipeline.Sampling.deterministicSample(docs0, "doc_id", f))
    val gated = gateSpec.fold(sampled)(s => gateDocs(sampled, spansCol, s))
    val gophered = gopherSpec.fold(gated)(s => gopherDocs(gated, spansCol, s))
    // language gate right after the heuristic gates (CCNet's order: langid
    // before the model-based filters — wrong-language docs should not pay
    // classifier/LM joins)
    val langGated = (for { m <- langidModel; ks <- langidKeep }
      yield langidDocs(gophered, spansCol, m, ks)).getOrElse(gophered)
    val modelGated = qualityModel.fold(langGated)(
      dir => qualityModelDocs(langGated, spansCol, dir, qualityModelMin))
    val lmFiltered = (for { m <- lmModel; lp <- lmMinLp }
      yield lmFilterDocs(modelGated, spansCol, m, lp)).getOrElse(modelGated)
    // DSIR after the gates (resample the budget over docs that survived the
    // cheap filters), before the shuffle-bearing stages (every doc the
    // resample drops costs no decontam/dedup work)
    val dsired = (for { m <- dsirModel; k <- dsirK }
      yield dsirDocs(lmFiltered, spansCol, m, k, dsirAlpha)).getOrElse(lmFiltered)
    val decontamed = decontamSpec.fold(dsired)(
      spec => decontamDocs(dsired, spansCol, spec,
        a.getOrElse("decontam-format", fmt)))
    val scrubbed = if (piiScrub) piiScrubDocs(decontamed, spansCol) else decontamed
    // cross-batch Bloom dedup BEFORE in-batch dedup: drops docs already
    // shipped by earlier batches; in-batch duplicates still need the
    // regular dedup family below
    val bloomed = bloomDedup.fold(scrubbed)(d => bloomDedupDocs(scrubbed, spansCol, d))
    val textDeduped = if (dedupMode == "none") bloomed
                      else dedupDocs(bloomed, spansCol, dedupMode)
    // span dedup after doc dedup: whole-doc drops first, then boilerplate
    // spans are cut from the SURVIVORS only
    val spanDeduped = spanDedupSpec.fold(textDeduped)(
      s => spanDedupDocs(textDeduped, spansCol, s))
    // media dedup after all text-side drops: it rewrites refs on the
    // surviving docs only, so every doc the text-side curation dropped
    // costs no media decode
    val mediaDeduped = mediaDedupSpec.fold(spanDeduped)(
      s => mediaDedupDocs(spanDeduped, spansCol, s))
    // source mixing LAST: the recipe's alpha-share is quoted over the
    // CLEANED corpus (mixing before dedup would let duplicate mass inflate
    // a source's allocation), and the mix itself is a broadcast-allocation
    // scan-side filter — cheap wherever it runs
    val docs = sourceMix.fold(mediaDeduped) { case (alpha, budget) =>
      sourceMixDocs(mediaDeduped, mixSourceCol, alpha, budget) }
    // accumulate the cross-batch sketch over the SURVIVING docs (merged
    // into the input sketch when one was probed) — written every
    // invocation so a resumed run still ships the artifact
    bloomOut.foreach(out =>
      bloomOutSketch(docs, spansCol, out, bloomDedup, bloomBits, bloomK))
    // per-stage quality telemetry (opt-in): null-CER of each ACTIVE
    // doc-drop stage's surviving population — which gate moved quality
    val stageCer: Option[String] =
      if (!a.get("stage-telemetry").exists(_.toBoolean)) None
      else Some(stageNullCer(spark, output, Seq(
          "input" -> Some(docs0),
          "sample" -> sampleFrac.map(_ => sampled),
          "quality-gate" -> gateSpec.map(_ => gated),
          "gopher" -> gopherSpec.map(_ => gophered),
          "langid" -> langidModel.map(_ => langGated),
          "quality-model" -> qualityModel.map(_ => modelGated),
          "lm" -> (for { _ <- lmModel; _ <- lmMinLp } yield lmFiltered),
          "dsir" -> (for { _ <- dsirModel; _ <- dsirK } yield dsired),
          "decontam" -> decontamSpec.map(_ => decontamed),
          "bloom-dedup" -> bloomDedup.map(_ => bloomed),
          "dedup" -> (if (dedupMode == "none") None else Some(textDeduped)),
          "source-mix" -> sourceMix.map(_ => docs)
        ).collect { case (n, Some(df)) => (n, df) },
        docs0, clean, input, fmt, spansCol, cleanSpansCol))
    val cleanDocs0 = if (clean == input) docs
                     else graft.sources.CorpusIO.readDocs(spark, clean, fmt, cleanSpansCol)
    // the truth table must see the same redaction as the input, or every
    // placeholder scores as character errors and the vocab learns raw PII
    val cleanDocs = if (piiScrub && clean != input) piiScrubDocs(cleanDocs0, cleanSpansCol)
                    else cleanDocs0

    val corrector = correctorName match {
      case "null" => NullCorrector
      case "dictionary" | "noisy" =>
        val vocabDf = a.get("vocab")
          .map(spark.read.parquet(_))
          .getOrElse(DictionaryCorrector.trainVocab(cleanDocs, cleanSpansCol, splitFilter = None))
        if (correctorName == "dictionary")
          DictionaryCorrector.corrector(DictionaryCorrector.buildModel(spark, vocabDf, minFreq))
        else
          new NoisyChannelCorrector(
            NoisyChannelModel.fromVocabDf(spark, vocabDf.filter(col("freq") >= minFreq), minFreq))
      case other => sys.error(s"unknown --corrector $other (noisy|dictionary|null)")
    }

    val lineage = s"input=$input clean=$clean corrector=$correctorName minFreq=$minFreq " +
      s"buckets=$nBuckets groupSize=$groupSize dedup=$dedupMode" +
      sampleFrac.map(f => s" sample=$f").getOrElse("") +
      gateSpec.map(g => s" gate=$g").getOrElse("") +
      gopherSpec.map(g => s" gopher=$g").getOrElse("") +
      (for { m <- langidModel; ks <- langidKeep }
        yield s" langid=$m@${ks.toSeq.sorted.mkString("+")}").getOrElse("") +
      decontamSpec.map(d => s" decontam=$d").getOrElse("") +
      (if (piiScrub) " pii-scrub" else "") +
      spanDedupSpec.map(s => s" span-dedup=$s").getOrElse("") +
      mediaDedupSpec.map(s => s" media-dedup=$s").getOrElse("") +
      (for { m <- lmModel; lp <- lmMinLp } yield s" lm=$m>=$lp").getOrElse("") +
      qualityModel.map(m => s" quality-model=$m>$qualityModelMin").getOrElse("") +
      (for { m <- dsirModel; k <- dsirK } yield s" dsir=$m@$k:$dsirAlpha").getOrElse("") +
      bloomDedup.map(d => s" bloom-dedup=$d").getOrElse("") +
      sourceMix.map { case (al, b) => s" source-mix=$al:$b@$mixSourceCol" }.getOrElse("") +
      shardsSpec.map { case (n, seed) => s" shards=$n:$seed" }.getOrElse("") +
      packSpec.map(s => s" pack=$s").getOrElse("") +
      corruptSpec.map { case (p, m) => s" span-corrupt=$p:$m" }.getOrElse("") +
      bpeEncode.map(d => s" bpe-encode=$d").getOrElse("") +
      bpeTrain.map { case (n, w) => s" bpe-train=$n:$w" }.getOrElse("")
    // stage token fingerprints the SOURCES: a resume of this output dir with
    // a different input/clean table (or spans columns, or dedup setting)
    // must rebuild its stages instead of silently reusing the previous
    // source's rows
    val stageToken = java.security.MessageDigest.getInstance("MD5")
      .digest((s"$input|$clean|$spansCol|$cleanSpansCol|$dedupMode" +
        s"|${sampleFrac.getOrElse("")}|${gateSpec.getOrElse("")}" +
        s"|${gopherSpec.getOrElse("")}" +
        s"|${langidModel.getOrElse("")}|${langidKeep.map(_.toSeq.sorted.mkString("+")).getOrElse("")}" +
        s"|${lmModel.getOrElse("")}|${lmMinLp.getOrElse("")}" +
        s"|${decontamSpec.getOrElse("")}|$fmt|$piiScrub" +
        s"|${mediaDedupSpec.getOrElse("")}|${spanDedupSpec.getOrElse("")}" +
        s"|${qualityModel.getOrElse("")}|$qualityModelMin" +
        s"|${dsirModel.getOrElse("")}|${dsirK.getOrElse("")}|$dsirAlpha" +
        s"|${bloomDedup.getOrElse("")}" +
        s"|${sourceMix.getOrElse("")}|$mixSourceCol").getBytes("UTF-8"))
      .take(4).map("%02x".format(_)).mkString
    // docs_in is observed on the staging write inside the timed run (or
    // counted off a committed stage a resume reuses); a post-run
    // docs.count() would re-execute the whole upstream plan a second time
    // outside wall_sec. It is the POST-dedup count; the raw input count and
    // the dedup delta are reported alongside so artifact consumers can
    // compute the dedup ratio without re-reading the input. All three are
    // null (not 0) when an already-complete run resumes — nothing was staged
    // or processed, and a literal 0 would read as "the input was empty".
    // The run-wide totals are the state rows the run read at its start plus
    // the rows it committed, not a second read of the state table.
    var summary = CheckpointedRun.Summary(None, graft.model.CerMetrics(0L, 0L, 0.0))
    val m = CheckpointedRun.run(spark, docs, cleanDocs, corrector, output, state, runId,
      spansCol = spansCol, nBuckets = nBuckets, groupSize = groupSize,
      lineage = lineage, cleanSpansCol = cleanSpansCol,
      stageToken = stageToken, onSummary = s => summary = s)
    val docsIn = summary.docsIn
    // pre-curation count: a footer-metadata parquet count of the raw input
    // (no curation plan attached); skipped entirely on a no-op resume, and
    // equal to docs_in by definition when no curation step is active
    val curationOff = dedupMode == "none" && sampleFrac.isEmpty && gateSpec.isEmpty &&
      gopherSpec.isEmpty && langidModel.isEmpty &&
      decontamSpec.isEmpty && (lmModel.isEmpty || lmMinLp.isEmpty) &&
      qualityModel.isEmpty && (dsirModel.isEmpty || dsirK.isEmpty) &&
      bloomDedup.isEmpty && sourceMix.isEmpty
    val docsInPre: Option[Long] =
      if (docsIn.isEmpty) None
      else if (curationOff) docsIn
      else Some(docs0.count())
    // training-export tail: strictly after every bucket is committed (it
    // reads the corrected output table), inside the timed run
    val exportStatus: Option[String] =
      if (shardsSpec.isEmpty && corruptSpec.isEmpty && bpeEncode.isEmpty &&
          bpeTrain.isEmpty) None
      else Some(exportArtifacts(spark, output, spansCol,
        shardsSpec, packSpec, corruptSpec, bpeEncode, bpeTrain, stageToken))
    val total = summary.total
    val sec = (System.nanoTime() - t0) / 1e9

    // shared artifact-format helpers: Locale.ROOT numbers (non-finite →
    // null — an empty run's 0/0 cer must not emit bare NaN) + escaped strings
    def num(fmt: String, v: Double) = Portable.jsonNum(fmt, v)
    def jsonStr(x: String) = Portable.jsonStr(x)
    def optLong(o: Option[Long]) = o.map(_.toString).getOrElse("null")
    // docs_removed = the full curation delta (sample + gate + dedup);
    // dedup_removed keeps its original single-step meaning and is null when
    // sample/gate are also active (the delta is then not attributable)
    val docsRemoved = for (pre <- docsInPre; post <- docsIn) yield pre - post
    val dedupRemoved =
      if (sampleFrac.isEmpty && gateSpec.isEmpty && gopherSpec.isEmpty &&
          langidModel.isEmpty &&
          decontamSpec.isEmpty && (lmModel.isEmpty || lmMinLp.isEmpty) &&
          qualityModel.isEmpty && (dsirModel.isEmpty || dsirK.isEmpty) &&
          bloomDedup.isEmpty && sourceMix.isEmpty)
        docsRemoved
      else None
    s"""{"run_id":${jsonStr(runId)},"docs_in":${optLong(docsIn)},""" +
      s""""docs_in_pre":${optLong(docsInPre)},"docs_removed":${optLong(docsRemoved)},""" +
      s""""dedup_removed":${optLong(dedupRemoved)},""" +
      s""""spans_this_invocation":${m.n},""" +
      s""""spans_total":${total.n},"cer":${num("%.4f", total.avgDistance)},""" +
      s""""pct_perfect":${num("%.4f", total.percentPerfect)},"wall_sec":${num("%.1f", sec)},""" +
      s""""spans_per_sec":${num("%.1f", if (sec > 0) m.n / sec else 0.0)},""" +
      exportStatus.map(st => s""""export":${jsonStr(st)},""").getOrElse("") +
      stageCer.map(t => s""""stage_cer":$t,""").getOrElse("") +
      s""""state":${jsonStr(state)}}"""
  }

}
