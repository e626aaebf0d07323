package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.correct.{Corrector, DictionaryCorrector, NoisyChannelCorrector, NoisyChannelModel, NullCorrector}
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
 *   [--decontam-format orc]        # the eval table's format (default: --input-format)
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
 *                                  # curation order: the row order of `curationTable`
 *                                  # (sample first, source mix last), which also
 *                                  # gives each stage's flags to the lineage and
 *                                  # stage token; an unread flag fails the run.
 *                                  # Single-branch rule: media-only docs pass by an
 *                                  # `__n` predicate, never a union branch (it re-runs
 *                                  # the chain above it); a self-join reads once a side
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

  /** `--key value` pairs; a dangling flag or a key without `--` fails. */
  private[graft] def parseArgs(args: Array[String]): Map[String, String] =
    args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case Array(k, _) => throw new IllegalArgumentException(s"expected a --flag, got '$k'")
      case Array(k) => throw new IllegalArgumentException(s"$k has no value")
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
  private[graft] def tagDocText(docs: DataFrame, spansCol: String): DataFrame = {
    val txt = concat_ws(" ",
      transform(filter(col(spansCol), sp => sp.getField("kind") === graft.model.Span.KindText),
        sp => sp.getField("text")))
    docs.withColumn("__txt", txt)
      .withColumn("__n",
        coalesce(length(graft.dedup.Dedup.normalizeText(col("__txt"))), lit(0)))
  }

  /** The media-only passthrough of every text-curation stage, on ONE branch:
    * no-text rows (`__n === 0`) pass by predicate, text rows where `keep`
    * holds. A has-text/no-text union would re-run the upstream chain per
    * branch and add the branches' partition counts to the staging write. */
  private def keepText(tagged: DataFrame, keep: Column): DataFrame =
    tagged.where(col("__n") === 0 || keep).drop("__txt", "__n")

  /** [[keepText]] keeping the text rows whose `doc_id` `survivors` holds: an
    * `IN` subquery, planned as an existence join, so rows pass exactly as
    * under a semi join on those ids and duplicate ids multiply nothing. */
  private def keepTextIds(tagged: DataFrame, survivors: DataFrame): DataFrame =
    keepText(tagged, col("doc_id").isin(survivors.select(col("doc_id"))))

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
  private[graft] def dedupDocs(docs: DataFrame, spansCol: String, mode: String): DataFrame = {
    import graft.dedup.Dedup
    def arg(default: Double): Double =
      mode.split(":", 2) match {
        case Array(_, v) => v.toDouble
        case _ => default
      }
    val tagged = tagDocText(docs, spansCol)
    val hasText = tagged.where(col("__n") > 0)
    // exact: semi join on the keep ids; near modes: anti join on removed
    // ids — survivors are closed under doc_id, so their ids decide exactly
    keepTextIds(tagged, mode.takeWhile(_ != ':') match {
      case "exact" =>
        Dedup.exactGroups(hasText, "doc_id", "__txt").select(col("keep_id").as("doc_id"))
      case "near-lsh" => Dedup.dedupNearLsh(hasText, arg(0.9), idCol = "doc_id", textCol = "__txt")
      case "near-cc" => Dedup.dedupNearCC(hasText, arg(0.9), idCol = "doc_id", textCol = "__txt")
      case "near-simhash" =>
        Dedup.dedupNearSimHash(hasText, arg(3.0).toInt, idCol = "doc_id", textCol = "__txt")
      case other => sys.error(
        s"unknown --dedup $other (none|exact|near-lsh[:t]|near-cc[:t]|near-simhash[:d])")
    })
  }

  /** Quality gate over the concatenated text spans (same text key and
    * media-only passthrough policy as [[dedupDocs]]): keep text docs with
    * `quality >= q` and `dup_token_ratio <= d`. Both signals are scan-side
    * narrow expressions — no shuffle. `spec` grammar: `q` or `q:d`. */
  private[graft] def gateDocs(docs: DataFrame, spansCol: String, spec: String): DataFrame = {
    val (q, d) = spec.split(":", 2) match {
      case Array(qs, ds) => (qs.toDouble, ds.toDouble)
      case Array(qs) => (qs.toDouble, 0.6)
    }
    keepText(graft.streaming.StreamingOps.qualityGateAnnotated(
        tagDocText(docs, spansCol), "__txt", q, d), col("keep"))
      .drop("quality", "dup_token_ratio", "dup_bigram_frac", "keep")
  }

  /** The full Gopher heuristic gate (Rae'21 App. A) over assembled doc
    * text: one native `gopher_signals` call per doc, thresholds from the
    * `minWords[:minStopHits]` spec (other rules at the paper's defaults).
    * Media-only docs pass, like every text gate in this chain. */
  private[graft] def gopherDocs(docs: DataFrame, spansCol: String, spec: String): DataFrame = {
    val (minW, minS) = spec.split(":", 2) match {
      case Array(w, s) => (w.toLong, s.toLong)
      case Array(w) if w.nonEmpty => (w.toLong, 2L)
      case _ => (50L, 2L)
    }
    import graft.textanalysis.TextAnalysis
    val tagged = tagDocText(docs, spansCol).withColumn("__gsig",
      TextAnalysis.gopherSignals(docs.sparkSession, coalesce(col("__txt"), lit(""))))
    keepText(tagged, TextAnalysis.gopherKeep(col("__gsig"), minWords = minW, minStopHits = minS))
      .drop("__gsig")
  }

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

  /** Benchmark decontamination: drop training docs sharing an n-token
    * n-gram with the eval corpus (GPT-3 appendix-C rule). Both sides are
    * interleaved-docs tables; the shared text key is [[tagDocText]]. Eval
    * grams are distinct + broadcast — the training text never shuffles.
    * `spec` grammar: `path` or `path:n`. */
  private def decontamDocs(docs: DataFrame, spansCol: String,
                           spec: String, fmt: String): DataFrame = {
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
  private[graft] def spanDedupDocs(docs: DataFrame, spansCol: String, spec: String): DataFrame = {
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
  private def mediaDedupDocs(docs: DataFrame, spansCol: String, spec: String): DataFrame = {
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
  private[graft] def rewriteMediaRefs(docs: DataFrame,
                                      spansCol: String,
                                      mapping: DataFrame): DataFrame = {
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
  private def piiScrubDocs(docs: DataFrame, spansCol: String): DataFrame =
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
  private def lmFilterDocs(docs: DataFrame, spansCol: String,
                           modelDir: String, minLp: Double): DataFrame = {
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
  private[graft] def qualityModelDocs(docs: DataFrame, spansCol: String,
                                      modelDir: String, minScore: Long): DataFrame = {
    import graft.textanalysis.QualityClassifier
    val (model, dim) = QualityClassifier.loadCountDiffModel(docs.sparkSession, modelDir)
    val tagged = tagDocText(docs, spansCol)
    keepTextIds(tagged, QualityClassifier.countDiffScores(
        tagged.where(col("__n") > 0).select(col("doc_id"), col("__txt")), model, dim,
        idCol = "doc_id", textCol = "__txt")
      .where(col("score_raw") > minScore))
  }

  /** DSIR importance resampling (`--dsir-model`/`--dsir-k`): Gumbel-top-k
    * sample `k` text docs ∝ their importance weight against a persisted
    * target model ([[graft.textanalysis.Dsir]]). Media-only docs pass —
    * the model has no evidence about them (the quality-filter family's
    * passthrough policy), so the output holds k text docs PLUS the media
    * passthrough. Distribution matching, not a gate: the budget is spent
    * to REPRODUCE the target's hashed-n-gram distribution. */
  private[graft] def dsirDocs(docs: DataFrame, spansCol: String,
                              modelDir: String, k: Int, alpha: Double): DataFrame = {
    import graft.textanalysis.Dsir
    val (counts, dim) = Dsir.loadModel(docs.sparkSession, modelDir)
    val tagged = tagDocText(docs, spansCol)
    keepTextIds(tagged, Dsir.resample(
        tagged.where(col("__n") > 0).select(col("doc_id"), col("__txt")), counts, k, dim, alpha,
        idCol = "doc_id", textCol = "__txt"))
  }

  /** Cross-batch Bloom dedup (`--bloom-dedup`): drop text docs whose
    * normalized concatenated-text fingerprint might be in the persisted
    * sketch. Media-only/empty-text docs pass — their fingerprint is the
    * constant md5("") and the membership question is meaningless for them
    * (the dedup family's passthrough policy). */
  private[graft] def bloomDedupDocs(docs: DataFrame, spansCol: String, dir: String): DataFrame = {
    import graft.dedup.{Bloom, Dedup}
    val spark = docs.sparkSession
    val (mBits, k) = Bloom.loadMeta(spark, dir)
    val tagged = tagDocText(docs, spansCol)
    if (mBits / Bloom.WordBits <= Bloom.LiteralProbeMaxWords) {
      // scan-side probe: the sketch rides as one plan literal
      val (words, _, _) = Bloom.load(spark, dir)
      keepText(tagged, !Bloom.mightContain(Dedup.fingerprint(col("__txt")), words, mBits, k))
    } else {
      // GB-scale sketch: join the sparse word table (BloomSpec: same survivors);
      // hits return as a left-join flag, so a null id passes as under the anti join
      val hits = Bloom.sketchHits(tagged.where(col("__n") > 0),
        spark.read.parquet(s"$dir/words"), mBits, k, textCol = "__txt", idCol = "doc_id")
      keepText(tagged.join(hits.select(col("doc_id").as("__hit")),
          col("doc_id") === col("__hit"), "left"), col("__hit").isNull)
        .drop("__hit")
    }
  }

  /** `--bloom-out`: persist the sketch of this batch's SURVIVING text-doc
    * fingerprints, merged into the input sketch when `--bloom-dedup` was
    * given (geometry inherited), else fresh at `mBits`/`k`. */
  private def bloomOutSketch(docs: DataFrame, spansCol: String,
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
   * from the input, not from run state). `curated` is [[RunFlags.curate]].
   */
  private def stageNullCer(spark: SparkSession, flags: RunFlags,
                           curated: Seq[DataFrame]): String = {
    import graft.pipeline.CorrectionPipeline
    import flags._
    org.apache.spark.sql.graft.NativeFunctions.register(spark)
    val docs0 = curated.head
    val cleanAll = if (clean == input) docs0
                   else graft.sources.CorpusIO.readDocs(spark, clean, fmt, cleanSpansCol)
    def textSpans(df: DataFrame, sc: String, as: String) =
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
    val telemetered = ("input" -> docs0) +: stages.zip(curated.tail).collect {
      case (s, df) if s.stage.dropsDocs => s.stage.name -> df }
    val rows = telemetered.zipWithIndex.map { case ((name, df), i) =>
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
  private[graft] def langidDocs(docs: DataFrame, spansCol: String,
                                modelDir: String, keep: Set[String]): DataFrame = {
    import graft.textanalysis.LangProfile
    val profiles = LangProfile.load(docs.sparkSession, modelDir)
    val tagged = tagDocText(docs, spansCol)
    keepTextIds(tagged, LangProfile.classify(
        tagged.where(col("__n") > 0).select(col("doc_id"), col("__txt")), profiles,
        idCol = "doc_id", textCol = "__txt")
      .filter(col("lang_pred").isin(keep.toSeq: _*)))
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
   * Resumable as a UNIT: a `_spec` sidecar under `output/_export` records
   * the export flags plus the source stage token; when it matches, the
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
  private def exportArtifacts(spark: SparkSession, flags: RunFlags): String = {
    import graft.pipeline.{Packing, Sampling, SpanCorruption}
    import flags._
    val exportDir = s"$output/_export"
    val specStr = (exportSpec :+ s"src=$stageToken").mkString("|")
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
    val docs = spark.read.parquet(output).drop("bucket")
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
    bpeEncode.foreach { dir =>
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
  private def sourceMixDocs(docs: DataFrame, sourceCol: String,
                            alpha: Double, budget: Double): DataFrame = {
    require(docs.columns.contains(sourceCol),
      s"--source-mix needs column '$sourceCol' on the input table " +
        s"(set --mix-source-col; input has ${docs.columns.mkString(",")})")
    graft.pipeline.Sampling.temperatureMix(docs, sourceCol, "doc_id", alpha, budget)
  }

  /** A curation row's view of the run's flags: `v(i)` reads the row's i-th
    * flag (0 is the main flag) through the run's recording accessor, so a
    * modifier the row never asks for stays unread. */
  private[graft] final class StageFlags(flags: Seq[String], get: String => Option[String]) {
    def apply(i: Int): Option[String] = get(flags(i))
    /** The main flag with its i-th flag, both or neither: either alone would
      * be a silent no-op (a "filtered" corpus that was never filtered). */
    def together(i: Int): Option[(String, String)] = {
      val (main, other) = (apply(0), apply(i))
      require(main.isEmpty == other.isEmpty,
        s"--${flags(0)} and --${flags(i)} must be provided together")
      main.zip(other)
    }
  }

  /** One row of [[curationTable]]: the stage's name (its `--stage-telemetry`
    * row), its flags (main flag first, then its modifiers), whether it drops
    * whole docs, and a parse that is `None` when the stage is inactive, else
    * the canonical spec the lineage and stage token record plus the
    * transform the chain applies. */
  private[graft] final case class CurationStage(
      name: String, flags: Seq[String], dropsDocs: Boolean,
      parse: StageFlags => Option[(String, DataFrame => DataFrame)])

  /** A row the run's flags activate, with its canonical spec and transform. */
  private[graft] final case class ActiveStage(stage: CurationStage, spec: String,
                                              transform: DataFrame => DataFrame)

  // the rows a run consults by name beyond the folds
  private val PiiScrub = "pii-scrub"
  private val BloomDedup = "bloom-dedup"
  private val DocDedup = "dedup"

  /**
   * The curation stages in curation order: the one place a stage and its
   * flags are declared. [[run]]'s chain, its `--stage-telemetry` rows, the
   * lineage, the stage token and the drop predicates are folds over the
   * active rows, so no flag that shapes the staged rows can miss the resume
   * fingerprint. Order: narrow row-pure filters first (sample, the
   * heuristic gates), langid before the model-join filters (CCNet's order:
   * wrong-language docs pay no classifier or LM join), DSIR over the
   * cheap-filter survivors, decontam, the PII scrub once every text drop is
   * decided, then the shuffle-bearing dedup family keyed on the REDACTED
   * text (cross-batch Bloom before in-batch dedup; span cuts on doc-dedup
   * survivors only; media decodes on span-dedup survivors only), and source
   * mixing last, so its allocations are quoted over the cleaned per-source
   * counts.
   */
  private[graft] def curationTable(spansCol: String, fmt: String): Seq[CurationStage] = {
    def stage(name: String, dropsDocs: Boolean, modifiers: String*)(
        parse: StageFlags => Option[(String, DataFrame => DataFrame)]) =
      CurationStage(name, name +: modifiers, dropsDocs, parse)
    Seq(
      stage("sample", dropsDocs = true)(v => v(0).map(_.toDouble).map(f =>
        (f.toString, graft.pipeline.Sampling.deterministicSample(_, "doc_id", f)))),
      stage("quality-gate", dropsDocs = true)(v => v(0).map(s => (s, gateDocs(_, spansCol, s)))),
      stage("gopher", dropsDocs = true)(v => v(0).map(s => (s, gopherDocs(_, spansCol, s)))),
      CurationStage("langid", Seq("langid-model", "langid-keep"), dropsDocs = true,
        v => v.together(1).map { case (m, ks) =>
          val keep = ks.split(",").map(_.trim).filter(_.nonEmpty).toSet
          require(keep.nonEmpty, "--langid-keep must name at least one language")
          (s"$m@${keep.toSeq.sorted.mkString("+")}", langidDocs(_, spansCol, m, keep))
        }),
      stage("quality-model", dropsDocs = true, "quality-model-min")(v => v(0).map { dir =>
        val min = v(1).getOrElse("0").toLong
        (s"$dir>$min", qualityModelDocs(_, spansCol, dir, min))
      }),
      CurationStage("lm", Seq("lm-model", "lm-min-logprob"), dropsDocs = true,
        v => v.together(1).map { case (m, lp) =>
          (s"$m>=${lp.toDouble}", lmFilterDocs(_, spansCol, m, lp.toDouble))
        }),
      CurationStage("dsir", Seq("dsir-model", "dsir-k", "dsir-alpha"), dropsDocs = true,
        v => v.together(1).map { case (m, ks) =>
          val (k, alpha) = (ks.toInt, v(2).getOrElse("0.5").toDouble)
          (s"$m@$k:$alpha", dsirDocs(_, spansCol, m, k, alpha))
        }),
      stage("decontam", dropsDocs = true, "decontam-format")(v => v(0).map { s =>
        val evalFmt = v(1).getOrElse(fmt)
        (s"$s@$evalFmt", decontamDocs(_, spansCol, s, evalFmt))
      }),
      stage(PiiScrub, dropsDocs = false)(v => v(0).filter(_.toBoolean).map(s =>
        (s, piiScrubDocs(_, spansCol)))),
      stage(BloomDedup, dropsDocs = true)(v => v(0).map(d => (d, bloomDedupDocs(_, spansCol, d)))),
      stage(DocDedup, dropsDocs = true)(v => v(0).filter(_ != "none").map(m =>
        (m, dedupDocs(_, spansCol, m)))),
      stage("span-dedup", dropsDocs = false)(v => v(0).map(s =>
        (s, spanDedupDocs(_, spansCol, s)))),
      stage("media-dedup", dropsDocs = false)(v => v(0).map(s =>
        (s, mediaDedupDocs(_, spansCol, s)))),
      stage("source-mix", dropsDocs = true, "mix-source-col")(v => v(0).map { s =>
        val (alpha, budget) = parseSourceMixSpec(s)
        val sourceCol = v(1).getOrElse("source")
        (s"$alpha:$budget@$sourceCol", sourceMixDocs(_, sourceCol, alpha, budget))
      }))
  }

  /**
   * One run's flags, parsed before any Spark work through one accessor that
   * records each key it is asked for. A key nothing reads (a typo, or a
   * modifier given without its stage) fails the run instead of shipping an
   * uncurated corpus; that check runs last, after every both-or-neither
   * rule. A pure function of the map, built once per [[run]].
   */
  private[graft] final class RunFlags(a: Map[String, String]) {
    private val read = scala.collection.mutable.Set.empty[String]
    private def get(k: String): Option[String] = { read += k; a.get(k) }
    private def getOr(k: String, default: => String): String = get(k).getOrElse(default)
    private def req(k: String): String =
      get(k).getOrElse(sys.error(s"missing required --$k (see scaladoc)"))

    // trailing slashes normalized so path equality (clean == input) and the
    // stage-directory naming don't depend on how the operator typed the path
    val input = req("input").stripSuffix("/")
    val output = req("output").stripSuffix("/")
    val state = getOr("state", s"$output/_state")
    val clean = getOr("clean", input).stripSuffix("/")
    val runId = getOr("run-id", "run1")
    val spansCol = getOr("spans-col", "spans")
    // when the clean side IS the input (omitted, or explicitly the same
    // path), its spans live in the same (possibly non-default) column
    val cleanSpansCol = getOr("clean-spans-col", if (clean == input) spansCol else "spans")
    val fmt = getOr("input-format", "parquet")
    val correctorName = getOr("corrector", "noisy")
    require(Set("noisy", "dictionary", "null")(correctorName),
      s"unknown --corrector $correctorName (noisy|dictionary|null)")
    val minFreq = getOr("min-freq", "2").toLong
    val vocab = get("vocab")
    val nBuckets = getOr("buckets", "64").toInt
    val groupSize = getOr("group-size", "8").toInt
    /** The active curation rows, in curation order. */
    val stages: Seq[ActiveStage] = curationTable(spansCol, fmt).flatMap(s =>
      s.parse(new StageFlags(s.flags, get)).map { case (spec, f) => ActiveStage(s, spec, f) })
    /** The curated frame after each active stage, `docs0` first. */
    def curate(docs0: DataFrame): Seq[DataFrame] =
      stages.scanLeft(docs0)((df, s) => s.transform(df))
    def active(name: String): Option[ActiveStage] = stages.find(_.stage.name == name)
    /** `--bloom-out` (out dir, probed input sketch, bits, k). */
    val bloomOut = get("bloom-out").map(out => (out, active(BloomDedup).map(_.spec),
      getOr("bloom-bits", "1048576").toInt, getOr("bloom-k", "5").toInt))
    val stageTelemetry = get("stage-telemetry").exists(_.toBoolean)

    val shards = get("shards").map(parseShardsSpec)
    val pack = get("pack").map(_.toInt)
    val corrupt = get("span-corrupt").map(parseCorruptSpec)
    val bpeEncode = get("bpe-encode")
    // n[:maxWords] — train a BPE merge table over the corrected corpus
    // (driver-local delta loop over the top-maxWords word counts)
    val bpeTrain = get("bpe-train").map { spec =>
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
    require(pack.isEmpty || shards.nonEmpty,
      "--pack requires --shards (sequences pack per shard, in shard-pos order)")
    /** The export tail's active flags: the lineage suffix, the `_spec`
      * marker and whether the tail runs at all (a pack implies shards). */
    val exportSpec: Seq[String] = Seq(
      shards.map { case (n, seed) => s"shards=$n:$seed" },
      pack.map(p => s"pack=$p"),
      corrupt.map { case (p, m) => s"span-corrupt=$p:$m" },
      bpeEncode.map(d => s"bpe-encode=$d"),
      bpeTrain.map { case (n, w) => s"bpe-train=$n:$w" }).flatten

    // what every staged row derives from: the sources, then each active
    // stage's canonical spec in curation order
    private val staged = Seq(s"input=$input", s"clean=$clean", s"spans-col=$spansCol",
      s"clean-spans-col=$cleanSpansCol", s"input-format=$fmt") ++
      stages.map(s => s"${s.stage.name}=${s.spec}")
    /** Fingerprint of the staged rows: a resume with another source or
      * curation rebuilds its stage instead of reusing the previous rows. */
    val stageToken = java.security.MessageDigest.getInstance("MD5")
      .digest(staged.mkString("|").getBytes("UTF-8"))
      .take(4).map("%02x".format(_)).mkString
    /** What every committed bucket's rows derive from besides the bucket
      * count, which CheckpointedRun adds: the staged rows, the corrector and
      * its vocabulary. The state rows record it, and a resume under another
      * one is refused. */
    val bucketLineage = (staged ++ Seq(s"corrector=$correctorName", s"minFreq=$minFreq",
      s"vocab=${vocab.getOrElse("")}")).mkString(" ")
    /** Every flag the run's output derives from: [[bucketLineage]], the
      * bucket count, and the flags a resume may change because they touch no
      * committed row: the group size, and the export tail, which its own
      * `_spec` marker rebuilds. */
    val lineage = (Seq(bucketLineage, s"buckets=$nBuckets", s"groupSize=$groupSize") ++
      exportSpec).mkString(" ")

    private val unread = (a.keySet -- read).toSeq.sorted
    require(unread.isEmpty, "unknown flag, or a modifier without its stage: " +
      unread.map("--" + _).mkString(" "))
  }

  /** The name of the pre-curation doc count observed on the staging write. */
  private val DocsInPre = "graft_docs_in_pre"

  /** The submitted job, factored from [[main]] so tests drive it with their
    * own session. Returns the JSON metrics line. */
  def run(spark: SparkSession, a: Map[String, String]): String = {
    val flags = new RunFlags(a)
    import flags._

    val t0 = System.nanoTime()
    val raw = graft.sources.CorpusIO.readDocs(spark, input, fmt, spansCol)
    // docs_in_pre rides the staging write when a curation stage drops docs:
    // every read of the input in the staging plan counts the same rows
    val dropsDocs = stages.exists(_.stage.dropsDocs)
    val docs0 = if (dropsDocs) raw.observe(DocsInPre, count(lit(1))) else raw
    // each prefix of the chain is that stage's surviving population
    val curated = curate(docs0)
    val docs = curated.last
    // accumulate the cross-batch sketch over the SURVIVING docs (merged
    // into the input sketch when one was probed) — written every
    // invocation so a resumed run still ships the artifact
    bloomOut.foreach { case (out, in, bits, k) =>
      bloomOutSketch(docs, spansCol, out, in, bits, k) }
    // per-stage quality telemetry (opt-in): null-CER of each ACTIVE
    // doc-drop stage's surviving population — which gate moved quality
    val stageCer = if (stageTelemetry) Some(stageNullCer(spark, flags, curated)) else None
    val cleanDocs0 = if (clean == input) docs
                     else graft.sources.CorpusIO.readDocs(spark, clean, fmt, cleanSpansCol)
    // the truth table must see the same redaction as the input, or every
    // placeholder scores as character errors and the vocab learns raw PII
    val cleanDocs = if (active(PiiScrub).nonEmpty && clean != input)
                      piiScrubDocs(cleanDocs0, cleanSpansCol)
                    else cleanDocs0

    // built by CheckpointedRun beside the staging write, and only when work
    // remains: a no-op resume trains no vocabulary
    def corrector: Corrector =
      if (correctorName == "null") NullCorrector
      else {
        val vocabDf = vocab
          .map(spark.read.parquet(_))
          .getOrElse(DictionaryCorrector.trainVocab(cleanDocs, cleanSpansCol, splitFilter = None))
        if (correctorName == "dictionary")
          DictionaryCorrector.corrector(DictionaryCorrector.buildModel(spark, vocabDf, minFreq))
        else
          new NoisyChannelCorrector(
            NoisyChannelModel.fromVocabDf(spark, vocabDf.filter(col("freq") >= minFreq), minFreq))
      }

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
      lineage = bucketLineage, cleanSpansCol = cleanSpansCol,
      stageToken = stageToken, onSummary = s => summary = s)
    val docsIn = summary.docsIn
    // pre-curation count: observed on the staging write, or, when a resume
    // reused a committed stage, a footer-metadata parquet count of the raw
    // input (no curation plan attached); skipped entirely on a no-op resume,
    // and equal to docs_in by definition when no curation step drops docs
    val docsInPre: Option[Long] =
      if (docsIn.isEmpty) None
      else if (!dropsDocs) docsIn
      else summary.stageObserved.map(_.get(DocsInPre).fold(0L)(_.getLong(0)))
        .orElse(Some(raw.count()))
    // training-export tail: strictly after every bucket is committed (it
    // reads the corrected output table), inside the timed run
    val exportStatus: Option[String] =
      if (exportSpec.isEmpty) None
      else Some(exportArtifacts(spark, flags))
    val total = summary.total
    val sec = (System.nanoTime() - t0) / 1e9

    // shared artifact-format helpers: Locale.ROOT numbers (non-finite →
    // null — an empty run's 0/0 cer must not emit bare NaN) + escaped strings
    def num(fmt: String, v: Double) = Portable.jsonNum(fmt, v)
    def jsonStr(x: String) = Portable.jsonStr(x)
    def optLong(o: Option[Long]) = o.map(_.toString).getOrElse("null")
    // docs_removed = the full curation delta; dedup_removed keeps its
    // original single-step meaning and is null when another doc-drop stage
    // is also active (the delta is then not attributable)
    val docsRemoved = for (pre <- docsInPre; post <- docsIn) yield pre - post
    val dedupRemoved =
      if (stages.forall(s => !s.stage.dropsDocs || s.stage.name == DocDedup)) docsRemoved
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
