package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.correct.Corrector
import graft.dedup.Dedup
import graft.model.{Doc, Span}

/** Per-fingerprint dedup state carried by [[StreamingOps.dedupStreamWithCounts]]:
  * the surviving doc id and how many duplicates it has absorbed so far. */
case class FpDedupState(keep_id: String, n_dups: Long)

/** One stored arrival in a [[StreamingOps.simHashDupVerdicts]] band-bucket
  * state: the full 32-bit signature, the doc id, and the event time (ms). */
case class SimBandEntry(sig: Long, doc_id: String, ts: Long)

/** Band-bucket state of [[StreamingOps.simHashDupVerdicts]]: every
  * in-horizon arrival whose signature hashed into this (band, band_key)
  * bucket. */
case class SimBandState(entries: Seq[SimBandEntry])

/** Duplicate verdict from [[StreamingOps.simHashDupVerdicts]]: `doc_id` is
  * within `hamming` ≤ maxHamming of the earlier in-horizon doc `dup_of`;
  * `band` is the agreeing signature band that surfaced the match (a doc can
  * be flagged by several bands — consumers drop on DISTINCT doc_id). */
case class SimDupVerdict(doc_id: String, dup_of: String, band: Int, hamming: Int)

/** Per-unit-fingerprint state of [[StreamingOps.unitDupVerdicts]]: the doc
  * that first carried this unit within the watermark horizon. */
case class UnitDedupState(first_id: String)

/** Duplicate verdict from [[StreamingOps.unitDupVerdicts]]: TEXT span
  * `unit_no` of `doc_id` repeats a unit first seen (in arrival order,
  * within the horizon) on `first_doc_id` — the streaming form of the batch
  * `--span-dedup` loser row. */
case class UnitDupVerdict(doc_id: String, unit_no: Int, first_doc_id: String)

/** Output row of [[StreamingOps.dedupStreamWithCounts]]: `event = "keep"`
  * emits the survivor the moment its fingerprint first appears (n_dups 0 at
  * that point); `event = "final"` is the accounting record emitted when the
  * fingerprint's state times out past the watermark — the survivor id with
  * its total absorbed duplicate count. */
case class FpDedupEvent(text_fp: String, doc_id: String, event: String, n_dups: Long)

/**
 * Structured Streaming forms of the pipeline's operators.
 *
 * The reference is pure batch (SURVEY.md §2.9); these exist because the
 * production shape of a corpus pipeline ingests continuously. Design rules:
 *
 *  - The correction kernel is applied WITHIN each document row
 *    (`mapPartitions` over whole docs, spans corrected in place) — no
 *    explode/regroup, so the streaming query needs no shuffle or state for
 *    correction itself and span order is trivially preserved. This is the
 *    same kernel slot as the batch path (equivalence-tested in
 *    StreamingSpec); the batch pipeline keeps the explode→reassemble form
 *    because batch can afford the shuffle and gains per-span parallelism for
 *    pathological documents.
 *  - Deduplication uses `dropDuplicatesWithinWatermark` on the content
 *    fingerprint — bounded state, the streaming analog of D1.
 *  - Sessionization uses event-time `session_window` aggregation with a
 *    watermark — bounded state, late data handled by the watermark.
 */
object StreamingOps {

  /** Correct text spans inside each doc row; media spans untouched.
    * Narrow, stateless — works identically on batch and streaming Datasets.
    * Span texts are routed through the corrector's BATCHED hook by the
    * shared doc-level loop ([[Corrector.correctDocs]]), the same one the
    * checkpointed batch run uses. */
  def correctDocs(docs: Dataset[Doc], corrector: Corrector): Dataset[Doc] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.mapPartitions(corrector.correctDocs[Doc](_, _.spans, (d, s) => Doc(d.doc_id, s)))
  }

  /** Streaming exact dedup: keep the first doc per content fingerprint within
    * the watermark horizon. `dropDuplicatesWithinWatermark` is the form whose
    * state IS evicted by the watermark — plain `dropDuplicates("text_fp")`
    * would keep every fingerprint forever because the event-time column is
    * not part of the dedup key, growing state unboundedly. */
  def dedupStream(docs: DataFrame, tsCol: String, textCol: String,
                  watermark: String = "10 minutes"): DataFrame =
    docs
      .withColumn("text_fp", Dedup.fingerprint(col(textCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("text_fp")

  /**
   * Streaming exact dedup WITH duplicate accounting — the custom-state form
   * (`KeyValueGroupedDataset.flatMapGroupsWithState`) of [[dedupStream]].
   * `dropDuplicatesWithinWatermark` can only DROP duplicates; corpus
   * curation also wants to know HOW MANY each survivor absorbed (duplicate
   * mass is a quality/popularity weight for the survivor downstream). Per
   * content fingerprint:
   *
   *  - the FIRST doc is emitted immediately (`event = "keep"`) — the
   *    survivor flows on with no latency;
   *  - later docs with the same fingerprint are absorbed into a counter in
   *    the group state (never emitted);
   *  - when the fingerprint's event-time timeout fires (last seen + `gap`,
   *    evaluated against the watermark), one accounting row
   *    (`event = "final"`, total `n_dups`) is emitted and the state is
   *    freed — state stays bounded by the watermark horizon exactly like
   *    the built-in operator.
   *
   * Within a micro-batch, rows are ordered by (event time, doc id) so the
   * survivor choice is deterministic under replay. Scale shape: state is
   * one (string, long) per DISTINCT in-horizon fingerprint, partitioned by
   * fingerprint — the same shuffle key as the built-in dedup.
   */
  def dedupStreamWithCounts(docs: DataFrame, tsCol: String, textCol: String,
                            idCol: String, watermark: String = "10 minutes",
                            gapMs: Long = 10 * 60 * 1000L): Dataset[FpDedupEvent] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val keyed = docs
      .withColumn("__fp", Dedup.fingerprint(col(textCol)))
      .select(col("__fp"), col(tsCol).cast("timestamp").as("__ts"),
        col(idCol).cast("string").as("__id"))
      // watermark AFTER the projection: renaming/casting the event-time
      // column severs the EventTimeWatermark marker, and event-time timeout
      // refuses to run without one on its input
      .withWatermark("__ts", watermark)
      .as[(String, Timestamp, String)]
      .groupByKey(_._1)
    keyed.flatMapGroupsWithState(
      OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
      (fp: String, rows: Iterator[(String, Timestamp, String)],
       state: GroupState[FpDedupState]) =>
        if (state.hasTimedOut) {
          val s = state.get
          state.remove()
          Iterator.single(FpDedupEvent(fp, s.keep_id, "final", s.n_dups))
        } else {
          val batch = rows.toSeq.sortBy(r => (r._2.getTime, r._3))
          var s = state.getOption
          val out = Seq.newBuilder[FpDedupEvent]
          batch.foreach { case (_, _, id) =>
            s match {
              case None =>
                s = Some(FpDedupState(id, 0L))
                out += FpDedupEvent(fp, id, "keep", 0L)
              case Some(st) =>
                s = Some(st.copy(n_dups = st.n_dups + 1))
            }
          }
          s.foreach(state.update)
          // timeout = last event seen + gap; EventTimeTimeout fires once the
          // WATERMARK passes it, so eviction is replay-deterministic
          state.setTimeoutTimestamp(batch.last._2.getTime + gapMs)
          out.result().iterator
        }
    }
  }

  /**
   * Streaming NEAR-duplicate detection — the SimHash-banded sibling of
   * [[dedupStreamWithCounts]], closing the batch/streaming gap for the
   * near-dup family (the exact-fingerprint operators cannot see a lightly
   * edited repost). Emits a [[SimDupVerdict]] for every arriving doc whose
   * 32-bit SimHash is within `maxHamming` of ANY earlier doc still inside
   * the watermark horizon; survivors produce no verdict and flow on in the
   * source stream untouched (drop = anti-join / filter on the verdict
   * stream's distinct doc_ids, e.g. in foreachBatch).
   *
   * Mechanism: the signature splits into `maxHamming + 1` contiguous bands
   * (the pigeonhole rule of the batch path, [[graft.dedup.Dedup.simHashBands]]);
   * the stream is keyed by (band, band_key) and each group's state stores
   * every in-horizon arrival that hashed into that bucket. Two signatures
   * within Hamming d agree on at least one whole band, so the banded check
   * is a COMPLETE detector — every true near-dup lands in some bucket
   * already holding its partner, where the exact `bitCount(xor)` verify
   * runs against bucket-local entries only (the LSH candidate/verify split,
   * in streaming form). Detection is therefore TRANSITIVE in arrival order:
   * duplicates are stored too, so a chain A≈B≈C collapses onto A even when
   * A and C exceed the threshold — the greedy streaming analog of the batch
   * CC clustering, with first-arrival (not component-min) survivors; batch
   * [[graft.dedup.Dedup.dedupNearSimHash]] survivors are a SUBSET of the
   * streaming survivors (a late bridge doc can merge two streaming-era
   * clusters that batch sees whole — spec-asserted).
   *
   * State stays bounded by the watermark horizon: each bucket registers an
   * event-time timeout at its oldest entry's expiry; firings evict expired
   * entries and re-arm until the bucket drains. Per-bucket verdicts are
   * deterministic under replay (micro-batch rows processed in (ts, id)
   * order; `dup_of` is the (ts, id)-earliest matching entry). Scale shape:
   * state is (maxHamming + 1) rows of (8-byte sig, id, ts) per in-horizon
   * doc, sharded by band key — the same shuffle key as the batch candidate
   * join; full texts never enter state.
   */
  def simHashDupVerdicts(docs: DataFrame, tsCol: String, textCol: String,
                         idCol: String, maxHamming: Int = 3,
                         watermark: String = "10 minutes",
                         gapMs: Long = 10 * 60 * 1000L): Dataset[SimDupVerdict] = {
    require(maxHamming >= 0 && maxHamming < 32, s"maxHamming out of range: $maxHamming")
    val spark = docs.sparkSession
    import spark.implicits._
    org.apache.spark.sql.graft.SimHashSigExpr.register(spark)
    val nBands = maxHamming + 1
    val bandKeys = (0 until nBands).map { b =>
      val lo = b * 32 / nBands
      val hi = (b + 1) * 32 / nBands
      shiftright(col("__sig"), lo).bitwiseAND(lit((1L << (hi - lo)) - 1L))
    }
    val banded = docs
      .withColumn("__sig", call_function("simhash_sig", col(textCol)))
      .select(col(idCol).cast("string").as("__id"),
        col(tsCol).cast("timestamp").as("__ts"), col("__sig"),
        posexplode(array(bandKeys: _*)).as(Seq("__band", "__key")))
      // watermark AFTER the projection (the dedupStreamWithCounts note):
      // event-time timeout needs the marker on its direct input
      .withWatermark("__ts", watermark)
      .as[(String, Timestamp, Long, Int, Long)]
      .groupByKey(r => (r._4, r._5)) // (band, band_key)
    banded.flatMapGroupsWithState(
      OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
      (key: (Int, Long), rows: Iterator[(String, Timestamp, Long, Int, Long)],
       state: GroupState[SimBandState]) =>
        def arm(entries: Seq[SimBandEntry]): Unit = {
          state.update(SimBandState(entries))
          // fire when the OLDEST entry leaves the horizon; EventTimeTimeout
          // compares against the watermark, so eviction is replay-exact
          state.setTimeoutTimestamp(entries.map(_.ts).min + gapMs)
        }
        if (state.hasTimedOut) {
          val wm = state.getCurrentWatermarkMs()
          val live = state.get.entries.filter(_.ts + gapMs > wm)
          if (live.isEmpty) state.remove() else arm(live)
          Iterator.empty
        } else {
          var entries = state.getOption.map(_.entries).getOrElse(Seq.empty)
          val out = Seq.newBuilder[SimDupVerdict]
          rows.toSeq.sortBy(r => (r._2.getTime, r._1)).foreach {
            case (id, ts, sig, band, _) =>
              val hits = entries.filter(e => e.doc_id != id &&
                java.lang.Long.bitCount(e.sig ^ sig) <= maxHamming)
              if (hits.nonEmpty) {
                val first = hits.minBy(e => (e.ts, e.doc_id))
                out += SimDupVerdict(id, first.doc_id, band,
                  java.lang.Long.bitCount(first.sig ^ sig))
              }
              entries :+= SimBandEntry(sig, id, ts.getTime)
          }
          arm(entries)
          out.result().iterator
        }
    }
  }

  /**
   * Streaming sub-document unit dedup — the streaming form of the batch
   * `--span-dedup` rule (LineDedup on the pipeline's natural unit): emits a
   * [[UnitDupVerdict]] for every arriving TEXT span whose normalized
   * content was already carried by an earlier in-horizon doc (first
   * ARRIVAL wins — the standard streaming contract, vs the batch form's
   * min (doc_id, offset); with a single arrival order the two agree,
   * spec-asserted). Survivor spans produce no verdict and flow on in the
   * source stream untouched — the cut is an anti-join on (doc_id, unit_no)
   * against the verdict stream, e.g. in foreachBatch, exactly the
   * [[simHashDupVerdicts]] consumption contract.
   *
   * Spans under `minTokens` tokens are never candidates (the batch rule's
   * immunity for one-word stubs). State is one (16-byte md5, first doc id)
   * per DISTINCT in-horizon unit, keyed by fingerprint — the same shuffle
   * key as the batch winner aggregation — and is freed by an event-time
   * timeout `gapMs` past the unit's last sighting, so it stays bounded by
   * the watermark horizon; span text never enters state.
   */
  def unitDupVerdicts(docs: DataFrame, tsCol: String, spansCol: String = "spans",
                      idCol: String = "doc_id", minTokens: Int = 3,
                      watermark: String = "10 minutes",
                      gapMs: Long = 10 * 60 * 1000L): Dataset[UnitDupVerdict] = {
    require(minTokens >= 1, s"minTokens must be >= 1, got $minTokens")
    val spark = docs.sparkSession
    import spark.implicits._
    val units = docs
      .select(col(idCol).cast("string").as("__id"),
        col(tsCol).cast("timestamp").as("__ts"), explode(col(spansCol)).as("__sp"))
      .where(col("__sp.kind") === Span.KindText)
      .select(col("__id"), col("__ts"), col("__sp.offset").as("__no"),
        Dedup.normalizeText(col("__sp.text")).as("__unit"))
      .where(size(split(col("__unit"), " ")) >= minTokens)
      .select(md5(col("__unit")).as("__fp"), col("__ts"), col("__id"), col("__no"))
      // watermark AFTER the projection (the dedupStreamWithCounts note)
      .withWatermark("__ts", watermark)
      .as[(String, Timestamp, String, Int)]
      .groupByKey(_._1)
    units.flatMapGroupsWithState(
      OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
      (fp: String, rows: Iterator[(String, Timestamp, String, Int)],
       state: GroupState[UnitDedupState]) =>
        if (state.hasTimedOut) { state.remove(); Iterator.empty }
        else {
          val batch = rows.toSeq.sortBy(r => (r._2.getTime, r._3, r._4))
          var s = state.getOption
          val out = Seq.newBuilder[UnitDupVerdict]
          batch.foreach { case (_, _, id, no) =>
            s match {
              case None => s = Some(UnitDedupState(id))
              case Some(st) => out += UnitDupVerdict(id, no, st.first_id)
            }
          }
          s.foreach(state.update)
          state.setTimeoutTimestamp(batch.last._2.getTime + gapMs)
          out.result().iterator
        }
    }
  }

  /** Watermarked event-time sessionization: one row per (user, session
    * window) with event count and value sum — the streaming analog of the
    * batch q_sessionize window query. */
  def sessionize(events: DataFrame, gap: String = "30 minutes",
                 watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"), col("n_events"), col("sum_value"))

  /** Windowed per-language document counts with a watermark — the standard
    * streaming aggregation shape (tumbling event-time window). */
  def docRates(docs: DataFrame, tsCol: String, langCol: String,
               window: String = "1 minute", watermark: String = "5 minutes"): DataFrame =
    docs
      .withWatermark(tsCol, watermark)
      .groupBy(col(langCol), org.apache.spark.sql.functions.window(col(tsCol), window))
      .agg(count(lit(1)).as("n_docs"))
      .select(col(langCol), col("window.start").as("window_start"), col("n_docs"))

  /** Streaming ingest quality gate: per-doc quality score and repetition
    * signals (the Gopher family), keeping rows with `quality >= minQuality`
    * and `dup_token_ratio <= maxDupTokenRatio`. Every signal is a NARROW
    * scan-side expression (the `repetition_signals` codegen'd kernel plus
    * the quality Column family) — stateless, shuffle-free, identical
    * semantics on batch and streaming frames, so the same call is the batch
    * backfill filter. */
  /** Cross-batch Bloom dedup at the STREAM boundary: drop arriving docs
    * whose normalized-text fingerprint hits a static corpus sketch
    * ([[graft.dedup.Bloom]] — "already shipped in an earlier batch").
    * STATELESS by design: the sketch is a broadcast literal probed
    * scan-side, so the gate composes with any downstream stateful stage
    * and the batch path is the IDENTICAL expression (batch ≡ stream
    * spec-asserted). In-stream duplicates are [[dedupStream]]'s job — the
    * same split as the batch pipeline's --bloom-dedup before --dedup.
    * False negatives impossible; fresh docs drop at the sketch's FP rate. */
  def bloomGate(docs: DataFrame, words: Array[Long], mBits: Int, k: Int,
                textCol: String = "text"): DataFrame =
    docs.filter(!graft.dedup.Bloom.mightContain(
      graft.dedup.Dedup.fingerprint(col(textCol)), words, mBits, k))

  /**
   * ACCUMULATING Bloom dedup for streams — the streaming form of the batch
   * pipeline's `--bloom-dedup`/`--bloom-out` pair, as a `foreachBatch`
   * sink: each micro-batch probes the sketch AS OF the previous batch,
   * appends the survivors to `outDir` (parquet), and merges the survivors'
   * fingerprints back into `sketchDir` — so a document shipped in batch N
   * is dropped by every later batch, across restarts (the sketch is the
   * durable cross-batch state; no in-memory streaming state to grow).
   *
   * Replay-safe: the sketch dir carries the last applied batch id
   * (`state`), and a replayed `batchId <= last` is a no-op for BOTH writes
   * — effectively exactly-once given the sketch dir survives. The
   * overwrite-while-reading hazard is designed out: the sketch is loaded
   * DENSE (eager collect) and re-sparsified driver-side, so saving back to
   * the same dir never reads lazily from it.
   *
   * In-batch duplicates are out of scope by the same split as the batch
   * pipeline (`--bloom-dedup` before `--dedup`): compose [[dedupStream]]
   * upstream for those. False negatives impossible; fresh docs drop at the
   * sketch's FP rate.
   *
   * Scale shape: probe is scan-side (sketch literal), merge is one
   * vocabulary-free `bit_or` agg over the batch's fingerprints + a
   * driver-side union — per-batch cost independent of corpus history size.
   * Past [[graft.dedup.Bloom.LiteralProbeMaxWords]] the literal probe (and
   * the dense collect) stops fitting; at that geometry run the batch
   * pipeline's join-path probe on a schedule instead.
   */
  def bloomAccumulateSink(sketchDir: String, outDir: String, mBits: Int, k: Int,
                          textCol: String = "text"): (DataFrame, Long) => Unit = {
    (batch: DataFrame, batchId: Long) => {
      import graft.dedup.{Bloom, Dedup}
      val spark = batch.sparkSession
      import spark.implicits._
      val stateFile = s"$sketchDir/state"
      val exists = new java.io.File(s"$sketchDir/meta").exists()
      val lastApplied =
        if (new java.io.File(stateFile).exists())
          spark.read.parquet(stateFile).select(max(col("batch_id"))).head.getLong(0)
        else -1L
      if (batchId > lastApplied) {
        val words =
          if (exists) {
            val (w, m0, k0) = Bloom.load(spark, sketchDir)
            require(m0 == mBits && k0 == k,
              s"sketch $sketchDir geometry ($m0, $k0) != requested ($mBits, $k)")
            w
          } else Array.ofDim[Long](mBits / Bloom.WordBits)
        val survivors = Bloom.dedupAgainstSketch(batch, words, mBits, k, textCol)
          .localCheckpoint() // one pass: the write and the sketch build agree
        survivors.write.mode("append").parquet(outDir)
        val batchTable = Bloom.buildTable(
          survivors.select(Dedup.fingerprint(col(textCol)).as("__fp")), "__fp", mBits, k)
        val existing = words.zipWithIndex.collect { case (b, w) if b != 0L => (w, b) }
          .toSeq.toDF("w", "bits")
        Bloom.save(spark, Bloom.merge(existing, batchTable), mBits, k, sketchDir)
        Seq(batchId).toDF("batch_id").coalesce(1)
          .write.mode("overwrite").parquet(stateFile)
      }
    }
  }

  def qualityGate(docs: DataFrame, textCol: String = "text",
                  minQuality: Double = 0.3,
                  maxDupTokenRatio: Double = 0.6): DataFrame =
    qualityGateAnnotated(docs, textCol, minQuality, maxDupTokenRatio)
      .filter(col("keep")).drop("keep")

  /** The gate's decision surface without the filter: every input row
    * annotated with `quality`, `dup_token_ratio`, `dup_bigram_frac` and the
    * boolean `keep` — the form audits and the `q_quality_gate` oracle check
    * consume (the filtered [[qualityGate]] is exactly `keep == true`).
    *
    * Null-text policy is EXPLICIT: a null document carries no text evidence,
    * so BOTH signal families score it as the empty document (text coalesced
    * to `''` → quality 0, zero repetition) and the gate rejects it through
    * the ordinary quality threshold — no implicit null-propagation drop. */
  def qualityGateAnnotated(docs: DataFrame, textCol: String = "text",
                           minQuality: Double = 0.3,
                           maxDupTokenRatio: Double = 0.6): DataFrame = {
    import graft.textanalysis.TextAnalysis
    // fail fast on output-name collisions: withColumn would silently
    // OVERWRITE a pre-existing 'quality'/'keep'/... column and the
    // downstream drop would then destroy the caller's data — an input that
    // already carries gate outputs must rename them first
    val taken = Seq("quality", "dup_token_ratio", "dup_bigram_frac", "keep",
      "__q", "__rep").filter(docs.columns.contains)
    require(taken.isEmpty,
      s"qualityGate output column(s) ${taken.mkString(", ")} already exist on " +
        "the input — rename them before gating (they would be overwritten then dropped)")
    org.apache.spark.sql.graft.RepetitionSignalsExpr.register(docs.sparkSession)
    val t = coalesce(col(textCol), lit(""))
    docs
      .withColumn("__q", TextAnalysis.qualitySignals(docs.sparkSession, t))
      .withColumn("__rep", call_function("repetition_signals", t))
      .withColumn("quality", element_at(col("__q"), 5))
      .withColumn("dup_token_ratio", element_at(col("__rep"), 1))
      .withColumn("dup_bigram_frac", element_at(col("__rep"), 3))
      .withColumn("keep",
        col("quality") >= minQuality && col("dup_token_ratio") <= maxDupTokenRatio)
      .drop("__q", "__rep")
  }
}
