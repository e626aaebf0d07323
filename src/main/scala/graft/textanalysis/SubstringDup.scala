package graft.textanalysis

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Exact duplicate-substring detection across documents — the operator
 * behind substring-level train-set dedup (Lee et al., "Deduplicating
 * Training Data Makes Language Models Better", ACL 2022: repeated ≥50-char
 * substrings are memorization fuel). Winnowing (T7) answers "which docs
 * overlap, approximately, from sampled fingerprints"; this answers "which
 * doc pairs share an EXACT substring of at least L characters, and how
 * long" — character-precise, no sampling gap.
 *
 * Method (relational, no suffix array): a substring of length >= L shared
 * by two docs is exactly a run of >= L-k+1 consecutive shared character
 * k-grams. So:
 *
 *  1. per-doc k-gram hash table `(id, pos, h)` — built scan-side as a
 *     NARROW per-row transform over the normalized text (no join against
 *     shifted copies), then posexploded;
 *  2. stop-hash document-frequency cap BEFORE the hash self-join (same
 *     MOSS-style rule as Winnowing.matchPairs — a k-gram in m docs emits
 *     m²/2 pair rows; boilerplate k-grams carry no pair-specific signal);
 *  3. self-join on h (doc_a < doc_b): matched positions (pa, pb) of a
 *     shared substring lie on one DIAGONAL pa-pb = const, at consecutive
 *     pa — the standard islands trick (pa - row_number over the diagonal,
 *     ordered by pa) labels each maximal run;
 *  4. run length r k-grams => shared substring of r+k-1 chars; keep pairs
 *     whose longest run reaches minLen.
 *
 * Scale shape: the shuffles carry (id, pos, 60-bit hash) triples, never
 * text; join volume is linear in true overlap once the df cap removes
 * boilerplate keys; the diagonal window partitions by (doc_a, doc_b, diag) —
 * many small groups, no corpus-wide sort. At 100 TB, k-gram tables for the
 * BIG side stream from the scan (no materialization), and the df cap is the
 * same knob the provenance join already exposes.
 *
 * Measured cost anatomy at sf0.1 (tools/KgramCardProbe + SubstrBreakdown,
 * round 5, anti-join cap shape, best-of-3 warm): the corpus is
 * pathologically dense — 1.45M k-gram positions over only 13,005 distinct
 * hashes, 98% of them cross-doc-shared — and the df-64 cap removes the
 * 3,758 hot hashes carrying ~1.28M positions, shrinking the self-join input
 * 1.45M → 168k rows (8.6×). What remains is inherent match volume: scan
 * 0.38 s, hot-set countDistinct agg ~1.1 s, self-join ~0.8 s emitting 2.27M
 * (pair, diagonal, position) matches, islands window ~1.7 s over those —
 * a pre-window count-filter on diagonals would shuffle the same rows on the
 * same key as the window itself, so there is nothing left to cut without
 * changing semantics. Real web corpora are ~2³¹-sparse in this hash space;
 * the dense synthetic corpus is the operator's worst case.
 *
 * Hash family: the DEFAULT path ([[kgramHashTable]]) uses the engine's
 * portable 31-bit rolling polynomial (`h·131 + codepoint mod 2³¹−1` — the
 * winnow kernel's hash), so per cross-doc position pair the collision odds
 * are ~2⁻³¹, NOT md5-grade; only the witness form ([[kgramHashTableMd5]])
 * carries 60 md5 bits. Because one colliding position alone would qualify
 * as a length-k "run", the operators require `minLen > k`: a false run then
 * needs ≥ 2 CONSECUTIVE independent collisions (~2⁻⁶² per position pair),
 * collapsing the false-pair rate back below the md5 witness's. Both engines
 * hash identically, so the DuckDB oracle (`q_shared_substrings`) agrees
 * bit-for-bit even on a collision.
 */
object SubstringDup {

  /** Per-position k-gram hashes of the normalized text: `(idCol, pos, h)`
    * with pos 1-based; docs shorter than k yield no rows. Production path:
    * the native `kgram_hashes` rolling-hash kernel — O(n) per doc, the
    * whole hash array in one codegen'd scan-side call. */
  def kgramHashTable(docs: DataFrame, k: Int,
                     idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame = {
    require(k >= 1, s"k-gram size must be >= 1, got $k")
    org.apache.spark.sql.graft.NativeFunctions.register(docs.sparkSession)
    // conditional fan-out before the rolling-hash explode (round 7): the kg
    // subtree re-executes once per consumer (hot-set agg + both self-join
    // sides), each time on the raw scan's partitioning — at probe scale one
    // core runs the explode and every map-side partial above it three
    // times; no-op whenever the scan is already parallel. The k-gram hash
    // keys are near-unique, so the fan-out costs the downstream partial
    // aggregations nothing (no map-side combine to dilute).
    graft.pipeline.Fanout.fanout(docs.select(col(idCol), col(textCol)), col(idCol))
      .select(col(idCol),
        posexplode(call_function("kgram_hashes", col(textCol), lit(k))).as(Seq("p0", "h")))
      .select(col(idCol), (col("p0") + 1).as("pos"), col("h"))
  }

  /** md5-hash restatement of [[kgramHashTable]] — O(n·k) digest work per
    * doc; kept as the portable-Column equivalence witness (same (id, pos)
    * keys, engine-independent hash family). */
  def kgramHashTableMd5(docs: DataFrame, k: Int,
                        idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame = {
    require(k >= 1, s"k-gram size must be >= 1, got $k")
    val nt = graft.dedup.Dedup.normalizeText(col(textCol))
    val grams = graft.dedup.Dedup.let(nt) { t =>
      when(length(t) >= k,
        transform(sequence(lit(1), length(t) - k + 1),
          i => conv(substring(md5(substring(t, i, lit(k))), 1, 15), 16, 10).cast("long")))
        .otherwise(array().cast("array<long>"))
    }
    docs.select(col(idCol), posexplode(grams).as(Seq("p0", "h")))
      .select(col(idCol), (col("p0") + 1).as("pos"), col("h"))
  }

  /** Maximal shared-k-gram runs of >= `minLen` chars per (doc_a, doc_b,
    * diagonal): `(doc_a, doc_b, diag, run_chars, pa_start, pb_start)` —
    * the shared core of detection ([[sharedSubstringPairs]]) and removal
    * ([[duplicateRunIntervals]]). */
  private def sharedRuns(docs: DataFrame, minLen: Int, k: Int,
                         maxDocFreq: Long, idCol: String,
                         textCol: String): DataFrame = {
    require(minLen > k,
      s"minLen ($minLen) must be > k ($k): at minLen == k a single cross-doc " +
        "31-bit hash collision would qualify as a shared run on its own")
    // NOTE on recompute-vs-materialize: the kg subtree feeds the df-cap agg
    // and both self-join sides, so the plan re-executes the scan→explode
    // chain; an explicit localCheckpoint of kg/capped was MEASURED SLOWER
    // at sf0.1 (4.45 s → 5.26 s best-warm) — the narrow codegen'd rebuild
    // is cheaper than materializing ~10⁷ (id, pos, h) rows, so recompute is
    // the chosen trade until the input text no longer fits the scan cache
    val kg = kgramHashTable(docs, k, idCol, textCol)
    val capped = dropHotHashes(kg, maxDocFreq, idCol)
    // shuffle_hash: BOTH self-join sides are the corpus-sized exploded
    // k-gram table, but Catalyst's size estimate of a Generate subtree
    // derives from the compressed parquet scan underneath it — a few MB —
    // so AQE happily BROADCASTS one side (measured in the decade probe:
    // the sibling selfRuns join broadcast 13.5M rows at sf1, 28× the
    // sf0.1 wall time instead of ~10×, and a guaranteed driver OOM at real
    // scale). The hint pins the only shape that survives: co-partition on
    // the join key and hash-join per partition.
    val a = capped.select(col("h"), col(idCol).as("doc_a"), col("pos").as("pa"))
    val matches = a.join(
        capped.select(col("h"), col(idCol).as("doc_b"), col("pos").as("pb"))
          .hint("shuffle_hash"), "h")
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("pa"), col("pb"),
        (col("pa") - col("pb")).as("diag"))
    runsFromMatches(matches, minLen, k)
  }

  /** Stop-hash df cap in the HOT-SET ANTI-JOIN shape (the
    * [[Winnowing.matchPairs]] discipline): aggregate the distinct-doc
    * frequency per hash, keep only the hashes OVER the cap — bounded by
    * |kgrams| / maxDocFreq rows, and in practice far smaller: a hash is hot
    * only when ≥ cap distinct docs share its k-gram, so the set is the
    * corpus's boilerplate vocabulary, which saturates rather than growing
    * with corpus size — and LEFT-ANTI join the k-gram table against it
    * (the explicit broadcast hint asserts exactly that saturation; drop it
    * together with the cap via `maxDocFreq <= 0` if a corpus breaks it). The previous inner join against the sub-cap
    * set (the LARGE side: most hashes are under any sane cap) shuffled the
    * full ~10⁷-row k-gram table against a ~10⁶-row agg output once per
    * self-join side and left AQE free to flip to a sort-merge join under
    * heap pressure (the 6× bench drift of BENCH_r04); the anti join keeps
    * `capped` a narrow broadcast-probed pass over the scan-side k-grams.
    * `maxDocFreq <= 0` disables the cap (exhaustive — bounded inputs only).
    * Distinct-doc counting matters: a doc repeating its own k-gram must not
    * push the hash over the cap. */
  private def dropHotHashes(kg: DataFrame, maxDocFreq: Long, idCol: String): DataFrame =
    if (maxDocFreq <= 0L) kg
    else {
      // NOTE: `capped` sits on both self-join sides, so the hot-set
      // aggregation executes once per side (plan-audited). A localCheckpoint
      // of the tiny hot set was MEASURED NEUTRAL at sf0.1 (3.41 s vs 3.20 s
      // best-warm — inside host noise) and eager materialization would make
      // building the plan trigger a job, so recompute keeps the API lazy
      val hot = kg.groupBy(col("h"))
        .agg(countDistinct(col(idCol)).as("__df"))
        .filter(col("__df") > maxDocFreq)
        .select(col("h"))
      kg.join(broadcast(hot), Seq("h"), "left_anti")
    }

  /** The islands tail shared by [[sharedRuns]] and the prefiltered variant:
    * matched positions → maximal diagonal runs of >= minLen chars.
    *
    * Round-7 shape: a COUNT window + filter sits between the exchange and
    * the islands machinery. A qualifying run needs >= minLen-k+1
    * CONSECUTIVE positions on its diagonal, so a diagonal whose TOTAL
    * match count is under that can emit nothing — and measured at sf0.1
    * (tools/DiagProbe) only 190 of 1,848,339 diagonal groups (7,424 of
    * 2,271,394 match rows) survive. The count window shares the islands
    * window's exchange and group-delimiting sort (same partition keys),
    * so the filter costs one streaming pass; what it buys is the expensive
    * tail — the row_number window and ESPECIALLY the islands hash
    * aggregation (formerly ~1.8M one-row groups of allocation churn) now
    * touch only the surviving rows. (A full collect_list-aggregation
    * replacement was measured SLOWER — the sort is cheaper than
    * per-group list allocation at this group count; this keeps the sort
    * and cuts everything after it.) Semantics unchanged: the filter keeps
    * every row of each surviving diagonal, so island labeling within a
    * group is untouched (brute-force-LCS equivalence in SubstringDupSpec
    * still pins the outputs).
    */
  private def runsFromMatches(matches: DataFrame, minLen: Int, k: Int): DataFrame = {
    val minRun = minLen - k + 1
    val wd = Window.partitionBy(col("doc_a"), col("doc_b"), col("diag"))
    // islands: within a diagonal, consecutive pa values share pa - row_number
    val w = wd.orderBy(col("pa"))
    matches
      .withColumn("__dn", count(lit(1)).over(wd))
      .filter(col("__dn") >= minRun)
      .withColumn("island", col("pa") - row_number().over(w))
      .groupBy(col("doc_a"), col("doc_b"), col("diag"), col("island"))
      .agg(count(lit(1)).as("run_kgrams"), min(col("pa")).as("pa_start"))
      .withColumn("run_chars", col("run_kgrams") + (k - 1))
      .filter(col("run_chars") >= minLen)
      .select(col("doc_a"), col("doc_b"), col("diag"), col("run_chars"),
        col("pa_start"), (col("pa_start") - col("diag")).as("pb_start"))
  }

  /**
   * Winnowing-prefiltered form of [[sharedSubstringPairs]] — the scale
   * path: candidate doc pairs come from the SPARSE winnow fingerprint index
   * (density ≈ 2/(w+1) of the k-gram table) and only candidate pairs pay
   * the dense position-level join. EXACT, not approximate, for
   * `minLen >= 2k - 1`: the winnowing guarantee (SWA'03, property-tested in
   * WinnowingSpec) says any substring of length w+k-1 shared by two docs
   * selects at least one common fingerprint, so with w = k every qualifying
   * run produces a candidate pair.
   *
   * Cap nuance: `maxDocFreq` applies to BOTH hash surfaces (winnowed
   * candidates and dense verification), so a pair whose entire overlap is
   * boilerplate-hot can be dropped at either stage — same curation intent,
   * slightly different cut surface than the plain form's dense-only cap;
   * with no hot hashes the two forms are output-identical (spec-asserted).
   *
   * MEASURED at sf0.1 (tools/SubstrProbe, anti-join cap shape): 4.25 s vs
   * the plain form's 3.20 s — at bench scale the candidate index costs more
   * than it saves
   * because the df cap already leaves ~0 qualifying pairs, so the plain
   * form stays the default. The crossover favors this form when the dense
   * self-join's match volume (Σ_h cnt_a·cnt_b over candidate-dense hashes)
   * dominates the ≈4.5×-sparser fingerprint index — the 100 TB shape where
   * most docs share no substring and candidates are rare.
   */
  def sharedSubstringPairsPrefiltered(docs: DataFrame, minLen: Int, k: Int = 8,
                                      maxDocFreq: Long = 64L,
                                      idCol: String = "doc_id",
                                      textCol: String = "text"): DataFrame = {
    require(minLen >= 2 * k - 1,
      s"winnow prefilter is exact only for minLen ($minLen) >= 2k-1 (${2 * k - 1})")
    val spark = docs.sparkSession
    val fp = Winnowing.fingerprintTable(spark,
      docs.select(col(idCol), col(textCol)), k = k, w = k, idCol, textCol)
    val cand = Winnowing.matchPairs(fp, minShared = 1L, idCol, maxDocFreq)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
    val kg = kgramHashTable(docs, k, idCol, textCol)
    val capped = dropHotHashes(kg, maxDocFreq, idCol)
    val a = capped.select(col(idCol).as("doc_a"), col("pos").as("pa"), col("h"))
    val b = capped.select(col(idCol).as("doc_b"), col("pos").as("pb"), col("h"))
    // the k-gram sides must never be the broadcast build (corpus-sized
    // under a scan-derived size estimate — see sharedRuns)
    val matches = cand.join(a.hint("shuffle_hash"), "doc_a")
      .join(b.hint("shuffle_hash"), Seq("doc_b", "h"))
      .select(col("doc_a"), col("doc_b"), col("pa"), (col("pa") - col("pb")).as("diag"))
    runsFromMatches(matches, minLen, k)
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_runs"), max(col("run_chars")).as("max_run_chars"))
  }

  /**
   * Doc pairs sharing an exact substring of >= `minLen` characters:
   * `(doc_a, doc_b, n_runs, max_run_chars)` — number of maximal shared runs
   * reaching the threshold and the longest one's character length.
   */
  def sharedSubstringPairs(docs: DataFrame, minLen: Int, k: Int = 8,
                           maxDocFreq: Long = 64L,
                           idCol: String = "doc_id",
                           textCol: String = "text"): DataFrame =
    pairsFromRuns(sharedRuns(docs, minLen, k, maxDocFreq, idCol, textCol))

  /** Detection tail: qualifying runs → per-pair report. */
  private def pairsFromRuns(runs: DataFrame): DataFrame =
    runs.groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_runs"), max(col("run_chars")).as("max_run_chars"))

  /**
   * Detection report AND removal intervals from ONE runs computation — for
   * callers wanting both (an audit report plus the cut; the contract
   * queries `q_shared_substrings`/`q_dup_intervals` are separate by the
   * driver's design and keep recomputing). The shared `runs` frame is
   * localCheckpoint-ed: unlike the kg subtree (where materialization was
   * measured slower than recompute — see [[sharedRuns]]), runs is the
   * POST-FILTER islands output — a few rows per genuinely-overlapping pair,
   * tiny at any scale — so materializing it once is strictly cheaper than
   * re-running the whole hash-join+window pipeline for the second consumer
   * (MEASURED at sf0.1, tools/SubstrProbe, anti-join cap shape: combined
   * 3.38 s vs 5.85 s for the two queries run separately — 1.7×; re-measured
   * per the round-4 note since the join-shape fix could have flipped the
   * trade). Returns (pairs, intervals) with
   * the same schemas as [[sharedSubstringPairs]] / [[duplicateRunIntervals]].
   */
  def detectAndIntervals(docs: DataFrame, minLen: Int, k: Int = 8,
                         maxDocFreq: Long = 64L,
                         idCol: String = "doc_id",
                         textCol: String = "text"): (DataFrame, DataFrame) = {
    val runs = sharedRuns(docs, minLen, k, maxDocFreq, idCol, textCol).localCheckpoint()
    (pairsFromRuns(runs), intervalsFromRuns(runs, idCol))
  }

  /**
   * The dedup ACTION derived from the runs (Lee et al.'s cut step): for
   * every shared run the LOWER doc id keeps its copy (doc_a < doc_b by
   * construction) and doc_b's occurrence becomes a removal interval
   * `[start_pos, end_pos)` (1-based, normalized-text coordinates).
   * Per-doc overlapping/adjacent intervals are merged with the cumulative-
   * max islands trick (one window + one aggregation — no per-doc loops):
   * an interval starts a new merge group iff its start exceeds the max end
   * of every earlier interval. Output: `(idCol, start_pos, end_pos)`.
   */
  def duplicateRunIntervals(docs: DataFrame, minLen: Int, k: Int = 8,
                            maxDocFreq: Long = 64L,
                            idCol: String = "doc_id",
                            textCol: String = "text"): DataFrame =
    intervalsFromRuns(sharedRuns(docs, minLen, k, maxDocFreq, idCol, textCol), idCol)

  /** Removal tail: qualifying runs → merged per-doc cut intervals. */
  private def intervalsFromRuns(runs: DataFrame, idCol: String): DataFrame = {
    // DISTINCT before the merge window: several partner docs can contribute
    // the IDENTICAL interval (the same duplicated block shared with each),
    // and duplicate (s, e) sort keys make a ROWS-frame running window
    // engine-order-sensitive (observed as an intermittent DuckDB parallel-
    // window misordering); tie-peers carry no information for merging
    val iv = runs
      .select(col("doc_b").as(idCol), col("pb_start").as("s"),
        (col("pb_start") + col("run_chars")).as("e"))
      .distinct()
    val w = Window.partitionBy(col(idCol)).orderBy(col("s"), col("e"))
    val cm = max(col("e")).over(w.rowsBetween(Window.unboundedPreceding, -1))
    iv.withColumn("brk", when(cm.isNull || col("s") > cm, 1L).otherwise(0L))
      .withColumn("grp",
        sum(col("brk")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(idCol), col("grp"))
      .agg(min(col("s")).cast("long").as("start_pos"), max(col("e")).cast("long").as("end_pos"))
      .select(col(idCol), col("start_pos"), col("end_pos"))
  }

  /**
   * Apply the removal intervals: every doc's normalized text with its
   * duplicated spans cut out (`deduped_text`; docs with nothing to cut pass
   * through). The cut is a pure Column fold over the doc's sorted interval
   * list — `aggregate` walks the intervals left-to-right keeping the text
   * between them — so the whole step is scan-side after one broadcast-sized
   * join per doc with intervals (interval rows exist ONLY for docs with
   * detected duplication, a tiny fraction of the corpus).
   */
  def removeDuplicateRuns(docs: DataFrame, minLen: Int, k: Int = 8,
                          maxDocFreq: Long = 64L,
                          idCol: String = "doc_id",
                          textCol: String = "text"): DataFrame =
    applyIntervals(docs,
      duplicateRunIntervals(docs, minLen, k, maxDocFreq, idCol, textCol),
      idCol, textCol)

  /** The cut tail shared by [[removeDuplicateRuns]] and
    * [[removeSelfRepeats]]: apply an `(idCol, start_pos, end_pos)` interval
    * table to the docs' normalized text. */
  private def applyIntervals(docs: DataFrame, intervals: DataFrame,
                             idCol: String, textCol: String): DataFrame = {
    val ivs = intervals
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(col("start_pos").as("s"), col("end_pos").as("e"))))
        .as("__ivs"))
    val nt = graft.dedup.Dedup.normalizeText(col(textCol))
    docs.join(ivs, Seq(idCol), "left")
      .withColumn("__nt", nt)
      .withColumn("deduped_text",
        when(col("__ivs").isNull, col("__nt")).otherwise(
          graft.dedup.Dedup.let(col("__nt")) { t =>
            aggregate(col("__ivs"),
              struct(lit(1L).as("p"), lit("").as("acc")),
              (a, iv) => struct(iv("e").as("p"),
                concat(a("acc"), substr(t, a("p"), iv("s") - a("p"))).as("acc")),
              a => concat(a("acc"), substr(t, a("p"), (length(t) + 1) - a("p"))))
          }))
      .drop("__ivs", "__nt")
  }

  // ---- within-doc self-repetition (the Lee'22 within-doc case) ----

  /** Maximal WITHIN-doc repeated-k-gram runs of >= `minLen` chars — the
    * self-repetition half of Lee et al.'s substring dedup, which the
    * cross-doc operators deliberately exclude (`doc_a < doc_b`): a doc
    * repeating its own paragraph (template pages, scraper loops, LM
    * degeneration) matches at `pa < pb` on the SAME doc; the islands trick
    * over `(id, diag = pa - pb)` labels maximal runs exactly as in
    * [[sharedRuns]] (the shared `runsFromMatches` tail, with
    * `doc_a = doc_b = id`). `maxOcc` caps a k-gram's occurrences WITHIN a
    * doc (per-(id, h) count, anti-joined like the stop-hash rule): a doc
    * repeating one k-gram m times emits m²/2 pair rows, and such hashes are
    * the doc's own boilerplate — same MOSS argument, scoped per doc. The
    * cross-doc df cap does NOT apply here (a corpus-common k-gram can still
    * be a genuine within-doc repeat). */
  private def selfRuns(docs: DataFrame, minLen: Int, k: Int,
                       maxOcc: Long, idCol: String, textCol: String): DataFrame = {
    require(minLen > k,
      s"minLen ($minLen) must be > k ($k): at minLen == k a single in-doc " +
        "31-bit hash collision would qualify as a repeat run on its own")
    val kg = kgramHashTable(docs, k, idCol, textCol)
    val capped =
      if (maxOcc <= 0L) kg
      else {
        // hot (id, h) pairs — k-grams a single doc repeats more than maxOcc
        // times. Not hinted broadcast (the set is bounded by positions /
        // maxOcc, not by a saturating vocabulary); AQE picks broadcast when
        // it is small, and the anti join stays narrow either way.
        val hot = kg.groupBy(col(idCol), col("h"))
          .agg(count(lit(1)).as("__occ"))
          .filter(col("__occ") > maxOcc)
          .select(col(idCol), col("h"))
        // shuffle_hash (not AQE's choice): the hot set is bounded by
        // positions/maxOcc — corpus-scale at 100 TB, not saturating — and
        // the anti join co-partitions on (id, h), the exact partitioning
        // the self-join below needs, so the exchange is reused
        kg.join(hot.hint("shuffle_hash"), Seq(idCol, "h"), "left_anti")
      }
    val a = capped.select(col(idCol), col("pos").as("pa"), col("h"))
    val b = capped.select(col(idCol), col("pos").as("pb"), col("h"))
    // shuffle_hash: see sharedRuns — Catalyst sizes the exploded k-gram
    // subtree at its parquet-scan bytes and BROADCASTS a corpus-sized side
    // otherwise (measured: 13.5M rows broadcast at sf1, 28× instead of
    // ~10× the sf0.1 time; an OOM at real scale)
    val matches = a.join(b.hint("shuffle_hash"), Seq(idCol, "h"))
      .filter(col("pa") < col("pb"))
      .select(col(idCol).as("doc_a"), col(idCol).as("doc_b"),
        col("pa"), col("pb"), (col("pa") - col("pb")).as("diag"))
    runsFromMatches(matches, minLen, k)
  }

  /** Per-doc self-repetition report: `(idCol, n_runs, max_run_chars)` for
    * docs containing an exact repeated substring of >= `minLen` chars. */
  def selfRepeats(docs: DataFrame, minLen: Int, k: Int = 8,
                  maxOcc: Long = 64L,
                  idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    selfRuns(docs, minLen, k, maxOcc, idCol, textCol)
      .groupBy(col("doc_a").as(idCol))
      .agg(count(lit(1)).as("n_runs"), max(col("run_chars")).as("max_run_chars"))

  /** Merged removal intervals for the LATER occurrence of each within-doc
    * repeat (`pa < pb` by construction, so the pb side loses — the first
    * occurrence keeps its copy, the Lee'22 cut rule): `(idCol, start_pos,
    * end_pos)`, 1-based normalized-text coordinates. */
  def selfRepeatIntervals(docs: DataFrame, minLen: Int, k: Int = 8,
                          maxOcc: Long = 64L,
                          idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    intervalsFromRuns(selfRuns(docs, minLen, k, maxOcc, idCol, textCol), idCol)

  /** Apply the self-repeat cut: each doc's normalized text with the later
    * occurrences of its internal repeats removed (`deduped_text`; docs with
    * nothing to cut pass through). Periodic text ("abc" × m) collapses to
    * its leading period: overlapping same-diag matches merge into one
    * interval starting at the second period. */
  def removeSelfRepeats(docs: DataFrame, minLen: Int, k: Int = 8,
                        maxOcc: Long = 64L,
                        idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    applyIntervals(docs,
      selfRepeatIntervals(docs, minLen, k, maxOcc, idCol, textCol),
      idCol, textCol)
}
