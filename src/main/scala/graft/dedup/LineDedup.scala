package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Sub-document exact deduplication — the C4/RefinedWeb line-and-span rule
 * (Raffel et al. JMLR'20 §2.2 discard all but one occurrence of any
 * repeated three-sentence span; Penedo et al. '23 drop repeated lines):
 * document-level dedup (D1–D6) misses boilerplate units REPEATED ACROSS
 * otherwise-distinct pages — navigation lines, license blocks, share
 * footers — which substring-level dedup (T10) finds but at position-level
 * join cost. This operator is the cheap middle: corpus-wide exact dedup of
 * NATURAL UNITS (lines, or fixed-width token segments where the corpus has
 * no line structure), keeping only the FIRST occurrence (min (doc_id,
 * unit_no)) of each duplicated unit.
 *
 * Scale shape: units reduce to (60-bit md5 fingerprint, doc_id, unit_no)
 * before any shuffle — unit TEXT never shuffles; the winner table is one
 * row per DISTINCT duplicated fingerprint (boilerplate vocabulary — it
 * saturates, like the substring stop-hash set, rather than growing with
 * corpus size); losers join back narrow and the cut is a scan-side
 * array-filter fold, touching only docs that lost a unit. Same 2⁻⁶⁰
 * fingerprint-collision contract as decontamination (T12).
 */
object LineDedup {

  /** 60-bit md5 fingerprint of a unit — the decontamination key trick
    * (portable: both engines hash the same bytes to the same BIGINT). */
  private def fp60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** The doc's normalized tokens in consecutive NON-overlapping
    * `width`-token segments, as one array column (last segment may be
    * shorter — the trailing fragment). Round 7: the native
    * `token_segments` kernel (one codegen'd call per row) replaces the
    * interpreted per-segment `array_join(slice(...))` lambda — bit-equal
    * arrays (witness at [[segmentsColWitness]], equivalence spec in
    * LineDedupSpec); the coalesce restores the witness's empty array for
    * null text. */
  private def segmentsCol(textCol: Column, width: Int): Column = {
    org.apache.spark.sql.graft.NativeFunctions.register(org.apache.spark.sql.SparkSession.active)
    coalesce(call_function("token_segments", textCol, lit(width)),
      array().cast("array<string>"))
  }

  /** Pure-Column witness of [[segmentsCol]] (the pre-kernel form). */
  private[graft] def segmentsColWitness(textCol: Column, width: Int): Column =
    Dedup.let(Dedup.tokens(textCol)) { toks =>
      when(size(toks) > 0,
        transform(sequence(lit(0), ceil(size(toks) / lit(width.toDouble)).cast("int") - 1),
          i => array_join(slice(toks, i * width + 1, lit(width)), " ")))
        .otherwise(array().cast("array<string>"))
    }

  /** Per-doc segment table `(idCol, unit_no, unit, n_tokens)` — unit_no is
    * 1-based; empty docs yield no rows. */
  def segmentTable(docs: DataFrame, width: Int,
                   idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(width >= 1, s"segment width must be >= 1, got $width")
    // (a Fanout.fanout before the segment kernel was MEASURED SLOWER at
    // sf0.1, q_dup_segments 0.49 → 0.65 s / q_seg_dedup 0.69 → 0.84 s warm
    // — the kernel is one pass over ~300 chars per row, below a stage)
    docs.select(col(idCol), posexplode(segmentsCol(col(textCol), width)).as(Seq("p0", "unit")))
      .select(col(idCol), (col("p0") + 1).as("unit_no"), col("unit"),
        (size(split(col("unit"), " "))).as("n_tokens"))
  }

  /** Per-doc line table `(idCol, unit_no, unit, n_tokens)`: raw-text split
    * on `sep` (default newline), each line normalized for fingerprinting by
    * the caller's downstream (the units carry the NORMALIZED form so the
    * whole family shares one canonical unit text). */
  def lineTable(docs: DataFrame, sep: String = "\n",
                idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(col(idCol),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
          .as(Seq("p0", "raw")))
      .select(col(idCol), (col("p0") + 1).as("unit_no"),
        Dedup.normalizeText(col("raw")).as("unit"))
      .withColumn("n_tokens", size(split(col("unit"), " ")))

  /**
   * Corpus-wide duplicate-unit LOSERS over any `(idCol, unit_no, unit,
   * n_tokens)` table: every occurrence of a duplicated unit EXCEPT the
   * first (min (idCol, unit_no) across the corpus). Units with fewer than
   * `minTokens` tokens are never candidates (trailing fragments, empty
   * lines, one-word navigation stubs — too short to treat as boilerplate
   * evidence). Output `(idCol, unit_no)`.
   */
  def duplicateUnitLosers(units: DataFrame, minTokens: Int,
                          idCol: String = "doc_id"): DataFrame = {
    val cand = units.filter(col("n_tokens") >= minTokens)
      .select(fp60(col("unit")).as("__fp"), col(idCol), col("unit_no"))
    // min(struct) = lexicographic (doc, unit_no) — the first occurrence;
    // restated in the oracle as the two-step min (min doc, then min
    // unit_no within it) to avoid cross-engine struct-comparison trust
    val winners = cand.groupBy(col("__fp"))
      .agg(min(struct(col(idCol), col("unit_no"))).as("__w"),
        count(lit(1)).as("__n"))
      .filter(col("__n") > 1)
    cand.join(winners, Seq("__fp"))
      .filter(struct(col(idCol), col("unit_no")) =!= col("__w"))
      .select(col(idCol), col("unit_no"))
  }

  /** [[duplicateUnitLosers]] over token segments: the report of
    * `(idCol, unit_no)` segment occurrences to cut. */
  def duplicateSegments(docs: DataFrame, width: Int = 10, minTokens: Int = 10,
                        idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    duplicateUnitLosers(segmentTable(docs, width, idCol, textCol), minTokens, idCol)

  /**
   * The dedup ACTION on token segments: every doc's normalized text with
   * its losing segments cut (`deduped_text`; docs that lost nothing pass
   * through with their normalized text). The cut is a scan-side indexed
   * array filter — only docs with losses join (the loser table is tiny),
   * and the rebuild is deterministic: kept segments re-joined in order.
   */
  def dedupSegments(docs: DataFrame, width: Int = 10, minTokens: Int = 10,
                    idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val losers = duplicateSegments(docs, width, minTokens, idCol, textCol)
      .groupBy(col(idCol))
      .agg(collect_set(col("unit_no")).as("__lost"))
    docs.join(losers, Seq(idCol), "left")
      .withColumn("deduped_text",
        Dedup.let(segmentsCol(col(textCol), width)) { segs =>
          when(col("__lost").isNull, array_join(segs, " "))
            .otherwise(array_join(
              // zip_with over the positions array: HOF filter has no
              // index-lambda form, so pair each segment with its 1-based
              // position and blank the losers, then drop the blanks
              filter(
                zip_with(segs, sequence(lit(1), size(segs)),
                  (s, i) => when(array_contains(col("__lost"), i), lit(null)).otherwise(s)),
                s => s.isNotNull),
              " "))
        })
      .drop("__lost")
  }

  /** Line-mode twins of [[duplicateSegments]]/[[dedupSegments]] for corpora
    * WITH line structure: losers over [[lineTable]] units, and the cut
    * rebuilt with the original separator. */
  def duplicateLines(docs: DataFrame, minTokens: Int = 3, sep: String = "\n",
                     idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    duplicateUnitLosers(lineTable(docs, sep, idCol, textCol), minTokens, idCol)

  def dedupLines(docs: DataFrame, minTokens: Int = 3, sep: String = "\n",
                 idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val losers = duplicateLines(docs, minTokens, sep, idCol, textCol)
      .groupBy(col(idCol))
      .agg(collect_set(col("unit_no")).as("__lost"))
    val sepLit = java.util.regex.Pattern.quote(sep)
    docs.join(losers, Seq(idCol), "left")
      .withColumn("deduped_text",
        Dedup.let(split(col(textCol), sepLit)) { lines =>
          when(col("__lost").isNull, col(textCol))
            .otherwise(array_join(
              filter(
                zip_with(lines, sequence(lit(1), size(lines)),
                  (s, i) => when(array_contains(col("__lost"), i), lit(null)).otherwise(s)),
                s => s.isNotNull),
              sep))
        })
      .drop("__lost")
  }
}
