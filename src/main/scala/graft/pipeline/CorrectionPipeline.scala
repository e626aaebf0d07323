package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.correct.Corrector
import graft.model._

/**
 * The flagship dataflow (SURVEY.md §3.3 / §7 step 3), in two forms:
 *
 *  - in place, per doc row (production, [[CheckpointedRun.run]]): text
 *    spans corrected inside each doc ([[graft.correct.Corrector.correctDocs]],
 *    media untouched) → spans sorted by [[sortSpans]] → CER scored in the
 *    same pass. Narrow: no shuffle at all.
 *  - explode → correct text spans (the same [[Corrector.correctDocs]] loop,
 *    one span row per doc) → reassemble per doc in offset order → CER join
 *    ([[run]], [[cer]]). Kept as the equivalence witness of the in-place
 *    form (CheckpointEquivalenceSpec) and for the traced benchmark run,
 *    which times these layers one by one.
 *
 * Both forms score a pair by the one rule,
 * [[CheckpointedRun.normalizedDist]]: equal texts 0 and perfect, an empty
 * clean text 1, a pair with a null side a row that adds to neither sum.
 *
 * Notes on the explode form:
 *  - explode is narrow; the ONE shuffle is the reassembly groupBy(doc_id).
 *  - reassembly uses `sort_array(collect_list(struct(offset, ...)))` —
 *    never bare collect_list, whose post-shuffle order is nondeterministic
 *    (SURVEY.md §7 hard-part 3).
 *  - pathological long docs (hot reassembly keys) are handled by the salted
 *    two-level variant [[reassembleSalted]]: pre-aggregate within
 *    (doc_id, offset-bucket) then merge buckets — bounded per-key payload at
 *    both levels, same result (equality-tested in PipelineSpec).
 */
object CorrectionPipeline {

  /** Flatten `(doc_id, spans)` to one row per span. Narrow (generator). */
  def explodeSpans(docs: DataFrame, spansCol: String = "spans"): Dataset[SpanRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(col("doc_id"), explode(col(spansCol)).as("span"))
      .select(
        col("doc_id"),
        col("span.offset").as("offset"),
        col("span.kind").as("kind"),
        col("span.text").as("text"),
        col("span.media_ref").as("media_ref"))
      .as[SpanRow]
  }

  /** Run the correction kernel over the flattened spans: each row goes
    * through [[Corrector.correctDocs]] as a doc of one span. Narrow. */
  def correct(spans: Dataset[SpanRow], corrector: Corrector): Dataset[SpanRow] = {
    val spark = spans.sparkSession
    import spark.implicits._
    spans.mapPartitions(corrector.correctDocs[SpanRow](_,
      r => Seq(Span(r.kind, r.text, r.media_ref, r.offset)), (r, s) => r.copy(text = s.head.text)))
  }

  private def spanStruct(prefix: Column): Column =
    struct(prefix("kind").as("kind"), prefix("text").as("text"),
      prefix("media_ref").as("media_ref"), prefix("offset").as("offset"))

  /** A doc's spans in the order [[reassemble]] gives them: the same
    * `sort_array` over `struct(offset, kind, text, media_ref)` (so ties on a
    * duplicate offset break by kind, then text), projected back to contract
    * field order. */
  def sortSpans(spans: Column): Column =
    transform(
      sort_array(transform(spans, s => struct(s("offset").as("offset"), s("kind").as("kind"),
        s("text").as("text"), s("media_ref").as("media_ref")))),
      spanStruct(_))

  /**
   * Reassemble `(doc_id, spans)` with spans in original `offset` order.
   * `sort_array` sorts structs lexicographically by field order, so `offset`
   * leads the sort struct and is projected back into contract field order
   * (kind, text, media_ref, offset) afterwards.
   */
  def reassemble(spans: Dataset[SpanRow]): DataFrame =
    spans
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("offset"), col("kind"), col("text"), col("media_ref")))).as("s"))
      .select(col("doc_id"), transform(col("s"), spanStruct(_)).as("spans"))

  /**
   * Two-level salted reassembly for skewed docs: bucket spans by
   * `offset / bucketSize`, pre-aggregate per (doc_id, bucket), then merge the
   * (few) bucket rows per doc. Each aggregation key carries at most
   * `bucketSize` spans at level 1 and `nBuckets` partial arrays at level 2 —
   * no single reduce task owns a whole pathological doc's payload while the
   * heavy (string-concatenation-sized) data is being grouped.
   */
  def reassembleSalted(spans: Dataset[SpanRow], bucketSize: Int = 64): DataFrame = {
    val partial = spans
      .withColumn("bucket", (col("offset") / lit(bucketSize)).cast("int"))
      .groupBy(col("doc_id"), col("bucket"))
      .agg(sort_array(collect_list(struct(col("offset"), col("kind"), col("text"), col("media_ref")))).as("part"))
    partial
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("bucket"), col("part")))).as("parts"))
      .select(col("doc_id"),
        transform(flatten(col("parts.part")), spanStruct(_)).as("spans"))
  }

  /**
   * Driver-contract invariant: span-sequence equality on
   * `(kind, text, media_ref, order)` per doc. Returns violating doc_ids
   * (empty ⇔ invariant holds). Arrays are compared position-wise with
   * `offset` dropped — ORDER is positional, exactly the contract's wording.
   */
  def spanSequenceViolations(actual: DataFrame, expected: DataFrame): DataFrame = {
    def key(df: DataFrame, out: String) =
      df.select(col("doc_id"),
        transform(col("spans"), s => struct(s("kind"), s("text"), s("media_ref"))).as(out))
    key(actual, "a")
      .join(key(expected, "e"), Seq("doc_id"), "full_outer")
      .filter(not(col("a") <=> col("e")))
      .select(col("doc_id"))
  }

  /**
   * End-to-end: explode → correct → reassemble. `salted` switches the skew-
   * safe reassembly on (both produce identical results; salted is the scale
   * path when pathological long-span docs exist).
   */
  def run(docs: DataFrame, corrector: Corrector, spansCol: String = "spans",
          salted: Boolean = false, saltBucket: Int = 64): DataFrame = {
    val corrected = correct(explodeSpans(docs, spansCol), corrector)
    if (salted) reassembleSalted(corrected, saltBucket) else reassemble(corrected)
  }

  /**
   * CER metrics of corrected text spans vs their clean originals — the
   * reference's evaluate() (`dictionary_corrector.py:110-155`): each
   * corrected text span paired with every clean text span at its
   * `(doc_id, offset)`, scored by [[CerAggregator]]. Equals the totals of a
   * [[CheckpointedRun.run]] over the same docs.
   */
  def cer(correctedSpans: Dataset[SpanRow], cleanDocs: DataFrame,
          cleanSpansCol: String = "spans"): CerMetrics = {
    val spark = correctedSpans.sparkSession
    import spark.implicits._
    val clean = explodeSpans(cleanDocs, cleanSpansCol)
      .filter(col("kind") === Span.KindText)
      .select(col("doc_id"), col("offset"), col("text").as("text_clean"))
    val pairs = correctedSpans
      .filter(col("kind") === Span.KindText)
      .join(clean, Seq("doc_id", "offset"))
      .select(col("text"), col("text_clean"))
      .as[(String, String)]
    pairs.select(CerAggregator.column).head()
  }
}
