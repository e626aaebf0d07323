package graft.model

/**
 * Core data model — the driver contract's interleaved-document shape
 * (BASELINE.json `input_hint`):
 * `(doc_id: string, spans: array<struct<kind, text, media_ref, offset>>)`.
 *
 * Maps the reference's parallel clean/messy line files + byte-offset split
 * CSV (`/root/reference/src/corpus/make_split_csv.py:17-20`,
 * `corrector_dataset.py:44-51`) into one columnar table (SURVEY.md §1.2).
 */
final case class Span(kind: String, text: String, media_ref: String, offset: Int)

object Span {
  val KindText  = "text"
  val KindMedia = "media"
}

final case class Doc(doc_id: String, spans: Seq[Span])

/** Doc with the derived noisy spans + split column (FIXTURES.md §1). */
final case class NoisyDoc(doc_id: String, spans: Seq[Span], noisy_spans: Seq[Span], split: String)

/** Flattened per-span view (one row per span) used by the correction kernel. */
final case class SpanRow(doc_id: String, offset: Int, kind: String, text: String, media_ref: String)

/** Per-text-span pair view — the analog of the reference's
  * `CorrectorDataset.__getitem__ -> (text_messy, text_clean)`. */
final case class PairRow(doc_id: String, offset: Int, split: String, text_noisy: String, text_clean: String)

/** CER metrics (reference: avg normalized distance + percent perfect,
  * eval.py:64-68, dictionary_corrector.py:154-155). */
final case class CerMetrics(n: Long, nPerfect: Long, sumNormDist: Double) {
  def +(o: CerMetrics): CerMetrics = CerMetrics(n + o.n, nPerfect + o.nPerfect, sumNormDist + o.sumNormDist)
  /** One more scored pair at distance `dist`
    * (`graft.pipeline.CheckpointedRun.normalizedDist`): perfect when 0, and
    * a row that adds to neither sum when NaN (a null side). */
  def add(dist: Double): CerMetrics =
    if (dist.isNaN) copy(n = n + 1)
    else CerMetrics(n + 1, nPerfect + (if (dist == 0.0) 1 else 0), sumNormDist + dist)
  def avgDistance: Double     = if (n == 0) 0.0 else sumNormDist / n
  def percentPerfect: Double  = if (n == 0) 0.0 else nPerfect.toDouble / n
}
