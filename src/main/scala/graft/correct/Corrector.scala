package graft.correct

import graft.model.Span

/**
 * Correction kernel contract: a pure, serializable text transform that
 * [[correctDocs]] applies to the text spans of docs. Text spans may be
 * rewritten; media spans MUST pass through untouched (driver contract P7,
 * BASELINE.json north_rule).
 *
 * This is the Spark analog of the reference's model-inference slot —
 * `ray.put(model)` + per-sentence tasks (`dictionary_corrector.py:126-153`)
 * and the DataLoader-batched `model.correct(batch)` (`eval.py:36-48`) — run
 * inside `mapPartitions` over a broadcast model (SURVEY.md §2.10 U3/U4). The
 * production correctors are the one [[MemoCorrector]] over a broadcast
 * [[TokenModel]].
 */
trait Corrector extends Serializable {

  /** Correct one text. Default batch implementation calls this per row;
    * batched correctors override [[correctTexts]] instead. */
  def correctText(text: String): String

  /** Batched hook: override for kernels that want real batches (e.g. a
    * neural decoder). Must return exactly one output per input, in order. */
  def correctTexts(texts: Iterator[String]): Iterator[String] =
    texts.map(correctText)

  /** Doc-level transform: the text spans of each doc corrected in place,
    * media untouched, span order kept. Texts go through the BATCHED hook
    * ([[correctTexts]]) across a bounded group of docs, so a kernel that
    * amortizes per-batch setup (broadcast trie probe, neural decode) gets
    * real batches, not one call per span. The one batching loop: streaming
    * (`StreamingOps.correctDocs`), the checkpointed batch run and the
    * explode form (`CorrectionPipeline.correct`, one span row per "doc")
    * all call it, over their own row types. */
  final def correctDocs[D](docs: Iterator[D], spansOf: D => Seq[Span],
                           withSpans: (D, Seq[Span]) => D): Iterator[D] =
    docs.grouped(256).flatMap { group => // bounded: ~256 docs of text per batch
      val nText = group.iterator.map(spansOf(_).count(_.kind == Span.KindText)).sum
      if (nText == 0) group
      else {
        val texts = group.iterator.flatMap(
          spansOf(_).iterator.filter(_.kind == Span.KindText).map(_.text))
        val corrected = correctTexts(texts).toArray
        require(corrected.length == nText,
          s"corrector returned ${corrected.length} outputs for $nText inputs")
        var k = 0
        group.map { d =>
          withSpans(d, spansOf(d).map { s =>
            if (s.kind == Span.KindText) { val t = corrected(k); k += 1; s.copy(text = t) }
            else s
          })
        }
      }
    }
}

/** Identity corrector — the reference's null-corrector control
  * (`null_corrector.py:16-42`): establishes the CER floor any real
  * corrector must beat. */
object NullCorrector extends Corrector {
  override def correctText(text: String): String = text
}
