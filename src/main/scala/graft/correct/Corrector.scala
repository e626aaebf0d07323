package graft.correct

import graft.model.{Span, SpanRow}

/**
 * Correction kernel contract: a pure, serializable per-partition transform
 * over flattened span rows. Text spans may be rewritten; media spans MUST
 * pass through untouched (driver contract P7, BASELINE.json north_rule).
 *
 * This is the Spark analog of the reference's model-inference slot —
 * `ray.put(model)` + per-sentence tasks (`dictionary_corrector.py:126-153`)
 * and the DataLoader-batched `model.correct(batch)` (`eval.py:36-48`) — as a
 * single `mapPartitions` kernel over a broadcast model (SURVEY.md §2.10 U3/U4).
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
    * real batches, not one call per span. The one doc-level batching loop:
    * streaming (`StreamingOps.correctDocs`) and the checkpointed batch run
    * both call it, over their own doc types. */
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

  /** Partition transform: text spans through the kernel, media untouched.
    * One narrow pass — no filter/union split, no second scan. */
  final def correctPartition(rows: Iterator[SpanRow]): Iterator[SpanRow] = {
    // Batch text spans through correctTexts while streaming media rows in
    // order. Grouped to bound memory on pathological partitions.
    rows.grouped(1024).flatMap { group =>
      val textIdx = group.iterator.zipWithIndex.collect {
        case (r, i) if r.kind == Span.KindText => i
      }.toArray
      if (textIdx.isEmpty) group
      else {
        val corrected = correctTexts(textIdx.iterator.map(i => group(i).text)).toArray
        require(corrected.length == textIdx.length,
          s"corrector returned ${corrected.length} outputs for ${textIdx.length} inputs")
        val out = group.toArray
        var k = 0
        while (k < textIdx.length) {
          val i = textIdx(k)
          out(i) = out(i).copy(text = corrected(k))
          k += 1
        }
        out
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
