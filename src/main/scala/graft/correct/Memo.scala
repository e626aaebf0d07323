package graft.correct

import java.util.concurrent.ConcurrentHashMap

/**
 * Size-bounded insert policy for the executor-wide inference memos.
 *
 * OCR-corrupted tokens are high-cardinality (near-unique per occurrence), so
 * an unbounded token→correction map grows with the data volume and would OOM
 * an executor over a 100 TB run. Token frequency is Zipf-distributed: the
 * head that carries virtually all of the memo's hit rate is inserted within
 * the first few million distinct tokens, so "stop inserting at the cap" keeps
 * the hit rate of an LRU without its per-hit bookkeeping or contention —
 * lookups stay lock-free reads, and past the cap the kernel simply computes
 * (bounded work per token via the trie/length-band search).
 */
object Memo {
  /** ~1M entries ≈ tens of MB of strings — negligible vs executor heap. */
  val Cap: Long = 1L << 20

  def putBounded(m: ConcurrentHashMap[String, String], k: String, v: String): Unit =
    if (m.mappingCount() < Cap) { m.put(k, v); () }

  /** One text through a memoized token kernel: whitespace-tokenize (trim +
    * split), correct each token (memo hit, or `infer` then a bounded
    * insert), join with single spaces. Null in, null out, as the other text
    * kernels: a null text span must not fail its whole task. */
  def correctSentence(text: String, memo: ConcurrentHashMap[String, String],
                      infer: String => String): String =
    if (text == null) null
    else {
      val toks = text.trim.split("\\s+")
      if (toks.length == 1 && toks(0).isEmpty) ""
      else toks.map { t =>
        var c = memo.get(t)
        if (c == null) { c = infer(t); putBounded(memo, t, c) }
        c
      }.mkString(" ")
    }
}
