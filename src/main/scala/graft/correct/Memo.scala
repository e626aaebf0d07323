package graft.correct

import java.util.concurrent.ConcurrentHashMap

import scala.reflect.ClassTag

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

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
}

/** A token-level correction model: [[DictionaryModel]] and
  * [[NoisyChannelModel]]. Both correct a text through the one memoized
  * sentence loop, [[inferSentence]]. */
trait TokenModel extends Serializable {

  /** In the pruned vocabulary: passes through [[inferToken]] unchanged. */
  def contains(token: String): Boolean

  /** Correction of one whitespace-free token. */
  def inferToken(token: String): String

  /** Executor-wide inference memo, `@transient lazy` in the model. The
    * broadcast deserializes ONE model instance per executor JVM, so every
    * task on the executor reuses corrections: the Zipf head is shared across
    * partitions, and throughput does not degrade as the partition count
    * grows. Inserts stop at [[Memo.Cap]]. */
  def memo: ConcurrentHashMap[String, String]

  /** Sentence inference — the reference `__call__`
    * (`dictionary_corrector.py:100-106`): whitespace-tokenize (trim +
    * split), correct each token (memo hit, or [[inferToken]] then a bounded
    * insert), join with single spaces. Null in, null out, as the other text
    * kernels: a null text span must not fail its whole task. */
  final def inferSentence(text: String): String =
    if (text == null) null
    else {
      val toks = text.trim.split("\\s+")
      val m = memo
      if (toks.length == 1 && toks(0).isEmpty) ""
      else toks.map { t =>
        var c = m.get(t)
        if (c == null) { c = inferToken(t); Memo.putBounded(m, t, c) }
        c
      }.mkString(" ")
    }
}

object TokenModel {
  /** Collect the vocabulary `(token, freq)` pruned at `minFrequency` and
    * broadcast the model `make` builds over it — the Spark analog of the
    * reference's `ray.put(self)` (`dictionary_corrector.py:126`). */
  def broadcast[M <: TokenModel : ClassTag](spark: SparkSession, vocabDf: DataFrame,
      minFrequency: Long)(make: Map[String, Long] => M): Broadcast[M] = {
    val vocab = vocabDf.filter(col("freq") >= minFrequency)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    spark.sparkContext.broadcast(make(vocab))
  }
}

/** The corrector over a broadcast [[TokenModel]]: each text through the
  * model's memoized [[TokenModel.inferSentence]], the model read once per
  * batch. `NoisyChannelCorrector` and `DictionaryCorrector.corrector` name
  * it. */
final class MemoCorrector(bc: Broadcast[_ <: TokenModel]) extends Corrector {
  override def correctTexts(texts: Iterator[String]): Iterator[String] = {
    val model = bc.value
    texts.map(model.inferSentence)
  }
  override def correctText(text: String): String = bc.value.inferSentence(text)
}
