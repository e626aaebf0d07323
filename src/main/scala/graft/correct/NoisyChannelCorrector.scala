package graft.correct

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.gen.NoiseChannel

/**
 * Noisy-channel corrector (BASELINE.json north_star, SURVEY.md §2.10 U4):
 * for an OOV token pick `argmax_clean P(clean) · P(noisy | clean)` over the
 * vocabulary words within edit range, where the channel likelihood uses
 * per-edit-type confusion weights derived from the generative 0.12 channel
 * itself (`make_messy_dataset.py:20-31`): P(edit)=0.12 split uniformly over
 * 4 types; CHANGE/INSERT spread uniformly over the good-char alphabet.
 *
 * This replaces beam-search decoding for token-level correction: the
 * candidate search bounds the candidate space exactly, so instead of
 * beam-pruning an unbounded decode we score every candidate within edit
 * range with the exact weighted alignment DP — a strictly stronger search at
 * the same asymptotic cost. Search widens progressively (maxDist = 1, 2,
 * then [[NoisyChannelModel.MaxWidth]] = 3) and stops at the first radius
 * with candidates: nearly all OCR errors sit at distance 1-2.
 *
 * Every neighbourhood search, single words and both sides of a split, goes
 * through [[candidatesWithin]]:
 *  - widths up to the index's radius for tokens of at most 64 code points:
 *    the symmetric-delete [[DeleteIndex]], exact by construction (see its
 *    scaladoc), so its candidate set equals the trie walk's. The radius is
 *    the largest of 3, 2 and 1 whose entry count fits
 *    [[DeleteIndex.Budget]] (2^24 entries, counted before building);
 *  - wider searches, tokens over 64 code points, and vocabularies over the
 *    radius-1 budget: the [[TokenTrie]] walk;
 *  - no candidate within width 3 and no split: the nearest-word scan of
 *    [[DictionaryModel]].
 * Every candidate set is selected by the full (score, word) order, so the
 * source of the set cannot change the winner.
 */
final class NoisyChannelModel(
    val vocab: Map[String, Long],
    val minFrequency: Long,
    goodCharsCount: Int) extends TokenModel {

  import NoisyChannelModel._

  @transient private lazy val pruned: Map[String, Long] =
    vocab.filter(_._2 >= minFrequency)
  /** Built on the executor at first use: only searches the index does not
    * serve reach it. */
  @transient lazy val trie: TokenTrie = TokenTrie.build(pruned)
  /** Built on the executor like the trie, never broadcast; at the largest
    * radius up to [[MaxWidth]] that fits [[DeleteIndex.Budget]], None when
    * not even radius 1 fits. */
  @transient private[graft] lazy val index: Option[DeleteIndex] =
    DeleteIndex.build(pruned, MaxWidth)
  @transient private lazy val totalFreq: Double =
    math.max(pruned.valuesIterator.sum.toDouble, 1.0)
  @transient private lazy val fallback: DictionaryModel =
    new DictionaryModel(vocab, minFrequency)

  @transient lazy val memo = new java.util.concurrent.ConcurrentHashMap[String, String]()

  // per-op log weights of the generative channel
  private val logMatch = math.log(1.0 - NoiseChannel.EditChance)           // 0.88
  private val pOp = NoiseChannel.EditChance / NoiseChannel.NEditTypes      // 0.03
  private val logSub = math.log(pOp / goodCharsCount)
  private val logIns = math.log(pOp / goodCharsCount)
  private val logDel = math.log(pOp)
  private val logSwap = math.log(pOp)

  /** Per-thread DP-row workspace for the channel alignment (round 7):
    * the scorer runs once per (token, candidate) pair — tens of DP calls
    * per hard token across search, split and wide paths — and three row
    * allocations per call made the kernel GC-bound at scan volumes. */
  @transient private lazy val dpRows = new ThreadLocal[Array[Array[Double]]] {
    override def initialValue(): Array[Array[Double]] = Array.empty
  }

  private def acquireRows(len: Int): Array[Array[Double]] = {
    var rows = dpRows.get()
    if (rows.length < 3 || rows(0).length < len) {
      rows = Array.ofDim[Double](3, math.max(len, 64))
      dpRows.set(rows)
    }
    rows
  }

  /** Exact weighted alignment: log P(noisy | clean) maximized over edit
    * scripts (OSA alignment with per-op channel weights). */
  def channelLogProb(noisy: String, clean: String): Double =
    channelLogProbCp(noisy.codePoints().toArray, clean)

  /** [[channelLogProb]] with the observed side pre-decoded — the scoring
    * loops decode the noisy token ONCE and score many candidates. */
  private def channelLogProbCp(a: Array[Int], clean: String): Double = {
    val b = clean.codePoints().toArray // hypothesis
    val m = a.length
    val n = b.length
    val NegInf = Double.MinValue / 4
    // dp(i)(j): best log-prob of producing a[0,i) from b[0,j)
    val rows = acquireRows(m + 1)
    var row2 = rows(0)
    var row1 = rows(1)
    var row0 = rows(2)
    java.util.Arrays.fill(row2, 0, m + 1, NegInf)
    var i = 0
    while (i <= m) { row1(i) = i * logIns; i += 1 } // produce leading noise by inserts
    var j = 1
    while (j <= n) {
      row0(0) = row1(0) + logDel // clean char deleted
      var k = 1
      while (k <= m) {
        val matchOrSub =
          row1(k - 1) + (if (a(k - 1) == b(j - 1)) logMatch else logSub)
        val del = row1(k) + logDel
        val ins = row0(k - 1) + logIns
        var best = math.max(math.max(matchOrSub, del), ins)
        if (j >= 2 && k >= 2 && a(k - 1) == b(j - 2) && a(k - 2) == b(j - 1)) {
          val swap = row2(k - 2) + logSwap
          if (swap > best) best = swap
        }
        row0(k) = best
        k += 1
      }
      val t = row2; row2 = row1; row1 = row0; row0 = t
      j += 1
    }
    row1(m)
  }

  def contains(token: String): Boolean = pruned.contains(token)

  /** All (word, freq, dist) within `width` of `token`: the index where it
    * serves the token and width, the trie otherwise (equal sets). */
  private[graft] def candidatesWithin(
      token: String, width: Int): scala.collection.mutable.ArrayBuffer[(String, Long, Int)] =
    index match {
      case Some(ix) if width <= ix.radius &&
          token.codePointCount(0, token.length) <= DeleteIndex.MaxToken =>
        ix.searchWithin(token, width)
      case _ => trie.searchWithin(token, width)
    }

  /** Best single-word candidate within `width`, scored by channel × prior;
    * returns (word, score) or null. A single candidate wins unscored — the
    * score only ranks alternatives (callers never compare across calls). */
  private def bestWithin(token: String, width: Int): (String, Double) = {
    val cands = candidatesWithin(token, width)
    if (cands.isEmpty) return null
    if (cands.length == 1) return (cands(0)._1, 0.0)
    val tokenCp = token.codePoints().toArray
    var bestTok: String = null
    var bestScore = Double.MinValue
    cands.foreach { case (w, f, _) =>
      val score = channelLogProbCp(tokenCp, w) + math.log(f / totalFreq)
      if (score > bestScore || (score == bestScore && (bestTok == null || w < bestTok))) {
        bestScore = score; bestTok = w
      }
    }
    (bestTok, bestScore)
  }

  /**
   * Segmentation hypothesis: the channel deletes/substitutes spaces, merging
   * adjacent words into one OOV token ("thecat", "thexcat"). Try every split
   * point, look each side up within edit radius 1 ([[candidatesWithin]]:
   * the index serves both sides whenever it exists), and score the TWO-WORD
   * clean string with the exact alignment DP (the deleted space is just one
   * more edit in the script) × both word priors. This is the decoding role
   * the north_star assigns to beam search, done exactly: the candidate space
   * is small enough to enumerate, so no beam pruning is needed.
   */
  private[graft] def splitCandidate(token: String): (String, Double) = {
    val cps = token.codePoints().toArray
    if (cps.length < 5) return null
    var best: String = null
    var bestScore = Double.MinValue
    var i = 2
    while (i <= cps.length - 2) {
      val lc = candidatesWithin(new String(cps, 0, i), 1)
      if (lc.nonEmpty) {
        val rc = candidatesWithin(new String(cps, i, cps.length - i), 1)
        lc.foreach { case (lw, lf, _) =>
          rc.foreach { case (rw, rf, _) =>
            val clean = lw + " " + rw
            val score = channelLogProbCp(cps, clean) +
              math.log(lf / totalFreq) + math.log(rf / totalFreq)
            if (score > bestScore || (score == bestScore && (best == null || clean < best))) {
              bestScore = score; best = clean
            }
          }
        }
      }
      i += 1
    }
    if (best == null) null else (best, bestScore)
  }

  /** Noisy-channel token inference (single word or recovered word pair). */
  def inferToken(token: String): String = {
    if (pruned.isEmpty) return token
    if (contains(token)) return token // exact hit (reference fast path :80)
    var width = 1
    while (width < MaxWidth) {
      val b = bestWithin(token, width)
      if (b != null) return b._1
      width += 1
    }
    // Nothing close as a single word. A successful split (each part within
    // edit 1 + the merge edit) is near-certainly right vs a 3-edit single
    // word, so the expensive width-3 searches run only when no split exists —
    // a documented decode heuristic that keeps the unresolved-token path
    // cheap. Width 3 is then searched in full before the dictionary fallback.
    val split = splitCandidate(token)
    if (split != null) split._1
    else {
      val wide = bestWithin(token, MaxWidth)
      if (wide != null) wide._1 else fallback.inferToken(token)
    }
  }
}

object NoisyChannelModel {
  /** The widest single-word search before the dictionary fallback. */
  val MaxWidth = 3

  /** Collect + broadcast the vocabulary, pruned at `minFrequency`, as a
    * kernel model ([[TokenModel.broadcast]]). */
  def fromVocabDf(spark: SparkSession, vocabDf: DataFrame, minFrequency: Long,
                  goodCharsCount: Int = graft.gen.DocGen.goodChars.length): Broadcast[NoisyChannelModel] =
    TokenModel.broadcast(spark, vocabDf, minFrequency)(new NoisyChannelModel(_, minFrequency, goodCharsCount))
}
