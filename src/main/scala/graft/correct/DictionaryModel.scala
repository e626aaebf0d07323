package graft.correct

import graft.text.DamerauLevenshtein

/**
 * Nearest-word dictionary model — the reference's `DictionaryCorrector`
 * (`/root/reference/src/baselines/dictionary_corrector.py:47-106`) kernel:
 * a token in the vocabulary (with freq >= minFrequency) passes through; an
 * OOV token is replaced by the vocabulary token minimizing Damerau-Levenshtein
 * distance, ties broken by higher frequency (reference :92-95) then token
 * ascending (OUR deterministic 3rd key — the reference falls back to dict
 * iteration order, which is nondeterministic; SURVEY.md §7 hard-part 2).
 *
 * The reference scans the ENTIRE vocabulary per OOV token, pruning only by
 * the running best via the length lower bound (:89-90). We exploit the same
 * bound structurally: candidates are bucketed by length and visited in order
 * of |len(candidate) - len(token)|, so the scan stops as soon as the length
 * gap alone exceeds the best score — typically visiting a few buckets.
 *
 * Each candidate's distance is the exact bit-parallel OSA of
 * [[DamerauLevenshtein.osaPattern]] for tokens of at most 64 code points
 * (the token compiled once per scan, a dozen word operations per candidate
 * code point), and the capped row DP above that. Both are exact wherever
 * the selection can use the value, so the argmin is the same either way.
 * [[NoisyChannelModel]] falls back to this scan for tokens with no word
 * within its widths and no split.
 */
final class DictionaryModel(
    val vocab: Map[String, Long],
    val minFrequency: Long) extends TokenModel {

  /** Length-bucketed candidates (code-point length), sorted by token so the
    * in-bucket scan meets ties in deterministic ascending-token order. */
  @transient private lazy val byLength: Map[Int, Array[(String, Long)]] =
    vocab.iterator
      .filter(_._2 >= minFrequency)
      .toArray
      .sortBy(_._1)
      .groupBy { case (t, _) => t.codePointCount(0, t.length) }

  @transient private lazy val maxLen: Int =
    if (byLength.isEmpty) 0 else byLength.keys.max

  @transient lazy val memo = new java.util.concurrent.ConcurrentHashMap[String, String]()

  def isEmpty: Boolean = !vocab.exists(_._2 >= minFrequency)

  def contains(token: String): Boolean =
    vocab.get(token).exists(_ >= minFrequency)

  /** Nearest-word correction of a single token. OOV with an empty (pruned)
    * vocabulary returns the input unchanged (the reference returns None and
    * would emit "None" — a bug we do not reproduce). */
  def inferToken(token: String): String = {
    if (contains(token)) return token
    if (isEmpty) return token
    val tokenLen = token.codePointCount(0, token.length)
    val tokenCp = token.codePoints().toArray
    val pattern =
      if (tokenCp.length <= DamerauLevenshtein.OsaMaxPattern) DamerauLevenshtein.osaPattern(tokenCp)
      else null
    var bestToken: String = null
    var bestScore = Int.MaxValue
    var bestFreq = -1L
    var gap = 0
    // visit buckets by increasing length gap; the gap is a lower bound on
    // distance, so once gap > bestScore nothing further can win
    while (gap <= bestScore && (tokenLen - gap >= 0 || tokenLen + gap <= maxLen)) {
      val lens = if (gap == 0) Seq(tokenLen) else Seq(tokenLen - gap, tokenLen + gap)
      lens.foreach { len =>
        if (len >= 0 && gap <= bestScore) byLength.get(len).foreach { bucket =>
          var i = 0
          while (i < bucket.length) {
            val (cand, freq) = bucket(i)
            // the capped DP (tokens over 64 code points) is exact when
            // <= bestScore and any value above it otherwise — a result
            // > bestScore fails BOTH the strict win and the tie test exactly
            // as the true distance would
            val score =
              if (pattern != null) pattern.distance(cand)
              else DamerauLevenshtein.distanceBandedCappedCp(
                tokenCp, cand.codePoints().toArray, if (bestScore == Int.MaxValue) Int.MaxValue - 1 else bestScore)
            // global argmin by (dist asc, freq desc, token asc) — the full
            // tuple, so the result is independent of bucket visit order and
            // provably equal to the relational min_by path
            if (score < bestScore || (score == bestScore &&
                (freq > bestFreq || (freq == bestFreq && cand < bestToken)))) {
              bestToken = cand; bestScore = score; bestFreq = freq
            }
            i += 1
          }
        }
      }
      gap += 1
    }
    if (bestToken == null) token else bestToken
  }
}
