package graft.correct

import scala.collection.mutable

/**
 * Code-point trie over the vocabulary with Levenshtein-automaton-style
 * candidate generation: a DFS that carries a Damerau-Levenshtein (OSA) DP row
 * per node and prunes any subtree whose row minimum exceeds `maxDist` — the
 * classic trie ∩ Levenshtein-automaton intersection. Replaces the reference's
 * full-vocabulary scan per OOV token
 * (`/root/reference/src/baselines/dictionary_corrector.py:86-95`) with a
 * search that touches only the fraction of the trie within edit range
 * (BASELINE.json north_star: "broadcast dictionary trie with
 * Levenshtein-automaton candidate generation").
 *
 * In [[NoisyChannelModel]] the [[DeleteIndex]] serves every search up to
 * its radius for tokens of at most 64 code points, split sides included;
 * the trie is built only for what the index does not serve: widths above
 * the radius, longer tokens, and vocabularies over the radius-1
 * [[DeleteIndex.Budget]]. It is also the reference the index's candidate
 * sets are spec-checked against.
 */
final class TokenTrie private (root: TokenTrie.Node, val maxDepth: Int) extends Serializable {

  /**
   * All (word, freq, dist) with dist(word, token) <= maxDist.
   *
   * DP rows live in a per-search stack indexed by trie depth (siblings reuse
   * the same buffer once the previous subtree unwinds) — one allocation per
   * search instead of one per visited node, which matters: wide searches over
   * merged tokens visit thousands of nodes, and per-node allocation makes the
   * kernel GC-bound at high parallelism.
   *
   * The DP is COLUMN-BANDED (Ukkonen cut-off): at trie depth d only token
   * columns j with |j - d| <= maxDist are computed. Exact, not approximate —
   * every OSA edit op changes (j - d) by at most 1 and costs >= that drift,
   * so any out-of-band cell is > maxDist and can neither produce a result nor
   * re-enter the band below the threshold; the subtree prune on the in-band
   * minimum is therefore identical to the full-row prune. Cuts per-node work
   * from O(|token|) to O(maxDist).
   */
  def searchWithin(token: String, maxDist: Int): mutable.ArrayBuffer[(String, Long, Int)] = {
    val t = token.codePoints().toArray
    val n = t.length
    val W = maxDist
    val out = mutable.ArrayBuffer.empty[(String, Long, Int)]
    val depthCap = math.min(maxDepth, n + W) // deepest useful trie depth
    val rows = TokenTrie.rowCache.get().acquire(depthCap + 2, n + 1)
    var j = 0
    val hi0 = math.min(n, W)
    while (j <= hi0) { rows(0)(j) = j; j += 1 }
    val chars = new Array[Int](depthCap + 2) // node char per depth (for swap)

    // depth d = number of trie chars consumed; rows(d) = banded DP row of
    // that prefix — only cells in [max(0, d-W), min(n, d+W)] are live.
    def dfs(node: TokenTrie.Node, d: Int): Unit = {
      if (d + 1 > depthCap) return // any deeper word exceeds maxDist by length
      val row = rows(d)
      val parentRow = if (d >= 1) rows(d - 1) else null
      val nodeChar = if (d >= 1) chars(d) else -1
      val e = d + 1
      val loE = math.max(0, e - W); val hiE = math.min(n, e + W)
      val loD = math.max(0, d - W); val hiD = math.min(n, d + W)
      val loP = math.max(0, d - 1 - W); val hiP = math.min(n, d - 1 + W)
      var i = 0
      while (i < node.childChars.length) {
        val ch = node.childChars(i)
        val child = node.childNodes(i)
        val childRow = rows(e)
        var minV = Int.MaxValue / 4
        var jj = loE
        while (jj <= hiE) {
          var v = Int.MaxValue / 4
          if (jj == 0) v = row(0) + 1 // loE==0 ⇒ e <= W ⇒ row(0) live
          else {
            if (jj - 1 >= loE) { val ins = childRow(jj - 1) + 1; if (ins < v) v = ins }
            if (jj >= loD && jj <= hiD) { val del = row(jj) + 1; if (del < v) v = del }
            if (jj - 1 >= loD && jj - 1 <= hiD) {
              val sub = row(jj - 1) + (if (ch == t(jj - 1)) 0 else 1)
              if (sub < v) v = sub
            }
            if (jj >= 2 && nodeChar != -1 && ch == t(jj - 2) && nodeChar == t(jj - 1) &&
                jj - 2 >= loP && jj - 2 <= hiP) {
              val swap = parentRow(jj - 2) + 1
              if (swap < v) v = swap
            }
          }
          childRow(jj) = v
          if (v < minV) minV = v
          jj += 1
        }
        if (child.word != null && n <= hiE && n >= loE && childRow(n) <= maxDist)
          out += ((child.word, child.freq, childRow(n)))
        if (minV <= maxDist) {
          chars(e) = ch
          dfs(child, e)
        }
        i += 1
      }
    }
    if (root.word != null && n <= maxDist) out += ((root.word, root.freq, n))
    dfs(root, 0)
    out
  }
}

object TokenTrie {
  /** Per-thread DP-row workspace, grown on demand and reused across searches
    * — without an index, segmentation-aware inference issues ~2·len width-1
    * searches per merged token, so per-search allocation shows up as GC
    * pressure at scale. */
  private final class RowWorkspace {
    private var rows: Array[Array[Int]] = Array.empty
    def acquire(nRows: Int, rowLen: Int): Array[Array[Int]] = {
      if (rows.length < nRows || (rows.length > 0 && rows(0).length < rowLen)) {
        val r = math.max(nRows, rows.length)
        val c = math.max(rowLen, if (rows.isEmpty) 0 else rows(0).length)
        rows = Array.ofDim[Int](r, c)
      }
      rows
    }
  }
  private val rowCache = new ThreadLocal[RowWorkspace] {
    override def initialValue(): RowWorkspace = new RowWorkspace
  }

  private[correct] final class Node extends Serializable {
    var word: String = _
    var freq: Long = 0L
    // parallel sorted arrays — compact, cache-friendly, cheap to serialize
    var childChars: Array[Int] = Array.emptyIntArray
    var childNodes: Array[Node] = Array.empty

    private[TokenTrie] def childFor(ch: Int): Node = {
      val idx = java.util.Arrays.binarySearch(childChars, ch)
      if (idx >= 0) childNodes(idx)
      else {
        val at = -idx - 1
        val n = new Node
        childChars = childChars.patch(at, Array(ch), 0)
        childNodes = childNodes.patch(at, Array(n), 0)
        n
      }
    }
  }

  def build(words: Iterable[(String, Long)]): TokenTrie = {
    val root = new Node
    var maxDepth = 0
    words.foreach { case (w, f) =>
      var node = root
      w.codePoints().forEach(cp => node = node.childFor(cp))
      node.word = w
      node.freq = f
      maxDepth = math.max(maxDepth, w.codePointCount(0, w.length))
    }
    new TokenTrie(root, maxDepth)
  }
}
