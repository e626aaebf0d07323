package graft.text

/**
 * Damerau-Levenshtein edit distance (restricted / optimal-string-alignment
 * variant with adjacent transpositions), full-matrix and banded forms.
 *
 * Semantics match the reference implementation
 * (`/root/reference/src/util/edit_distance.py:9-123`): unit costs for
 * insert/delete/substitute/swap, transposition checked against the two
 * previous positions, banded form uses band half-width
 * `d = min(abs(m-n) + 10, m)` with the shorter string vertical and is exact
 * whenever the true distance fits inside the band.
 *
 * Operates on Unicode code points (not UTF-16 chars) so astral-plane input
 * behaves like the reference's Python code-point semantics
 * (SURVEY.md §7 hard-part 7).
 */
object DamerauLevenshtein {

  val CostIndel = 1
  val CostSub   = 1
  val CostSwap  = 1

  @inline private def codePoints(s: String): Array[Int] = {
    // Fast path: no surrogate pairs (the overwhelmingly common case).
    var i = 0
    var ascii = true
    while (ascii && i < s.length) {
      if (Character.isHighSurrogate(s.charAt(i))) ascii = false
      i += 1
    }
    if (ascii) {
      val out = new Array[Int](s.length)
      var j = 0
      while (j < s.length) { out(j) = s.charAt(j).toInt; j += 1 }
      out
    } else s.codePoints().toArray
  }

  /** Full O(m*n) DP. Reference: edit_distance.py:9-58. */
  def distance(s1: String, s2: String): Int =
    distanceCp(codePoints(s1), codePoints(s2))

  private[text] def distanceCp(a: Array[Int], b: Array[Int]): Int = {
    val m = a.length
    val n = b.length
    if (m == 0) return n * CostIndel
    if (n == 0) return m * CostIndel
    // Three rolling rows (transposition needs row i-2).
    var row2 = new Array[Int](n + 1) // i-2
    var row1 = new Array[Int](n + 1) // i-1
    var row0 = new Array[Int](n + 1) // i
    var j = 0
    while (j <= n) { row1(j) = j * CostIndel; j += 1 }
    var i = 1
    while (i <= m) {
      row0(0) = i * CostIndel
      var jj = 1
      while (jj <= n) {
        val left = row0(jj - 1) + CostIndel
        val up   = row1(jj) + CostIndel
        var diag = row1(jj - 1)
        if (a(i - 1) != b(jj - 1)) diag += CostSub
        var best = math.min(math.min(left, up), diag)
        if (i >= 2 && jj >= 2 && a(i - 1) == b(jj - 2) && a(i - 2) == b(jj - 1)) {
          val swap = row2(jj - 2) + CostSwap
          if (swap < best) best = swap
        }
        row0(jj) = best
        jj += 1
      }
      val t = row2; row2 = row1; row1 = row0; row0 = t
      i += 1
    }
    row1(n)
  }

  /**
   * Banded O(n*d) DP, exact for distances that fit in the band.
   * Reference: edit_distance.py:61-123 — band half-width
   * `d = min(abs(m - n) + 10, m)` where m = longer length; since
   * `dist >= abs(m-n)`, the band is exact whenever `dist <= abs(m-n) + 10`,
   * i.e. for any realistic OCR noise level.
   */
  def distanceBanded(s1: String, s2: String): Int =
    distanceBandedCp(codePoints(s1), codePoints(s2))

  /**
   * Capped OSA distance — EXACT whenever the distance is <= cap, and any
   * value > cap (specifically cap + 1) otherwise. The candidate-scan form
   * (round 7): an argmin scan only needs "beats the current best or ties
   * it", so the DP early-exits once the last TWO row minima exceed cap (a
   * cell derives from the previous row at cost >= 0 via match or the row
   * two up at cost >= 1 via swap, so once both are past the cap no later
   * cell can come back under it). Full-width rows, not a band: at
   * dictionary-token lengths the band bookkeeping costs more than the
   * plain row (measured — the first capped cut used a cap-width band and
   * was ~2x SLOWER than the uncapped scan on ~10-char tokens); rows come
   * from a per-thread workspace, not per-call allocation. Selection
   * equivalence: a result > cap fails both `score < best` and
   * `score == best`, exactly as the true distance would.
   */
  private[graft] def distanceBandedCappedCp(a: Array[Int], b: Array[Int], cap: Int): Int = {
    if (cap < 0) return cap + 1 // nothing is exact below a negative cap
    val m = a.length
    val n = b.length
    if (math.abs(m - n) > cap) return cap + 1
    if (m == 0) return if (n * CostIndel > cap) cap + 1 else n * CostIndel
    if (n == 0) return if (m * CostIndel > cap) cap + 1 else m * CostIndel
    val rows = cappedRows.get().acquire(n + 1)
    var row2 = rows(0)
    var row1 = rows(1)
    var row0 = rows(2)
    var j = 0
    while (j <= n) { row1(j) = j * CostIndel; j += 1 }
    var min1 = 0
    var i = 1
    while (i <= m) {
      row0(0) = i * CostIndel
      var min0 = row0(0)
      var jj = 1
      while (jj <= n) {
        val left = row0(jj - 1) + CostIndel
        val up   = row1(jj) + CostIndel
        var diag = row1(jj - 1)
        if (a(i - 1) != b(jj - 1)) diag += CostSub
        var best = math.min(math.min(left, up), diag)
        if (i >= 2 && jj >= 2 && a(i - 1) == b(jj - 2) && a(i - 2) == b(jj - 1)) {
          val swap = row2(jj - 2) + CostSwap
          if (swap < best) best = swap
        }
        row0(jj) = best
        if (best < min0) min0 = best
        jj += 1
      }
      if (min0 > cap && min1 > cap) return cap + 1
      val t = row2; row2 = row1; row1 = row0; row0 = t
      min1 = min0
      i += 1
    }
    val res = row1(n)
    if (res > cap) cap + 1 else res
  }

  /** Longest pattern, in code points, that [[osaPattern]] accepts: one bit
    * per pattern position in a 64-bit word. */
  val OsaMaxPattern = 64

  /**
   * A pattern compiled for the bit-parallel OSA distance (Hyyrö 2003, the
   * shape of rapidfuzz's `osa_hyrroe2003`): the DP column of the whole
   * pattern lives in the bits of one 64-bit word, so each text code point
   * costs a fixed dozen word operations whatever the pattern length. The
   * result is the exact OSA distance, equal to [[distance]] (spec-fuzzed),
   * not the banded reference form of [[distanceBanded]] — which is why
   * `distanceBanded`, `normalized` and `dl_distance` do not use it.
   *
   * Per-position match masks are keyed by code point in a 128-slot
   * open-addressing table: a pattern has at most 64 distinct code points,
   * so the load factor stays at or under one half, and there is no
   * per-thread table indexed by every UTF-16 value.
   */
  final class OsaPattern private[DamerauLevenshtein] {
    private val keys = Array.fill(128)(-1) // -1: empty (code points are >= 0)
    private val masks = new Array[Long](128)
    private val used = new Array[Int](OsaMaxPattern)
    private var nUsed = 0
    private var len = 0

    @inline private def slotOf(cp: Int): Int = {
      var s = (cp * 0x9E3779B1) >>> 25
      while (keys(s) != cp && keys(s) != -1) s = (s + 1) & 127
      s
    }

    private[DamerauLevenshtein] def compile(p: Array[Int]): OsaPattern = {
      require(p.length <= OsaMaxPattern, s"pattern of ${p.length} code points")
      var u = 0
      while (u < nUsed) { keys(used(u)) = -1; masks(used(u)) = 0L; u += 1 }
      nUsed = 0
      var i = 0
      while (i < p.length) {
        val s = slotOf(p(i))
        if (keys(s) == -1) { keys(s) = p(i); used(nUsed) = s; nUsed += 1 }
        masks(s) |= 1L << i
        i += 1
      }
      len = p.length
      this
    }

    /** Exact OSA distance between the compiled pattern and `text`. */
    def distance(text: String): Int = {
      if (len == 0) return text.codePointCount(0, text.length)
      val last = 1L << (len - 1)
      var vp = -1L
      var vn = 0L
      var d0 = 0L
      var pmOld = 0L
      var dist = len
      var i = 0
      while (i < text.length) {
        val cp = text.codePointAt(i)
        i += Character.charCount(cp)
        val pm = masks(slotOf(cp))
        val tr = ((~d0 & pm) << 1) & pmOld
        d0 = (((pm & vp) + vp) ^ vp) | pm | vn | tr
        var hp = vn | ~(d0 | vp)
        var hn = d0 & vp
        if ((hp & last) != 0) dist += 1
        if ((hn & last) != 0) dist -= 1
        hp = (hp << 1) | 1L
        hn = hn << 1
        vp = hn | ~(d0 | hp)
        vn = hp & d0
        pmOld = pm
      }
      dist
    }
  }

  private val osaPatterns = new ThreadLocal[OsaPattern] {
    override def initialValue(): OsaPattern = new OsaPattern
  }

  /** `p` (at most [[OsaMaxPattern]] code points) compiled into this thread's
    * pattern. The object is reused: the next call on the same thread
    * overwrites it, so score every text against one pattern before
    * compiling the next. */
  def osaPattern(p: Array[Int]): OsaPattern = osaPatterns.get().compile(p)

  /** Per-thread row workspace for [[distanceBandedCappedCp]] — the
    * dictionary scan calls it once per candidate. */
  private final class CappedRows {
    private var rows: Array[Array[Int]] = Array.empty
    def acquire(len: Int): Array[Array[Int]] = {
      if (rows.length < 3 || rows(0).length < len) rows = Array.ofDim[Int](3, math.max(len, 64))
      rows
    }
  }
  private val cappedRows = new ThreadLocal[CappedRows] {
    override def initialValue(): CappedRows = new CappedRows
  }

  private[text] def distanceBandedCp(a0: Array[Int], b0: Array[Int]): Int = {
    // Longer string horizontal (a, length m); shorter vertical (b, length n).
    var a = a0; var b = b0
    if (a.length < b.length) { val t = a; a = b; b = t }
    val m = a.length
    val n = b.length
    val bottomShift = m - n
    val d = math.min(bottomShift + 10, m)
    if (d >= m) return distanceCp(a, b) // band covers everything; full DP is simpler
    val width = 2 * d + 1
    val Inf = Int.MaxValue / 4

    // rows indexed by shifted column: col = d + (colTheoretical - row)
    var row2 = Array.fill(width)(Inf)
    var row1 = Array.fill(width)(Inf)
    var row0 = Array.fill(width)(Inf)
    // first row: colTheoretical = shift for row 0; only shifts >= 0 valid
    row1(d) = 0
    var s = 1
    while (s <= d) {
      val colT = s
      if (colT <= m) row1(d + s) = row1(d + s - 1) + CostIndel
      s += 1
    }
    var row = 1
    while (row <= n) {
      java.util.Arrays.fill(row0, Inf)
      var shift = -d
      while (shift <= d) {
        val colT = row + shift
        if (colT >= 0 && colT <= m) {
          val col = d + shift
          if (colT == 0) {
            row0(col) = row1(col + 1) + CostIndel // copy from above
          } else {
            val fromLeft  = if (col == 0) Inf else row0(col - 1) + CostIndel
            val fromAbove = if (col == width - 1) Inf else row1(col + 1) + CostIndel
            var fromDiag  = row1(col)
            if (a(colT - 1) != b(row - 1)) fromDiag += CostSub
            var best = math.min(math.min(fromLeft, fromAbove), fromDiag)
            if (row >= 2 && colT >= 2 && a(colT - 1) == b(row - 2) && a(colT - 2) == b(row - 1)) {
              val swap = row2(col) + CostSwap
              if (swap < best) best = swap
            }
            row0(col) = best
          }
        }
        shift += 1
      }
      val t = row2; row2 = row1; row1 = row0; row0 = t
      row += 1
    }
    row1(d + bottomShift)
  }

  /**
   * Unrestricted (true) Damerau-Levenshtein distance — Lowrance-Wagner DP
   * with the last-occurrence table, allowing edits between transposed
   * characters (e.g. "CA"→"ABC" = 2, where the reference's restricted/OSA
   * form gives 3).
   *
   * The reference implements only the restricted form
   * (`/root/reference/src/util/edit_distance.py:53-55` — single adjacent-swap
   * case); this variant exists because the external oracle (DuckDB
   * `damerau_levenshtein`) computes TRUE DL, so oracle-checked queries use
   * this kernel while reference-semantics paths use [[distance]]. Always
   * `distanceUnrestricted(a,b) <= distance(a,b)` (property-tested).
   */
  def distanceUnrestricted(s1: String, s2: String): Int = {
    val a = codePoints(s1)
    val b = codePoints(s2)
    val m = a.length
    val n = b.length
    if (m == 0) return n
    if (n == 0) return m
    val inf = m + n
    // d is (m+2) x (n+2), offset by 1: d(i+1)(j+1) corresponds to prefix (i, j)
    val d = Array.ofDim[Int](m + 2, n + 2)
    d(0)(0) = inf
    var i = 0
    while (i <= m) { d(i + 1)(1) = i; d(i + 1)(0) = inf; i += 1 }
    var j = 0
    while (j <= n) { d(1)(j + 1) = j; d(0)(j + 1) = inf; j += 1 }
    val da = new java.util.HashMap[Int, Int]() // code point -> last row seen
    i = 1
    while (i <= m) {
      var db = 0
      j = 1
      while (j <= n) {
        val k = da.getOrDefault(b(j - 1), 0)
        val l = db
        val cost = if (a(i - 1) == b(j - 1)) { db = j; 0 } else 1
        val sub = d(i)(j) + cost
        val ins = d(i + 1)(j) + 1
        val del = d(i)(j + 1) + 1
        val trans = d(k)(l) + (i - k - 1) + 1 + (j - l - 1)
        d(i + 1)(j + 1) = math.min(math.min(sub, ins), math.min(del, trans))
        j += 1
      }
      da.put(a(i - 1), i)
      i += 1
    }
    d(m + 1)(n + 1)
  }

  /**
   * Threshold-bounded OSA distance: returns `min(distance(s1, s2), k + 1)`
   * in O(min(m,n)*k) time and O(k) space (vs the full DP's O(m*n)).
   *
   * Soundness of the k-band (Ukkonen): every unit-cost edit that moves the
   * alignment off the main diagonal (insert/delete) costs 1, and a
   * transposition keeps the diagonal offset unchanged, so any alignment of
   * cost <= k never leaves |i - j| <= k. Cells outside the band can only
   * lie on paths of cost > k, hence the banded DP computes the exact
   * distance whenever it is <= k and a value > k otherwise — which this
   * method clamps to k+1. That makes any comparison of the full distance
   * against a literal threshold t <= k decision-equivalent on the bounded
   * value (min(d, k+1) preserves the <, =, > relation to every t <= k).
   *
   * Early exit: when the minima of two consecutive DP rows both exceed k,
   * no later cell can drop back (paths advance one row per indel/sub and
   * two rows per transposition, so every path to a later row passes through
   * one of the two), and the scan aborts.
   */
  def distanceWithin(s1: String, s2: String, k: Int): Int = {
    if (k < 0) return 0 // degenerate threshold: every distance exceeds it
    // k+1 must not overflow; any true distance is < Int.MaxValue, so a
    // saturated marker preserves min(dist, k+1) semantics at the extreme
    val over = if (k == Int.MaxValue) Int.MaxValue else k + 1
    var a = codePoints(s1)
    var b = codePoints(s2)
    if (a.length < b.length) { val t = a; a = b; b = t }
    val m = a.length
    val n = b.length
    if (m - n > k) return over // indel lower bound already exceeds k
    if (n == 0) return math.min(m, over)
    // clamp the band to the longer length (cf. distanceBandedCp): every cell
    // satisfies |colT - row| <= m, so d = m already covers the full DP —
    // without the clamp a huge threshold (k ~ 2^30, reachable automatically
    // through BandedDistanceRewrite) would overflow `2 * d + 1` and allocate
    // O(k) state per call for sentence-length strings
    val d = math.min(k, m)
    val width = 2 * d + 1
    val Inf = Int.MaxValue / 4

    // Same shifted-band layout as distanceBandedCp: col = d + (colT - row).
    var row2 = Array.fill(width)(Inf)
    var row1 = Array.fill(width)(Inf)
    var row0 = Array.fill(width)(Inf)
    row1(d) = 0
    var s = 1
    while (s <= d && s <= m) { row1(d + s) = s * CostIndel; s += 1 }
    var prevMin = 0
    var row = 1
    while (row <= n) {
      java.util.Arrays.fill(row0, Inf)
      var rowMin = Inf
      var shift = -d
      while (shift <= d) {
        val colT = row + shift
        if (colT >= 0 && colT <= m) {
          val col = d + shift
          val v =
            if (colT == 0) row1(col + 1) + CostIndel
            else {
              val fromLeft  = if (col == 0) Inf else row0(col - 1) + CostIndel
              val fromAbove = if (col == width - 1) Inf else row1(col + 1) + CostIndel
              var fromDiag  = row1(col)
              if (a(colT - 1) != b(row - 1)) fromDiag += CostSub
              var best = math.min(math.min(fromLeft, fromAbove), fromDiag)
              if (row >= 2 && colT >= 2 && a(colT - 1) == b(row - 2) && a(colT - 2) == b(row - 1)) {
                val swap = row2(col) + CostSwap
                if (swap < best) best = swap
              }
              best
            }
          row0(col) = v
          if (v < rowMin) rowMin = v
        }
        shift += 1
      }
      if (rowMin > k && prevMin > k) return over
      prevMin = rowMin
      val t = row2; row2 = row1; row1 = row0; row0 = t
      row += 1
    }
    val res = row1(d + (m - n))
    if (res > k) over else res
  }

  /**
   * Normalized distance `dist / len(correct)` (code points).
   * Reference: edit_distance.py:126-131. Guards the `len(correct)==0`
   * division (the reference crashes without its eval-side filter,
   * SURVEY.md §7 hard-part 5): returns 0.0 if both empty else 1.0.
   */
  def normalized(incorrect: String, correct: String, banded: Boolean = true): Double = {
    val len = correct.codePointCount(0, correct.length)
    if (len == 0) { if (incorrect.isEmpty) 0.0 else 1.0 }
    else {
      val dist = if (banded) distanceBanded(incorrect, correct) else distance(incorrect, correct)
      dist.toDouble / len
    }
  }
}
