package graft.correct

import scala.collection.mutable
import graft.text.DamerauLevenshtein

/**
 * Symmetric-delete candidate index (FastSS, Bocek, Hunt & Stiller 2007;
 * SymSpell, Garbe 2012): every variant of every word with at most `radius`
 * code points deleted, so the words within OSA distance `width <= radius`
 * of a token are found by looking up the token's own deletion variants.
 *
 * Why it is exact: if OSA(a, b) <= k, both strings reach a common string
 * with at most k deletions each — a substitution or an adjacent
 * transposition costs one deletion per side, an insertion or deletion one
 * deletion on one side. So the words sharing a variant with the token
 * (at most `width` deletions on each side) are a superset of the words
 * within `width`; [[searchWithin]] keeps those whose exact bit-parallel OSA
 * distance is within `width`, and its result equals
 * `TokenTrie.searchWithin(token, width)` as a set (spec-asserted).
 *
 * Layout (CSR, no `String` per variant, no boxed map): variants are hashed
 * to 64 bits; the high half picks one of `bucketStart.length - 1` buckets
 * (a power of two, at most entries / 4), and each entry is one `Int` — the
 * word id in the high bits, the low bits of the hash as a fingerprint. A
 * hash or fingerprint collision only adds a candidate that the length
 * check or the OSA check drops.
 *
 * Words longer than [[MaxToken]] + `radius` code points are not indexed:
 * no token the index serves can reach them.
 */
final class DeleteIndex private (
    words: Array[String],
    freqs: Array[Long],
    lens: Array[Int],
    entries: Array[Int],
    bucketStart: Array[Int],
    fpBits: Int,
    val radius: Int) {

  import DeleteIndex._

  /** Number of stored (word id, variant) entries. */
  def size: Int = entries.length

  /**
   * All (word, freq, dist) with OSA(word, token) <= `width`, for a token of
   * at most [[MaxToken]] code points and `width <= radius`.
   */
  def searchWithin(token: String, width: Int): mutable.ArrayBuffer[(String, Long, Int)] = {
    val t = token.codePoints().toArray
    val n = t.length
    require(n <= MaxToken && width <= radius, s"token of $n code points at width $width")
    val out = mutable.ArrayBuffer.empty[(String, Long, Int)]
    val ws = workspace.get()
    val stamps = ws.stampsFor(words.length)
    val stamp = ws.nextStamp()
    val pattern = DamerauLevenshtein.osaPattern(t)
    val fpMask = (1 << fpBits) - 1
    val bucketMask = bucketStart.length - 2
    variants(t, width, ws.prefix) { (h, vLen) =>
      val fp = h.toInt & fpMask
      val b = (h >>> 32).toInt & bucketMask
      var e = bucketStart(b)
      val end = bucketStart(b + 1)
      while (e < end) {
        val x = entries(e)
        if ((x & fpMask) == fp) {
          val id = x >>> fpBits
          // a true match deletes lens(id) - vLen code points from the word
          val wordDels = lens(id) - vLen
          if (wordDels >= 0 && wordDels <= width && stamps(id) != stamp) {
            stamps(id) = stamp
            val d = pattern.distance(words(id))
            if (d <= width) out += ((words(id), freqs(id), d))
          }
        }
        e += 1
      }
    }
    out
  }
}

object DeleteIndex {
  /** Longest token the index serves, in code points: the bit-parallel OSA
    * check holds the token in one 64-bit word. */
  val MaxToken: Int = DamerauLevenshtein.OsaMaxPattern

  /** Largest radius an index is built for: a query enumerates
    * Σ_{k <= width} C(|token|, k) variants, 43,745 for a 64-code-point token
    * at width 3, and that sum grows as |token|^width. Wider searches use
    * the trie. */
  val MaxRadius = 3

  /** Most entries an index may hold (2^24 entries, a 64 MiB entry array).
    * [[build]] steps down to the largest radius whose [[entryCount]] fits
    * it (at the bench vocabulary's word lengths about 70, 28 and 8 entries
    * per word at radius 3, 2 and 1); a vocabulary over it even at radius 1
    * gets no index, and the trie serves every width. */
  val Budget: Long = 1L << 24

  /** Exact entry count of the index over `words`: Σ_w Σ_{k <= radius} C(|w|, k)
    * over words of at most [[MaxToken]] + `radius` code points. Computed
    * before building, to check against [[Budget]]. */
  def entryCount(words: Iterable[String], radius: Int): Long =
    words.iterator.map { w =>
      val len = w.codePointCount(0, w.length)
      if (len > MaxToken + radius) 0L else variantCount(len, radius)
    }.sum

  /** Σ_{k <= maxDels} C(len, k): the deletion sets of a `len`-code-point
    * string with at most `maxDels` deletions. */
  private def variantCount(len: Int, maxDels: Int): Long = {
    var c = 1L; var sum = 1L; var k = 1
    while (k <= math.min(maxDels, len)) { c = c * (len - k + 1) / k; sum += c; k += 1 }
    sum
  }

  /** The index over `vocab`'s words at the largest radius from `maxRadius`
    * (1 to [[MaxRadius]]) down to 1 whose [[entryCount]] fits [[Budget]],
    * or None when none does. */
  def build(vocab: Map[String, Long], maxRadius: Int): Option[DeleteIndex] = {
    require(maxRadius >= 1 && maxRadius <= MaxRadius, s"radius $maxRadius")
    (maxRadius to 1 by -1).iterator
      .map(r => (r, entryCount(vocab.keys, r)))
      .collectFirst { case (r, total) if total <= Budget => buildAt(vocab, r, total) }
  }

  private def buildAt(vocab: Map[String, Long], radius: Int, total: Long): DeleteIndex = {
    val words = vocab.keys.filter(w => w.codePointCount(0, w.length) <= MaxToken + radius)
      .toArray.sorted
    val freqs = words.map(vocab)
    val cps = words.map(_.codePoints().toArray)
    val lens = cps.map(_.length)
    val nBuckets = Integer.highestOneBit(math.max(1, (total / 4).toInt))
    val idBits = math.max(1, 32 - Integer.numberOfLeadingZeros(math.max(0, words.length - 1)))
    val fpBits = 32 - idBits
    val fpMask = (1 << fpBits) - 1
    val bucketStart = new Array[Int](nBuckets + 1)
    val entries = new Array[Int](total.toInt)
    val prefix = new Array[Long](MaxToken + radius + 1)
    // pass 1 counts per bucket, pass 2 fills: hashes are recomputed rather
    // than held, so building needs no array of one hash per entry
    cps.foreach(variants(_, radius, prefix) { (h, _) =>
      bucketStart(((h >>> 32).toInt & (nBuckets - 1)) + 1) += 1
    })
    var b = 0
    while (b < nBuckets) { bucketStart(b + 1) += bucketStart(b); b += 1 }
    val fill = java.util.Arrays.copyOf(bucketStart, nBuckets)
    var id = 0
    while (id < words.length) {
      variants(cps(id), radius, prefix) { (h, _) =>
        val b = (h >>> 32).toInt & (nBuckets - 1)
        entries(fill(b)) = (id << fpBits) | (h.toInt & fpMask)
        fill(b) += 1
      }
      id += 1
    }
    new DeleteIndex(words, freqs, lens, entries, bucketStart, fpBits, radius)
  }

  // Polynomial hash mod 2^64 over code points; a deletion variant's hash is
  // assembled from prefix hashes in O(deletions), not O(length).
  private val Base = 0x100000001B3L
  private val pow: Array[Long] = Array.iterate(1L, MaxToken + MaxRadius + 1)(_ * Base)

  @inline private def finish(h: Long, len: Int): Long = {
    // murmur3 fmix64 over the hash and the length
    var x = h + len * 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 33)) * 0xFF51AFD7ED558CCDL
    x = (x ^ (x >>> 33)) * 0xC4CEB9FE1A85EC53L
    x ^ (x >>> 33)
  }

  /** Calls `sink(hash, length)` for every variant of `cps` with at most
    * `maxDels` code points deleted: each deletion set once, so sets that
    * give the same string each count. `prefix` is a workspace of at least
    * `cps.length + 1` slots. */
  private def variants(cps: Array[Int], maxDels: Int, prefix: Array[Long])(sink: (Long, Int) => Unit): Unit = {
    val n = cps.length
    prefix(0) = 0L
    var i = 0
    while (i < n) { prefix(i + 1) = prefix(i) * Base + cps(i); i += 1 }
    // hash of cps[from, to)
    def seg(from: Int, to: Int): Long = prefix(to) - prefix(from) * pow(to - from)
    // `acc`: hash of the kept code points before `from`; deletions go at
    // positions >= from, at most `left` more
    def emit(acc: Long, from: Int, left: Int, len: Int): Unit = {
      sink(finish(acc * pow(n - from) + seg(from, n), len), len)
      if (left > 0) {
        var p = from
        while (p < n) {
          emit(acc * pow(p - from) + seg(from, p), p + 1, left - 1, len - 1)
          p += 1
        }
      }
    }
    emit(0L, 0, maxDels, n)
  }

  /** Per-thread query workspace: prefix hashes, and the stamp array that
    * dedupes word ids (grown on demand to the largest vocabulary seen). */
  private final class Workspace {
    val prefix = new Array[Long](MaxToken + 1)
    private var stamps = new Array[Int](0)
    private var stamp = 0

    def stampsFor(nWords: Int): Array[Int] = {
      if (stamps.length < nWords) stamps = new Array[Int](nWords)
      stamps
    }
    def nextStamp(): Int = {
      if (stamp == Int.MaxValue) { java.util.Arrays.fill(stamps, 0); stamp = 0 }
      stamp += 1
      stamp
    }
  }
  private val workspace = new ThreadLocal[Workspace] {
    override def initialValue(): Workspace = new Workspace
  }
}
