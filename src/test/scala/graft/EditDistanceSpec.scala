package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.text.DamerauLevenshtein._

class EditDistanceSpec extends AnyFunSuite {

  // The reference's one hard-coded smoke case (edit_distance.py:134-136):
  // 2 leading inserts + 1 transposition ("nm" for "mn") = 3.
  test("reference smoke case: banded(xxabcdefghijklnmop, abcdefghijklmnop) == 3") {
    assert(distanceBanded("xxabcdefghijklnmop", "abcdefghijklmnop") == 3)
    assert(distance("xxabcdefghijklnmop", "abcdefghijklmnop") == 3)
  }

  test("hand cases") {
    assert(distance("", "") == 0)
    assert(distance("abc", "") == 3)
    assert(distance("", "abc") == 3)
    assert(distance("ab", "ba") == 1)           // pure transposition
    assert(distance("abc", "abc") == 0)
    assert(distance("kitten", "sitting") == 3)
    assert(distance("ca", "abc") == 3)          // OSA (no substring re-edit)
    assert(distance("a cat", "an act") == 2)    // insert + transpose
    assert(distanceBanded("ab", "ba") == 1)
    assert(distanceBanded("", "") == 0)
    assert(distanceBanded("abc", "") == 3)
  }

  test("code points: astral-plane chars count as one symbol") {
    assert(distance("a😀b", "ab") == 1) // a😀b vs ab
    assert(distanceBanded("a😀b", "ab") == 1)
    assert(distance("дом", "том") == 1) // Cyrillic substitution
  }

  test("normalized: empty-target guard (reference crashes here)") {
    assert(normalized("", "") == 0.0)
    assert(normalized("x", "") == 1.0)
    assert(normalized("ab", "ba") == 0.5)
  }

  private val alphabet: IndexedSeq[Char] = ('a' to 'f') ++ Seq(' ', 'д', 'ж')
  private def randStr(r: scala.util.Random, maxLen: Int = 24): String =
    new String(Array.fill(r.nextInt(maxLen + 1))(alphabet(r.nextInt(alphabet.size))))

  test("property: metric axioms + bounds (500 random pairs)") {
    val r = new scala.util.Random(42)
    (0 until 500).foreach { _ =>
      val a = randStr(r); val b = randStr(r)
      val d = distance(a, b)
      assert(d >= math.abs(a.length - b.length))  // length lower bound (justifies P5 prune)
      assert(d <= math.max(a.length, b.length))   // upper bound
      assert(distance(b, a) == d)                 // symmetry
      assert(distance(a, a) == 0)                 // identity
    }
  }

  test("property: triangle inequality (300 random triples)") {
    val r = new scala.util.Random(43)
    (0 until 300).foreach { _ =>
      val a = randStr(r, 14); val b = randStr(r, 14); val c = randStr(r, 14)
      assert(distance(a, c) <= distance(a, b) + distance(b, c), s"($a,$b,$c)")
    }
  }

  test("property: banded == full whenever distance fits the band") {
    val r = new scala.util.Random(44)
    var checked = 0
    (0 until 1000).foreach { _ =>
      val a = randStr(r); val b = randStr(r)
      val full = distance(a, b)
      val band = math.min(math.abs(a.length - b.length) + 10, math.max(a.length, b.length))
      if (full <= band) { assert(distanceBanded(a, b) == full, s"($a,$b)"); checked += 1 }
    }
    assert(checked > 100) // the property actually got exercised
  }

  test("property: banded == full on noised strings (the real workload shape)") {
    val r = new scala.util.Random(45)
    val rng = new graft.gen.DetRng(9L)
    (0 until 300).foreach { i =>
      val t = graft.gen.DocGen.sentence(rng, 3 + r.nextInt(8))
      val noisy = graft.gen.NoiseChannel.mutilateSpan("p", i, t, graft.gen.DocGen.goodChars)
      assert(distanceBanded(noisy, t) == distance(noisy, t))
    }
  }

  test("property: DL <= plain Levenshtein (transpositions only help)") {
    def lev(a: String, b: String): Int = {
      val x = a.toCharArray; val y = b.toCharArray
      val dp = Array.tabulate(x.length + 1, y.length + 1)((i, j) => if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to x.length; j <- 1 to y.length)
        dp(i)(j) = math.min(math.min(dp(i - 1)(j) + 1, dp(i)(j - 1) + 1),
          dp(i - 1)(j - 1) + (if (x(i - 1) == y(j - 1)) 0 else 1))
      dp(x.length)(y.length)
    }
    val r = new scala.util.Random(46)
    (0 until 300).foreach { _ =>
      val a = randStr(r, 16); val b = randStr(r, 16)
      assert(distance(a, b) <= lev(a, b))
    }
  }

  test("property: distanceWithin(a, b, k) == min(full, k+1) (800 random cases)") {
    val r = new scala.util.Random(47)
    (0 until 800).foreach { i =>
      val a = randStr(r, 1 + r.nextInt(20))
      val b = randStr(r, 1 + r.nextInt(20))
      val k = r.nextInt(8)
      val expect = math.min(distance(a, b), k + 1)
      assert(distanceWithin(a, b, k) == expect,
        s"within($a, $b, $k): got ${distanceWithin(a, b, k)}, want $expect")
    }
    // degenerate shapes
    assert(distanceWithin("", "", 3) == 0)
    assert(distanceWithin("", "abcd", 2) == 3)  // clamp: dist 4 > 2
    assert(distanceWithin("abcd", "", 5) == 4)
    assert(distanceWithin("ab", "ba", 0) == 1)  // k=0: equality test
    assert(distanceWithin("ab", "ab", 0) == 0)
    assert(distanceWithin("x", "y", -1) == 0)   // negative threshold
    // huge thresholds clamp the band to the string length instead of
    // allocating O(k) state (or overflowing 2k+1) — the rewrite rule feeds
    // ANY literal here, so the kernel must stay exact and cheap for k >> len
    assert(distanceWithin("kitten", "sitting", 1 << 30) == 3)
    assert(distanceWithin("kitten", "sitting", Int.MaxValue) == 3)
    assert(distanceWithin("ab", "ba", 1000000) == 1)
  }

  test("property: distanceWithin is exact on noised strings at OCR-scale thresholds") {
    val r = new scala.util.Random(48)
    val rng = new graft.gen.DetRng(11L)
    (0 until 300).foreach { i =>
      val t = graft.gen.DocGen.sentence(rng, 3 + r.nextInt(8))
      val noisy = graft.gen.NoiseChannel.mutilateSpan("w", i, t, graft.gen.DocGen.goodChars)
      val k = 2 + r.nextInt(4)
      assert(distanceWithin(noisy, t, k) ==
        math.min(distance(noisy, t), k + 1))
    }
  }

  test("bit-parallel OSA ≡ full DP: 100k pairs, 3-symbol alphabet with an astral code point") {
    val r = new scala.util.Random(49)
    val alphabet = Array('a'.toInt, 'b'.toInt, 0x1F600) // dense transpositions
    def rand(len: Int): Array[Int] = Array.fill(len)(alphabet(r.nextInt(alphabet.length)))
    def str(cps: Array[Int]): String = new String(cps, 0, cps.length)
    (0 until 100000).foreach { _ =>
      val p = rand(1 + r.nextInt(OsaMaxPattern))
      val t = str(rand(r.nextInt(81)))
      val want = distance(str(p), t)
      val got = osaPattern(p).distance(t)
      assert(got == want, s"pattern=${str(p)} text=$t got=$got want=$want")
    }
    assert(osaPattern(Array.emptyIntArray).distance("a😀b") == 3)
    assert(osaPattern("ca".codePoints().toArray).distance("abc") == 3) // OSA, not true DL
    intercept[IllegalArgumentException](osaPattern(Array.fill(OsaMaxPattern + 1)('a'.toInt)))
  }
}
