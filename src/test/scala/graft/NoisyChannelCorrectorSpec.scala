package graft

import graft.correct._
import graft.gen.{DetRng, DocGen, NoiseChannel}
import graft.pipeline.{CorrectionPipeline => CP}
import graft.text.DamerauLevenshtein

class NoisyChannelCorrectorSpec extends SparkSpec {

  private def cpLen(s: String): Int = s.codePointCount(0, s.length)

  /** Every (word, freq, dist) within `d` of `q` by the full OSA DP. */
  private def brute(words: Map[String, Long], q: String, d: Int): Set[(String, Long, Int)] =
    words.iterator.map { case (w, f) => (w, f, DamerauLevenshtein.distance(q, w)) }
      .filter(_._3 <= d).toSet

  test("trie search ≡ brute-force distance filter (Levenshtein automaton correctness)") {
    val r = new scala.util.Random(11)
    val words = (0 until 400).map { _ =>
      new String(Array.fill(1 + r.nextInt(8))(('a' + r.nextInt(6)).toChar))
    }.distinct.map(w => (w, 1L + r.nextInt(50))).toMap
    val trie = TokenTrie.build(words)
    val index = DeleteIndex.build(words, 3).get
    (0 until 120).foreach { _ =>
      val q = new String(Array.fill(1 + r.nextInt(9))(('a' + r.nextInt(7)).toChar))
      (0 to 3).foreach { d =>
        val got = trie.searchWithin(q, d).map { case (w, f, dist) => (w, f, dist) }.toSet
        val want = words.collect {
          case (w, f) if DamerauLevenshtein.distance(q, w) <= d =>
            (w, f, DamerauLevenshtein.distance(q, w))
        }.toSet
        assert(got == want, s"q=$q d=$d missing=${want -- got} extra=${got -- want}")
        val fromIndex = index.searchWithin(q, d).toSet
        assert(fromIndex == want, s"index q=$q d=$d missing=${want -- fromIndex} extra=${fromIndex -- want}")
      }
    }
  }

  /** The model's candidate source (index or trie, whichever serves), the
    * index built at each radius 1-3 at every width up to that radius, and
    * the trie all equal the brute-force filter at widths 0-3. */
  private def assertCandidates(words: Map[String, Long], queries: Seq[String]): Unit = {
    val m = new NoisyChannelModel(words, 1L, 30)
    assert(m.index.map(_.radius) == Some(DeleteIndex.MaxRadius))
    val radii = 1 to DeleteIndex.MaxRadius
    val indexes = radii.map(DeleteIndex.build(words, _).get)
    assert(indexes.map(_.radius) == radii)
    queries.foreach { q =>
      (0 to 3).foreach { d =>
        val want = brute(words, q, d)
        val got = m.candidatesWithin(q, d).toSet
        assert(got == want, s"q=$q d=$d missing=${want -- got} extra=${got -- want}")
        assert(m.trie.searchWithin(q, d).toSet == want, s"trie q=$q d=$d")
        if (cpLen(q) <= DeleteIndex.MaxToken)
          indexes.filter(d <= _.radius).foreach { ix =>
            assert(ix.searchWithin(q, d).toSet == want, s"index radius=${ix.radius} q=$q d=$d")
          }
      }
    }
  }

  /** `inferToken` restated over the trie's candidate sets: exact hit, the
    * best word within width 1, then 2, the best two-word split (each side
    * within 1, searched one split point at a time), then width 3, else the
    * fallback scan. Returns the path taken and the correction. */
  private def restatement(vocab: Map[String, Long], minFreq: Long,
                          m: NoisyChannelModel): String => (String, String) = {
    val totalFreq = math.max(vocab.values.filter(_ >= minFreq).sum.toDouble, 1.0)
    val fallback = new DictionaryModel(vocab, minFreq)
    def argmax(scored: Seq[(Double, String)]): String =
      scored.reduce((a, b) => if (a._1 > b._1 || (a._1 == b._1 && a._2 < b._2)) a else b)._2
    def best(token: String, w: Int): Option[String] = {
      val c = m.trie.searchWithin(token, w)
      if (c.isEmpty) None
      else if (c.length == 1) Some(c(0)._1)
      else Some(argmax(c.toSeq.map { case (cw, f, _) =>
        (m.channelLogProb(token, cw) + math.log(f / totalFreq), cw) }))
    }
    def split(token: String): Option[String] = {
      val cps = token.codePoints().toArray
      val scored = if (cps.length < 5) Nil else for {
        i <- 2 to cps.length - 2
        (lw, lf, _) <- m.trie.searchWithin(new String(cps, 0, i), 1)
        (rw, rf, _) <- m.trie.searchWithin(new String(cps, i, cps.length - i), 1)
      } yield (m.channelLogProb(token, lw + " " + rw) +
        math.log(lf / totalFreq) + math.log(rf / totalFreq), lw + " " + rw)
      if (scored.isEmpty) None else Some(argmax(scored))
    }
    token =>
      if (m.contains(token)) ("exact", token)
      else best(token, 1).map(("w1", _))
        .orElse(best(token, 2).map(("w2", _)))
        .orElse(split(token).map(("split", _)))
        .orElse(best(token, 3).map(("w3", _)))
        .getOrElse(("fallback", fallback.inferToken(token)))
  }

  test("delete index ≡ trie ≡ brute force: short words, repeats, Cyrillic and astral, long tokens") {
    val r = new scala.util.Random(13)
    val pool = Array("a", "b", "ж", "д", "😀", "𝔘")
    def rand(len: Int): String = (0 until len).map(_ => pool(r.nextInt(pool.length))).mkString
    /** `w` cut or extended to `n` code points, then one code point replaced. */
    def fit(w: String, n: Int): String = {
      val cps = (w.codePoints().toArray.take(n) ++ rand(n).codePoints().toArray).take(n)
      cps(r.nextInt(n)) = pool(r.nextInt(pool.length)).codePointAt(0)
      new String(cps, 0, n)
    }
    // 1-2-code-point words (their variants reach ""), repeated letters
    val short = ((0 until 60).map(_ => rand(1 + r.nextInt(2))) ++
      Seq("aaaa", "aaab", "abab", "aaaaaa", "жжж", "😀😀😀😀", "a𝔘a𝔘") ++
      (0 until 200).map(_ => rand(3 + r.nextInt(6))))
      .distinct.map(w => w -> (1L + r.nextInt(9))).toMap
    val maxLen = short.keys.map(cpLen).max
    val longest = short.keys.filter(cpLen(_) == maxLen).toSeq
    assertCandidates(short,
      (0 until 150).map(_ => rand(r.nextInt(10))) ++
        Seq("", "a", "aa", "aaa", "aaaaa", "abba", "жж", "😀😀😀") ++
        longest.flatMap(w => Seq(w + rand(3), w + rand(4), fit(w, maxLen + 3), fit(w, maxLen + 4))))
    // words of 60-67 code points, tokens of 64 (index) and 65 (trie) code points
    val long = (0 until 40).map(_ => rand(60 + r.nextInt(8))).map(w => w -> (1L + r.nextInt(9))).toMap
    assertCandidates(long,
      long.keys.toSeq.flatMap(w => Seq(fit(w, 64), fit(w, 65), w.take(64), rand(64))))
  }

  test("empty pruned vocabulary: no candidates, every token passes through") {
    val m = new NoisyChannelModel(Map("cat" -> 1L, "dog" -> 1L), 2L, 30)
    assert(m.index.get.size == 0)
    Seq("", "cat", "cax", "😀").foreach { q =>
      (0 to 3).foreach(d => assert(m.candidatesWithin(q, d).isEmpty, s"q=$q d=$d"))
      assert(m.inferToken(q) == q)
    }
  }

  test("entry budget: just above it no index is built and the trie serves; in budget, count == size") {
    val r = new scala.util.Random(79)
    def word(len: Int) = new String(Array.fill(len)(('a' + r.nextInt(20)).toChar))
    val perWord = DeleteIndex.entryCount(Seq(word(67)), 3)
    assert(perWord == 1 + 67 + 2211 + 47905)
    /** Just enough distinct random `len`-letter words, all starting with
      * `prefix`, to overrun the budget at `radius`. */
    def overrun(len: Int, radius: Int, prefix: String = ""): Map[String, Long] = {
      val n = (DeleteIndex.Budget / DeleteIndex.entryCount(Seq(word(len)), radius) + 1).toInt
      val words = Iterator.continually(prefix + word(len - prefix.length)).distinct.take(n)
        .map(_ -> (1L + r.nextInt(9))).toMap
      assert(DeleteIndex.entryCount(words.keys, radius) > DeleteIndex.Budget)
      assert(DeleteIndex.entryCount(words.keys.drop(1), radius) <= DeleteIndex.Budget)
      words
    }
    /** `w` with `k` random substitutions, deletions, insertions or swaps. */
    def edit(w: String, k: Int): String = (0 until k).foldLeft(w) { (s, _) =>
      val i = r.nextInt(s.length)
      def c = ('a' + r.nextInt(20)).toChar
      r.nextInt(4) match {
        case 0 => s.updated(i, c)
        case 1 => s.patch(i, "", 1)
        case 2 => s.patch(i, c.toString, 0)
        case _ => if (i + 1 < s.length) s.patch(i, s.substring(i, i + 2).reverse, 2) else s.updated(i, c)
      }
    }
    // just over the radius-3 budget: radius 2 (12-letter words, about 56.1k);
    // just over the radius-2 budget: radius 1 (24-letter words, about 55.7k)
    Seq((12, 3), (24, 2)).foreach { case (len, over) =>
      val words = overrun(len, over)
      val ws = words.keys.toArray.sorted
      val m = new NoisyChannelModel(words, 1L, 20)
      assert(m.index.map(_.radius) == Some(over - 1), s"len=$len")
      (0 until 30).foreach { i =>
        val q = edit(ws(r.nextInt(ws.length)), i % 4)
        val within3 = brute(words, q, 3)
        (0 to 3).foreach { d =>
          assert(m.candidatesWithin(q, d).toSet == within3.filter(_._3 <= d), s"len=$len q=$q d=$d")
        }
      }
      val restated = restatement(words, 1L, m)
      val paths = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
      (0 until 300).foreach { i =>
        val token =
          if (i % 3 == 0) edit(ws(r.nextInt(ws.length)) + ws(r.nextInt(ws.length)), i % 2)
          else edit(ws(r.nextInt(ws.length)), 1 + i % 4)
        val (path, want) = restated(token)
        paths(path) += 1
        assert(m.inferToken(token) == want, s"len=$len token=$token")
      }
      info(s"len=$len radius=${over - 1}: " + paths.toSeq.sorted.mkString(" "))
      Seq("w1", "w2", "split", "w3").foreach(p => assert(paths(p) > 0, s"len=$len $p"))
    }
    // just over the radius-1 budget (about 254k words; a shared prefix keeps
    // the trie small): no index, and the trie serves every width
    val huge = overrun(DeleteIndex.MaxToken + 1, 1, prefix = word(55))
    val mh = new NoisyChannelModel(huge, 1L, 20)
    assert(mh.index.isEmpty)
    huge.take(5).foreach { case (w, f) =>
      val q = w.dropRight(1) // MaxToken code points, distance 1 to w only
      assert(mh.candidatesWithin(q, 1).toSet == Set((w, f, 1)), s"q=$q")
      assert(mh.inferToken(q) == w)
    }

    // in budget: the pre-build count is the built size; a word longer than
    // MaxToken + radius code points is neither counted nor indexed
    val vocab = DocGen.lexicon.map(_ -> 1L).toMap + (word(DeleteIndex.MaxToken + 4) -> 1L)
    val ix = DeleteIndex.build(vocab, 3).get
    assert(ix.size == DeleteIndex.entryCount(vocab.keys, 3))
    assert(ix.size == DeleteIndex.entryCount(DocGen.lexicon, 3))
    assert(ix.size == 282463) // DocGen.lexicon at radius 3
  }

  test("inferToken ≡ restatement over trie candidates: 20k mutilated lexicon tokens") {
    val lex = DocGen.lexicon
    val vocab = lex.take(2500).zipWithIndex.map { case (w, i) => w -> (1L + (i * 7919L) % 97) }.toMap
    val m = new NoisyChannelModel(vocab, 2L, DocGen.goodChars.length)
    val restated = restatement(vocab, 2L, m)
    val paths = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    val rng = new DetRng(61L)
    val lines = (0 until 20000).map { i =>
      val clean =
        if (i % 5 == 0) lex(rng.nextInt(lex.length)) + lex(rng.nextInt(lex.length))
        else lex(rng.nextInt(lex.length))
      val token = NoiseChannel.mutilate(clean, DocGen.goodChars, rng)
      val (path, want) = restated(token)
      paths(path) += 1
      val got = m.inferToken(token)
      assert(got == want, s"token=$token")
      token + "\t" + got
    }
    info(paths.toSeq.sorted.mkString(" "))
    Seq("exact", "w1", "w2", "split", "w3", "fallback").foreach(p => assert(paths(p) > 0, p))
    // the outputs themselves are pinned, so a kernel change that moves the
    // restatement with it still fails here
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(lines.sorted.mkString("\n").getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
    assert(md5 == "1c898c59f8e06c2bd98a92b933dc1cd9", s"digest $md5")
  }

  test("DictionaryModel.inferToken ≡ capped-DP scan on fallback-shaped tokens") {
    val vocab = DocGen.lexicon.take(1500).zipWithIndex.map { case (w, i) => w -> (1L + i % 13) }.toMap
    val dm = new DictionaryModel(vocab, 1L)
    val words = vocab.toSeq.map { case (w, f) => (w, f, w.codePoints().toArray) }
    val r = new scala.util.Random(67)
    val letters = DocGen.goodChars
    def rand(len: Int): String = new String(Array.fill(len)(letters(r.nextInt(letters.length))), 0, len)
    /** Witness: the full scan by (dist asc, freq desc, token asc), uncapped. */
    def scan(token: String): (Int, String) = {
      val tcp = token.codePoints().toArray
      val (d, _, w) = words.map { case (w, f, wcp) =>
        (DamerauLevenshtein.distanceBandedCappedCp(tcp, wcp, Int.MaxValue - 1), -f, w)
      }.min
      (d, w)
    }
    var checked = 0
    while (checked < 300) {
      val token = rand(if (checked % 10 == 0) 65 + r.nextInt(6) else 6 + r.nextInt(25))
      val (d, want) = scan(token)
      if (d > 3) { // no word within the noisy-channel widths
        assert(dm.inferToken(token) == want, s"token=$token")
        checked += 1
      }
    }
  }

  test("8 threads sharing one model produce the single-thread results") {
    val lex = DocGen.lexicon
    val vocab = lex.take(2000).zipWithIndex.map { case (w, i) => w -> (1L + i % 50) }.toMap
    val rng = new DetRng(71L)
    val tokens = (0 until 3000).map { i =>
      val clean = if (i % 4 == 0) lex(rng.nextInt(lex.length)) + lex(rng.nextInt(lex.length))
                  else lex(rng.nextInt(lex.length))
      NoiseChannel.mutilate(clean, DocGen.goodChars, rng)
    }
    val single = {
      val m = new NoisyChannelModel(vocab, 1L, DocGen.goodChars.length)
      tokens.map(m.inferToken)
    }
    val shared = new NoisyChannelModel(vocab, 1L, DocGen.goodChars.length) // lazy state cold
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val runs = (0 until 8).map { k =>
        pool.submit(new java.util.concurrent.Callable[Seq[String]] {
          // each thread walks the tokens from its own starting point
          def call(): Seq[String] = {
            val order = tokens.indices.map(i => (i + k * 375) % tokens.length)
            val out = new Array[String](tokens.length)
            order.foreach(i => out(i) = shared.inferToken(tokens(i)))
            out.toSeq
          }
        })
      }
      runs.zipWithIndex.foreach { case (f, k) =>
        val got = f.get
        val bad = got.indices.find(i => got(i) != single(i))
        assert(bad.isEmpty, bad.map(i => s"thread $k: ${tokens(i)} -> ${got(i)}, not ${single(i)}"))
      }
    } finally pool.shutdown()
  }

  test("fuzz: hostile unicode (astral plane, combining, huge tokens) never throws, deterministic") {
    val vocab = DocGen.lexicon.take(300).zipWithIndex.map { case (w, i) => w -> (i + 1).toLong }.toMap
    val m = new NoisyChannelModel(vocab, 1L, 30)
    val r = new scala.util.Random(5)
    val pools = Seq("abcxyz", "😀🧪𝔘𝔫", "ж╬ñçü", "éä", " \t")
    (0 until 150).foreach { trial =>
      val s = (0 until r.nextInt(40)).map { _ =>
        val p = pools(r.nextInt(pools.length)); p.charAt(r.nextInt(p.length))
      }.mkString + (if (trial % 17 == 0) "x" * 300 else "") // occasional huge token
      val a = m.inferSentence(s)
      val b = m.inferSentence(s)
      assert(a == b, s"nondeterministic on ${s.take(40)}…")
    }
  }

  test("channel log-prob: identity beats any single edit; edits ranked by channel weights") {
    val m = new NoisyChannelModel(Map("abc" -> 1L), 1L, goodCharsCount = 30)
    val id = m.channelLogProb("abc", "abc")
    assert(id > m.channelLogProb("abx", "abc")) // sub
    assert(id > m.channelLogProb("ab", "abc"))  // del
    assert(id > m.channelLogProb("abbc", "abc")) // ins
    assert(id > m.channelLogProb("acb", "abc")) // swap
    // delete (p=.03) is more likely than substitution (p=.03/30)
    assert(m.channelLogProb("ab", "abc") > m.channelLogProb("abx", "abc"))
    // swap cheaper than two substitutions
    assert(m.channelLogProb("acb", "abc") > m.channelLogProb("axy", "abc"))
  }

  test("inferToken: exact hit, nearest, channel trades distance against frequency") {
    val m = new NoisyChannelModel(Map("cat" -> 10L, "bat" -> 5L, "dog" -> 7L), 1L, 30)
    assert(m.inferToken("cat") == "cat")
    assert(m.inferToken("caz") == "cat")
    assert(m.inferToken("aat") == "cat") // dist tie → freq decides through the prior
    // a very frequent word at dist 2 can beat a rare word at dist 1:
    // channel odds per extra edit ≈ log(psub) - log(match) ≈ -6.9; prior gap
    // log(100000/1) ≈ 11.5 overcomes it
    val m2 = new NoisyChannelModel(Map("the" -> 100000L, "thx" -> 1L), 1L, 30)
    assert(m2.inferToken("thz") == "the") // dist(thz,thx)=1 but prior wins
  }

  test("segmentation: merged tokens split back into word pairs") {
    val m = new NoisyChannelModel(
      Map("the" -> 100L, "cat" -> 50L, "table" -> 30L, "spark" -> 40L, "on" -> 20L), 1L, 30)
    assert(m.inferToken("thecat") == "the cat")      // deleted space
    assert(m.inferToken("thexcat") == "the cat")     // space substituted
    assert(m.inferToken("sparktable") == "spark table")
    assert(m.inferToken("thecaz") == "the cat")      // merge + edit in second word
    // a near-miss single word must still win over a contrived split
    assert(m.inferToken("tablex") == "table")
    assert(m.inferSentence("thecat on thextable") == "the cat on the table")
  }

  test("e2e: noisy-channel corrector beats null and at least matches the dictionary corrector") {
    val docs = DocGen.docs(spark, 400).toDF().cache()
    val vocabDf = DictionaryCorrector.trainVocab(docs).cache()
    val spans = CP.explodeSpans(docs, "noisy_spans")

    val nullCer = CP.cer(CP.correct(spans, NullCorrector), docs)
    val dictBc = DictionaryCorrector.buildModel(spark, vocabDf, 2L)
    val dictCer = CP.cer(CP.correct(spans, DictionaryCorrector.corrector(dictBc)), docs)
    val ncBc = NoisyChannelModel.fromVocabDf(spark, vocabDf, 2L)
    val ncCer = CP.cer(CP.correct(spans, new NoisyChannelCorrector(ncBc)), docs)

    info(f"null=${nullCer.avgDistance}%.4f dict=${dictCer.avgDistance}%.4f nc=${ncCer.avgDistance}%.4f")
    info(f"perfect: null=${nullCer.percentPerfect}%.4f dict=${dictCer.percentPerfect}%.4f nc=${ncCer.percentPerfect}%.4f")
    assert(ncCer.avgDistance < nullCer.avgDistance)
    assert(ncCer.avgDistance <= dictCer.avgDistance * 1.05,
      s"noisy-channel ${ncCer.avgDistance} materially worse than dictionary ${dictCer.avgDistance}")
    dictBc.destroy(); ncBc.destroy()
  }

  test("OSA distance is code-point-reversal invariant (the reversed-trie premise)") {
    val r = new scala.util.Random(31)
    def rev(s: String): String = {
      val cp = s.codePoints().toArray.reverse
      val sb = new java.lang.StringBuilder; cp.foreach(sb.appendCodePoint); sb.toString
    }
    (0 until 3000).foreach { _ =>
      val a = new String(Array.fill(r.nextInt(10))(('a' + r.nextInt(5)).toChar))
      val b = new String(Array.fill(r.nextInt(10))(('a' + r.nextInt(5)).toChar))
      assert(DamerauLevenshtein.distance(a, b) == DamerauLevenshtein.distance(rev(a), rev(b)),
        s"a=$a b=$b")
    }
  }

  test("capped OSA distance: exact <= cap, strictly above otherwise") {
    val r = new scala.util.Random(53)
    (0 until 4000).foreach { _ =>
      val a = Array.fill(r.nextInt(12))('a' + r.nextInt(5))
      val b = Array.fill(r.nextInt(12))('a' + r.nextInt(5))
      val full = DamerauLevenshtein.distance(new String(a.map(_.toChar)), new String(b.map(_.toChar)))
      (0 to 6).foreach { cap =>
        val capped = DamerauLevenshtein.distanceBandedCappedCp(a, b, cap)
        if (full <= cap) assert(capped == full, s"cap=$cap full=$full capped=$capped")
        else assert(capped > cap, s"cap=$cap full=$full capped=$capped")
      }
    }
  }
}
