package graft

import org.apache.spark.sql.functions._
import graft.dedup.Dedup

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "The  quick Brown fox jumps over the lazy dog"), // exact dup after normalization
    (2L, "the quick brown fox jumps over the lazy cat"),  // near dup (1 token differs)
    (3L, "spark shuffles partitions across the cluster nodes"),
    (4L, "completely different text about query optimizers and joins"),
    (5L, "spark shuffles partitions across the cluster nodes")  // exact dup of 3
  ).toDF("doc_id", "text")

  test("exact dedup: normalized-equal texts collapse to the min-id survivor") {
    val groups = Dedup.exactGroups(docs).collect()
    assert(groups.length == 4) // 6 docs, two pairs collapse
    val dups = groups.filter(_.getAs[Long]("n_docs") > 1).map(_.getAs[Long]("keep_id")).sorted
    assert(dups.toSeq == Seq(0L, 3L))
    val kept = Dedup.dedupExact(docs).select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(0L, 2L, 3L, 4L))
  }

  test("let binds a derived expression without changing its value") {
    val out = docs.select(
      Dedup.let(Dedup.tokens($"text"))(t => size(t) * 2 + size(t)).as("v"),
      (size(Dedup.tokens($"text")) * 3).as("w"))
      .as[(Int, Int)].collect()
    out.foreach { case (v, w) => assert(v == w) }
  }

  test("word shingles: correct k-gram set and short-text fallback") {
    val sh = docs.filter($"doc_id" === 0)
      .select(Dedup.wordShingles($"text", 3).as("sh")).as[Seq[String]].head()
    assert(sh.head == "the quick brown" && sh.last == "the lazy dog")
    assert(sh.length == 9 - 3 + 1)
    val short = Seq((0L, "two words")).toDF("doc_id", "text")
      .select(Dedup.wordShingles($"text", 3).as("sh")).as[Seq[String]].head()
    assert(short == Seq("two words"))
  }

  test("minhash: identical texts share the full signature; near-dups share most of it") {
    val sig = docs.select($"doc_id", Dedup.minHashSignature($"text", 3, 16).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(sig(0L) == sig(1L)) // normalization-equal
    assert(sig(3L) == sig(5L))
    val agree02 = sig(0L).zip(sig(2L)).count { case (a, b) => a == b }
    val agree04 = sig(0L).zip(sig(4L)).count { case (a, b) => a == b }
    assert(agree02 > agree04, s"near-dup should agree more: $agree02 vs $agree04")
  }

  test("native kernel ≡ per-row HOF ≡ exploded-relational minhash (same affine family)") {
    val n = 6
    def toMapOf(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> (1 to n).map(i => r.getLong(i)).toSeq).toMap
    val perRow = docs.select($"doc_id", Dedup.minHashSignature($"text", 3, n).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    val native = toMapOf(Dedup.minHashSignatures(docs, shingleK = 3, nHashes = n))
    val exploded = toMapOf(Dedup.minHashSignaturesExploded(docs, shingleK = 3, nHashes = n))
    assert(native == perRow)
    assert(native == exploded)
    // hostile normalization edges: unicode whitespace runs, control chars at
    // the boundary, a short doc, the empty doc — all three forms must agree
    val edge = Seq(
      (0L, ""), (1L, "   "), (2L, "one"), (3L, "two words"),
      (4L, "\tTAB  and\n\nNEWLINES  here maybe more tokens"),
      (5L, "ctrl edge"), (6L, "ЖУРНАЛ Русский Текст С Кириллицей"),
      (7L, "exactly three tokens"), (8L, "😀 emoji 😀 tokens 😀 galore 😀"))
      .toDF("doc_id", "text")
    val eNative = toMapOf(Dedup.minHashSignatures(edge, 3, n))
    val eExploded = toMapOf(Dedup.minHashSignaturesExploded(edge, 3, n))
    val ePerRow = edge.select($"doc_id", Dedup.minHashSignature($"text", 3, n).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(eNative == eExploded, s"native $eNative\nexploded $eExploded")
    assert(eNative == ePerRow)
  }

  test("native minhash signatures are NARROW: no exchange, kernel evaluated once per row") {
    val sigs = Dedup.minHashSignatures(docs.repartition(3), shingleK = 3, nHashes = 8)
    val plan = sigs.queryExecution.executedPlan.toString
    // the repartition's exchange is in the INPUT; the signature itself adds
    // no aggregate/exchange — the exploded form had both
    assert(!plan.contains("HashAggregate"), s"signature still aggregates:\n$plan")
    assert(!plan.toLowerCase.contains("generate"), s"signature still explodes:\n$plan")
    // whole-stage codegen subexpression elimination: 8 h-columns, ONE
    // minhash_sig kernel eval (subexprElimination rewrites them to subExpr).
    // Run the plan first: the repartition's exchange puts it under AQE,
    // which builds its codegen stages only when the plan executes. Count in
    // the code only: the plan text above each subtree names the kernel too.
    sigs.collect()
    val codegen = org.apache.spark.sql.execution.debug.codegenStringSeq(sigs.queryExecution.executedPlan)
      .map(_._2).mkString("\n")
    val calls = codegen.split("minhash_sig|MinHashKernel.signature").length - 1
    assert(calls >= 1 && calls <= 3,
      s"kernel not shared across h-columns, or not called:\n${codegen.take(2000)}")
  }

  test("LSH candidate pairs find the exact and near duplicates, jaccard verifies") {
    val pairs = Dedup.lshCandidatePairs(docs, shingleK = 3, nBands = 8, rowsPerBand = 2)
    val got = pairs.as[(Long, Long)].collect().toSet
    assert(got.contains((0L, 1L)))
    assert(got.contains((3L, 5L)))
    val verified = Dedup.jaccardVerify(docs, pairs).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(verified((0L, 1L)) == 1.0)
    assert(verified((3L, 5L)) == 1.0)
    verified.get((0L, 2L)).foreach(j => assert(j > 0.3 && j < 1.0))
  }

  test("near-dup dedup: a k=50 cluster verifies O(k) star pairs, not O(k²); survivors ≡ pairwise") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    // 50 NEAR-identical docs (unique tail token → not exact dups): pairwise
    // shingle jaccard = 8/14 ≈ 0.571, above the 0.5 threshold
    val cluster = (0 until 50).map(i => (i.toLong, s"$base tail$i"))
    val others = Seq(
      (100L, "totally unrelated prose about query planners and shuffle exchanges"),
      (101L, "another independent document with zero vocabulary overlap anywhere"),
      (200L, "verbatim boilerplate repeated byte for byte across the crawl"),
      (201L, "verbatim boilerplate repeated byte for byte across the crawl")) // exact dup of 200
    val df = (cluster ++ others).toDF("doc_id", "text")

    val reps = Dedup.dedupExact(df)
    val pairs = Dedup.lshCandidatePairs(reps, shingleK = 3, nBands = 4, rowsPerBand = 2)
    val stars = Dedup.starPairs(pairs)
    val (nPairs, nStars) = (pairs.count(), stars.count())
    // candidate pairs are quadratic in the cluster; star pairs are linear —
    // this is what keeps the verification join O(k·|shingles|)
    assert(nStars <= 53, s"star pairs must be ≤ one per non-minimal member, got $nStars")
    assert(nPairs > 5 * nStars, s"expected quadratic pairs vs linear stars: $nPairs vs $nStars")
    // star pairs cover every doc the full pair set covers as a dedup target
    assert(stars.select("id_b").distinct().count() == pairs.select("id_b").distinct().count())

    val survivors = Dedup.dedupNearLsh(df, threshold = 0.5)
      .select("doc_id").as[Long].collect().sorted.toSeq
    // baseline: FULL pairwise verification, drop every id_b in a passing pair
    val dropped = Dedup.jaccardVerify(reps, pairs).filter($"jaccard" >= 0.5)
      .select($"id_b".as("doc_id")).distinct()
    val baseline = reps.join(dropped, Seq("doc_id"), "left_anti")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(survivors == baseline, s"star survivors $survivors != pairwise $baseline")
    // the cluster keeps its min id; unrelated docs survive; the exact dup
    // (201) was collapsed by the pre-step before LSH ever saw it
    assert(survivors.contains(0L) && survivors.contains(100L) &&
      survivors.contains(101L) && survivors.contains(200L))
    assert(!survivors.contains(201L))
    assert(survivors.count(_ < 50L) < 10, s"cluster was not deduplicated: $survivors")
  }

  test("native ngram-jaccard kernel ≡ column form on random and edge pairs") {
    val r = new scala.util.Random(31)
    val words = Seq("alpha", "beta", "gamma", "delta", "eps", "Ж", "😀", "x1")
    def text() = (0 until r.nextInt(12)).map(_ => words(r.nextInt(words.length))).mkString(" ")
    val pairs = ((0 until 150).map(i => (i.toLong, text(), text())) ++ Seq(
      (900L, "", ""), (901L, "", "one two three"), (902L, "same text", "same text"),
      (903L, "two words", "two words extra here"), (904L, " \t padded \n ", "padded")))
      .toDF("id", "ta", "tb")
    for (k <- Seq(2, 3)) {
      val nat = Dedup.ngramJaccardPairs(pairs, "ta", "tb", k)
        .select($"id", $"jaccard").as[(Long, Double)].collect().toMap
      val cols = Dedup.ngramJaccardPairsColumns(pairs, "ta", "tb", k)
        .select($"id", $"jaccard").as[(Long, Double)].collect().toMap
      assert(nat == cols, s"k=$k")
    }
  }

  test("ngram jaccard on explicit pairs: identity = 1, disjoint = 0") {
    val pairs = Seq(
      ("the quick brown fox", "the quick brown fox", "same"),
      ("the quick brown fox", "totally unrelated words here", "disjoint")
    ).toDF("text_a", "text_b", "label")
    val out = Dedup.ngramJaccardPairs(pairs, "text_a", "text_b", 2, "j")
      .select($"label", $"j")
      .as[(String, Double)].collect().toMap
    assert(out("same") == 1.0)
    assert(out("disjoint") == 0.0)
  }

  test("containment: near-superset pairs score ~1 where jaccard scores low") {
    // B quotes A wholesale and adds twice as much commentary: every shingle
    // of A is in B, so containment_a = 1 while jaccard ~ |A|/|B|
    val quoted = "the original short article body with its own exact words here"
    val cdocs = Seq(
      (0L, quoted),
      (1L, s"$quoted plus a long commentary section that the aggregator site appended " +
        "with extra paragraphs of unrelated discussion and citations and navigation text"),
      (2L, "a completely different page about query planners")).toDF("doc_id", "text")
    val pairs = Seq((0L, 1L), (0L, 2L)).toDF("id_a", "id_b")
    val got = Dedup.containmentVerify(cdocs, pairs, shingleK = 3)
      .as[(Long, Long, Double, Double, Double)].collect()
      .map(r => (r._1, r._2) -> r).toMap
    val (_, _, j01, ca01, cb01) = got((0L, 1L))
    assert(ca01 == 1.0, s"A fully inside B: containment_a = $ca01")
    assert(j01 < 0.5, s"jaccard must miss the inclusion: $j01")
    assert(cb01 < 0.5, s"B is not inside A: $cb01")
    // zero-overlap pairs emit NO row (verify is an inner join on the
    // intersection — same semantics as jaccardVerify)
    assert(!got.contains((0L, 2L)))
    // driver mirror: exact shingle-set arithmetic
    def shingles(t: String) = {
      val toks = t.toLowerCase.trim.split("\\s+").filter(_.nonEmpty).toSeq
      (if (toks.length <= 3) Seq(toks.mkString(" "))
       else toks.sliding(3).map(_.mkString(" ")).toSeq).toSet
    }
    val (sa, sb) = (shingles(quoted), shingles(cdocs.as[(Long, String)].collect()(1)._2))
    val ni = (sa intersect sb).size.toDouble
    assert(ca01 == ni / sa.size && cb01 == ni / sb.size)
    assert(j01 == ni / (sa.size + sb.size - ni))
    // the LSH-gated operator finds the inclusion when band candidacy holds
    val found = Dedup.containmentPairs(cdocs, threshold = 0.9, shingleK = 3,
        nBands = 8, rowsPerBand = 1)
      .as[(Long, Long, Double, Double, Double)].collect().map(r => (r._1, r._2)).toSet
    assert(found.contains((0L, 1L)), s"got $found")
  }

  test("LSH Ensemble: extreme-ratio inclusion missed by plain LSH, caught by the ensemble") {
    // B is ~260 unique words; A is a 32-word slice quoted wholesale:
    // containment_a = 1 but jaccard ≈ 30/258 ≈ 0.12 — far under plain
    // banding's reach, inside the ensemble's r=1 window
    val longWords = (0 until 260).map(i => s"w$i")
    val big = (1000L, longWords.mkString(" "))
    val small = (1L, longWords.slice(100, 132).mkString(" "))
    val other = (2L, (0 until 40).map(i => s"z$i").mkString(" "))
    val cdocs = Seq(small, other, big).toDF("doc_id", "text")

    // plain LSH (default 4 bands × 2 rows): candidacy factually misses
    val plain = Dedup.containmentPairs(cdocs, threshold = 0.9)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(!plain.contains((1L, 1000L)),
      s"fixture must demonstrate the gap — tweak words if plain LSH got lucky: $plain")

    // the ensemble partitions by size (p=4 vs p=8) and tunes that bucket
    // pair's banding down to r=1: the inclusion is caught, exactly verified
    val ens = Dedup.containmentPairsEnsemble(cdocs, threshold = 0.9)
      .as[(Long, Long, Double, Double, Double)].collect()
      .map(r => (r._1, r._2) -> r).toMap
    assert(ens.contains((1L, 1000L)), s"ensemble must catch the inclusion: ${ens.keySet}")
    val (_, _, j, ca, cb) = ens((1L, 1000L))
    assert(ca == 1.0, s"containment_a = $ca")
    assert(j < 0.15, s"jaccard stays low: $j")
    assert(cb < 0.15, s"containment_b stays low: $cb")
    // no false pairs: verification is exact on candidates
    assert(ens.keySet == Set((1L, 1000L)), ens.keySet.toString)

    // moderate ratios agree with the plain operator (both exact on
    // candidates; candidacy holds for both at ratio ~3)
    val quoted = "the original short article body with its own exact words here"
    val mdocs = Seq(
      (0L, quoted),
      (1L, s"$quoted plus a long commentary section that the aggregator site appended " +
        "with extra paragraphs of unrelated discussion and citations and navigation text"))
      .toDF("doc_id", "text")
    val m1 = Dedup.containmentPairs(mdocs, threshold = 0.9, shingleK = 3,
        nBands = 8, rowsPerBand = 1)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val m2 = Dedup.containmentPairsEnsemble(mdocs, threshold = 0.9)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(m1 == Set((0L, 1L)) && m2 == Set((0L, 1L)), s"$m1 / $m2")
  }

  test("shingle_hashes / ensemble_minhash kernels ≡ relational md5 chains") {
    org.apache.spark.sql.graft.NativeFunctions.register(spark)
    val rng = new scala.util.Random(11)
    val vocab = Seq("the", "quick", "Brown", "fox", "ЖУРНАЛ", "😀", "a", "tab\there")
    val fuzz = (10L until 40L).map(i =>
      (i, Seq.fill(rng.nextInt(12))(vocab(rng.nextInt(vocab.length)))
        .mkString(if (rng.nextBoolean()) " " else "  ")))
    val edge = (Seq(
      (0L, ""), (1L, "   "), (2L, "one"), (3L, "two words"),
      (4L, "\tTAB  and\n\nNEWLINES  here maybe more tokens"),
      (5L, "the quick brown fox jumps over the lazy dog the quick brown fox"),
      (6L, "ЖУРНАЛ Русский Текст С Кириллицей"),
      (7L, "😀 emoji 😀 tokens 😀 galore 😀 emoji 😀 tokens"),
      (8L, null.asInstanceOf[String])) ++ fuzz).toDF("doc_id", "text")
    for (k <- Seq(1, 2, 3)) {
      val kernel = edge.select($"doc_id",
        call_function("shingle_hashes", $"text", lit(k)).as("hs"))
        .as[(Long, Seq[Long])].collect().toMap
      val rel = edge.select($"doc_id",
        transform(array_distinct(Dedup.tokenShingles(Dedup.tokens($"text"), k)),
          s => conv(substring(md5(s), 1, 15), 16, 10).cast("long")).as("hs"))
        .as[(Long, Seq[Long])].collect().toMap
      assert(kernel == rel, s"k=$k")
      // ensemble: XOR-mask minima over the same distinct-shingle hashes,
      // distinct count as the final element
      val n = 8
      val ens = edge.select($"doc_id",
        call_function("ensemble_minhash", $"text", lit(k), lit(n)).as("es"))
        .as[(Long, Seq[Long])].collect().toMap
      kernel.foreach { case (id, hs) =>
        if (hs == null) assert(ens(id) == null, s"k=$k id=$id")
        else {
          val want = (0 until n).map(i => hs.map(_ ^ Dedup.ensembleMask(i)).min) :+ hs.size.toLong
          assert(ens(id) == want, s"k=$k id=$id")
        }
      }
    }
  }

  test("hash_overlap_count: multiset product semantics; overlapVerify ≡ exploded witness") {
    org.apache.spark.sql.graft.NativeFunctions.register(spark)
    // kernel pins: sorted multiset overlap = Σ cntA(v)·cntB(v) — exactly
    // the exploded equi-join's row count, duplicate values included (the
    // 60-bit-collision case the fuzz corpora cannot produce)
    def oc(a: Seq[Long], b: Seq[Long]): Long =
      Seq((a.sorted, b.sorted)).toDF("a", "b")
        .select(call_function("hash_overlap_count", $"a", $"b")).as[Long].head()
    assert(oc(Seq(1L, 2L, 3L), Seq(2L, 3L, 4L)) == 2L)
    assert(oc(Seq(1L, 1L, 2L), Seq(1L, 3L)) == 2L)      // 2×1 collision product
    assert(oc(Seq(5L, 5L), Seq(5L, 5L, 5L)) == 6L)      // 2×3
    assert(oc(Seq(1L), Seq(2L)) == 0L)
    assert(oc(Seq.empty, Seq(1L)) == 0L)
    // operator equivalence on a fuzz corpus with dense overlap + edges
    val rng = new scala.util.Random(23)
    val vocab = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta")
    val fdocs = ((0L until 30L).map(i =>
      (i, Seq.fill(4 + rng.nextInt(20))(vocab(rng.nextInt(vocab.length))).mkString(" ")))
      ++ Seq((98L, ""), (99L, null.asInstanceOf[String]))).toDF("doc_id", "text")
    val fpairs = (for (a <- 0L until 30L; b <- a + 1 until 32L if rng.nextBoolean())
      yield (a, if (b >= 30L) 68L + b else b)).toDF("id_a", "id_b")
    for (k <- Seq(1, 2, 3)) {
      val kernel = Dedup.overlapVerify(fdocs, fpairs, k)
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      val witness = Dedup.overlapVerifyExploded(fdocs, fpairs, k)
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      assert(kernel == witness, s"k=$k")
      assert(kernel.nonEmpty, s"k=$k fixture should overlap")
    }
  }

  test("corpus-sized self-join sides are never broadcast (the Generate mis-estimate guard)") {
    // Catalyst sizes explode-over-scan subtrees at their input-scan bytes,
    // so without the shuffle_hash hints AQE broadcasts a corpus-sized band/
    // fingerprint/shingle side — fine on a fixture, an OOM at real scale
    // (measured at sf1: 13.5M rows broadcast, 28x wall time). These pins
    // fail if the hints are ever dropped.
    def selfJoinIsShuffled(df: org.apache.spark.sql.DataFrame, tag: String): Unit = {
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("ShuffledHashJoin") || plan.contains("SortMergeJoin"),
        s"$tag: the corpus-sized self-join must shuffle, got:\n${plan.take(2000)}")
    }
    selfJoinIsShuffled(Dedup.lshCandidatePairs(docs), "lshCandidatePairs")
    selfJoinIsShuffled(Dedup.simHashNearDupPairs(docs), "simHashNearDupPairs")
    selfJoinIsShuffled(Dedup.overlapVerify(docs,
      Seq((0L, 1L)).toDF("id_a", "id_b")), "overlapVerify")
    selfJoinIsShuffled(graft.textanalysis.SubstringDup.sharedSubstringPairs(
      Seq((0L, "a shared substring of many characters right here"),
          (1L, "also a shared substring of many characters right here"))
        .toDF("doc_id", "text"), minLen = 16), "sharedSubstringPairs")
    selfJoinIsShuffled(graft.textanalysis.SubstringDup.selfRepeats(
      Seq((0L, "repeat me twice repeat me twice")).toDF("doc_id", "text"),
      minLen = 12), "selfRepeats")
    val fp = graft.textanalysis.Winnowing.fingerprintTable(spark,
      docs, k = 4, w = 4)
    selfJoinIsShuffled(graft.textanalysis.Winnowing.matchPairs(fp, minShared = 1L),
      "winnow matchPairs")
  }

  test("simhash banded near-dup pairs == brute-force pairs within the Hamming radius") {
    // near-dup family: long base text with single-token perturbations (small
    // signature flips) plus unrelated docs (far signatures)
    val base = "the quick brown fox jumps over the lazy dog while spark " +
      "shuffles partitions across the cluster and catalyst optimizes plans"
    val family = Seq(
      (0L, base),
      (1L, base.replace("lazy", "sleepy")),
      (2L, base.replace("quick", "rapid")),
      (3L, base + " tail"),
      (4L, "completely different text about query optimizers and broadcast joins"),
      (5L, "yet another unrelated document mentioning watermarks and state stores")
    ).toDF("doc_id", "text")
    val maxHamming = 3
    val sigs = Dedup.simHash32Relational(family).as[(Long, Long)].collect().toMap
    val brute = (for {
      a <- sigs.keys; b <- sigs.keys if a < b
      if java.lang.Long.bitCount(sigs(a) ^ sigs(b)) <= maxHamming
    } yield (a, b, java.lang.Long.bitCount(sigs(a) ^ sigs(b)).toLong)).toSet
    val banded = Dedup.simHashNearDupPairs(family, maxHamming)
      .as[(Long, Long, Long)].collect().toSet
    // pigeonhole with maxHamming+1 bands ⇒ banded candidates are COMPLETE
    assert(banded == brute, s"banded=$banded brute=$brute")
    assert(brute.nonEmpty, "fixture should contain at least one near-dup pair")
  }

  test("simhash: equal for identical text, closer hamming for near-dups than unrelated") {
    def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    val sh = docs.select($"doc_id", Dedup.simHash32($"text").as("h")).as[(Long, Long)].collect().toMap
    assert(sh(0L) == sh(1L))
    assert(sh(3L) == sh(5L))
    assert(hamming(sh(0L), sh(2L)) < hamming(sh(0L), sh(4L)))
    val groups = Dedup.simHashGroups(docs).collect()
    assert(groups.exists(r => r.getAs[Long]("n_docs") >= 2))
  }

  test("native simhash kernel ≡ per-row HOF ≡ exploded-relational simhash, and stays narrow") {
    val hof = docs.select($"doc_id", Dedup.simHash32($"text").as("simhash"))
      .as[(Long, Long)].collect().toMap
    val native = Dedup.simHash32Relational(docs).as[(Long, Long)].collect().toMap
    val exploded = Dedup.simHash32Exploded(docs).as[(Long, Long)].collect().toMap
    assert(hof == native)
    assert(native == exploded)
    // hostile normalization edges through all three forms
    val edge = Seq((0L, ""), (1L, " \t\n "), (2L, "ОДИН токен"), (3L, "a  b   c"),
      (4L, "😀 emoji 😀"), (5L, "x")).toDF("doc_id", "text")
    val eH = edge.select($"doc_id", Dedup.simHash32($"text").as("s")).as[(Long, Long)].collect().toMap
    val eN = Dedup.simHash32Relational(edge).as[(Long, Long)].collect().toMap
    val eX = Dedup.simHash32Exploded(edge).as[(Long, Long)].collect().toMap
    assert(eN == eH && eN == eX, s"native $eN hof $eH exploded $eX")
    // narrow: the native form adds no aggregate/exchange/generate
    val plan = Dedup.simHash32Relational(docs.repartition(3))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("HashAggregate") && !plan.toLowerCase.contains("generate"),
      s"native simhash is not narrow:\n$plan")
  }
}
