package graft

import org.apache.spark.sql.functions._
import graft.textanalysis.TextAnalysis

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  test("langId: script/diacritic detection per class") {
    val df = Seq(
      ("hello plain english text", "en"),
      ("das ist schön für müller", "de"),
      ("mañana está aquí señor", "es"),
      ("être à côté de la fenêtre", "fr"),
      ("这是中文文本", "zh")
    ).toDF("text", "expected")
    val out = df.select($"expected", TextAnalysis.langId($"text").as("got"))
      .as[(String, String)].collect()
    out.foreach { case (exp, got) => assert(got == exp, s"expected $exp got $got") }
  }

  test("token counts: whitespace and BPE-ish") {
    val df = Seq(("the cat, sat!  on 42 mats", 0)).toDF("text", "u")
    val r = df.select(
      TextAnalysis.wsTokenCount($"text").as("ws"),
      TextAnalysis.bpeTokenCount($"text").as("bpe")).head()
    assert(r.getInt(0) == 6)
    // [the][cat][,][sat][!][on][42][mats] = 8
    assert(r.getInt(1) == 8)
    val empty = Seq(("", 0)).toDF("text", "u")
      .select(TextAnalysis.wsTokenCount($"text")).head().getInt(0)
    assert(empty == 0)
  }

  test("quality score: natural prose beats punctuation soup, bounded [0,1]") {
    val df = Seq(
      ("good", "the quick brown fox jumps over the lazy dog and runs on the hill for a while"),
      ("bad", "@@@ ### !!! ;;; ::: %%% ^^^ &&& *** ((( )))")
    ).toDF("label", "text")
    val scores = df.select($"label", TextAnalysis.qualityScore($"text").as("q"))
      .as[(String, Double)].collect().toMap
    assert(scores("good") > scores("bad"))
    scores.values.foreach(q => assert(q >= 0.0 && q <= 1.0))
  }

  test("stopword ratio: exact fraction") {
    val r = Seq(("the cat and the dog", 0)).toDF("text", "u")
      .select(TextAnalysis.stopwordRatio($"text")).head().getDouble(0)
    assert(r == 3.0 / 5.0) // the, and, the
  }

  test("fingerprints: whitespace/case-insensitive md5, order-sensitive rolling") {
    val df = Seq(
      (0L, "Hello  World"),
      (1L, "hello world"),   // same md5 fingerprint after normalization
      (2L, "world hello")    // same bag of words, different order
    ).toDF("doc_id", "text")
    val fps = df.select($"doc_id", TextAnalysis.contentFingerprint($"text").as("fp"),
      TextAnalysis.rollingFingerprint($"text").as("rfp"))
      .as[(Long, String, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(fps(0L)._1 == fps(1L)._1)
    assert(fps(1L)._1 != fps(2L)._1)
    assert(fps(1L)._2 != fps(2L)._2) // rolling hash is order-sensitive
  }

  test("rolling fingerprint matches a plain Scala reimplementation") {
    val texts = Seq("abc", "the quick brown fox", "a", "")
    def expected(s: String): Long =
      s.foldLeft(0L)((h, c) => (h * 131 + c.toLong) % 2147483647L)
    val got = texts.toDF("text").select(TextAnalysis.rollingFingerprint($"text"))
      .as[Long].collect()
    texts.zip(got).foreach { case (t, g) => assert(g == expected(t), s"for '$t'") }
  }

  test("repetition signals: hand-computed cases") {
    val df = Seq(
      (0L, "a b a b a"),         // tokens 5/2 distinct; bigrams: "a b"×2 "b a"×2 → all dup
      (1L, "one two three four"),// no repetition at all
      (2L, "word"),              // single token: bigram signals undefined → 0
      (3L, "")                   // empty: everything 0
    ).toDF("doc_id", "text")
    val got = df.select($"doc_id", TextAnalysis.repetitionSignals(spark, $"text").as("r"))
      .as[(Long, Seq[Double])].collect().toMap
    assert(got(0L)(0) == 1.0 - 2.0 / 5.0)
    assert(got(0L)(1) == (2.0 * 3) / 9)   // "a b"×2, len 3, norm len 9
    assert(got(0L)(2) == 1.0)             // 4/4 bigram occurrences duplicated
    assert(got(1L) == Seq(0.0, 1.0 * 7 / 18, 0.0)) // all freq-1: tie-break → "one two" (7 chars) of 18
    assert(got(2L) == Seq(0.0, 0.0, 0.0))
    assert(got(3L) == Seq(0.0, 0.0, 0.0))
  }

  test("quality signals: kernel ≡ Column component family on random texts") {
    val rng = new scala.util.Random(19)
    val words = Vector("the", "and", "alpha", "beta", "x!", "y.y", "\"q\"", "{z}",
      "ß", "日本", "ÄÖÜ", "for", "42", "--", "(a)")
    val texts: Seq[(Long, Option[String])] = (0 until 300).map { i =>
      val n = rng.nextInt(12)
      (i.toLong, Option((0 until n).map(_ => words(rng.nextInt(words.length)))
        .mkString(if (rng.nextBoolean()) " " else "\t ")))
    } :+ (300L, Some("")) :+ (301L, Some("   ")) :+ (302L, Some("ONE the THE one")) :+
      (303L, None) // null text: null-in/null-out in both forms
    val df = texts.toDF("doc_id", "text")
    val kernel = df.select($"doc_id", TextAnalysis.qualitySignals(spark, $"text").as("q"))
      .select($"doc_id", element_at($"q", 1), element_at($"q", 2), element_at($"q", 3),
        element_at($"q", 4), element_at($"q", 5), element_at($"q", 6))
      .as[(Long, Option[Double], Option[Double], Option[Double], Option[Double], Option[Double], Option[Double])].collect().sortBy(_._1).toSeq
    val column = df
      .withColumn("__toks", TextAnalysis.wsTokens($"text"))
      .withColumn("__ltoks", TextAnalysis.wsTokens(lower($"text")))
      .withColumn("__alpha", TextAnalysis.alphaRatio($"text"))
      .withColumn("__punct", TextAnalysis.punctRatio($"text"))
      .withColumn("__stopr", TextAnalysis.stopwordRatioOf($"__ltoks"))
      .select($"doc_id", $"__alpha", $"__punct", $"__stopr",
        TextAnalysis.meanTokenLenOf($"__toks"),
        TextAnalysis.qualityFrom(size($"__toks"), $"__alpha", $"__stopr", $"__punct"),
        size($"__toks").cast("double"))
      .as[(Long, Option[Double], Option[Double], Option[Double], Option[Double], Option[Double], Option[Double])].collect().sortBy(_._1).toSeq
    // bit-identical on every non-null text
    assert(kernel.filterNot(_._1 == 303L) == column.filterNot(_._1 == 303L))
    // null text: the kernel is null-in/null-out on ALL signals; the Column
    // composite is a known quirk — Spark's least/greatest SKIP nulls, so
    // qualityFrom(null, null, null, null) collapses to greatest(least(null,
    // 1.0), 0.0) = 1.0. Callers that may see null text must coalesce first
    // (qualityGateAnnotated does) — this assertion documents the divergence.
    assert(kernel.find(_._1 == 303L).get ==
      ((303L, None, None, None, None, None, None)))
    assert(column.find(_._1 == 303L).get ==
      ((303L, None, None, None, None, Some(1.0), None)))
  }

  test("quality signals: one kernel eval feeds all five q_quality outputs (codegen CSE)") {
    // RDD-backed: ConvertToLocalRelation would evaluate a local frame's
    // projection at planning time, leaving no generated code to inspect
    val df = spark.createDataset(spark.sparkContext.parallelize(Seq((0L, "the quick brown fox")), 1))
      .toDF("doc_id", "text")
      .withColumn("__q", TextAnalysis.qualitySignals(spark, $"text"))
      .select($"doc_id", element_at($"__q", 1).as("a"), element_at($"__q", 2).as("p"),
        element_at($"__q", 3).as("s"), element_at($"__q", 4).as("m"), element_at($"__q", 5).as("q"))
    // narrow: no exchange, no generate
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.toLowerCase.contains("generate"), plan)
    // whole-stage codegen subexpression elimination: five element_at outputs,
    // ONE QualityKernel.signals call in the generated code (counted in the
    // code only: the plan text above each subtree names the kernel too)
    val codegen = org.apache.spark.sql.execution.debug.codegenStringSeq(df.queryExecution.executedPlan)
      .map(_._2).mkString("\n")
    val calls = codegen.split("QualityKernel.signals").length - 1
    assert(calls >= 1 && calls <= 2,
      s"kernel not shared across outputs, or not called:\n${codegen.take(2000)}")
  }

  test("quality signals: kernel stopword list matches TextAnalysis.stopwords") {
    // hand case using every stopword once: ratio must be |stopwords| / total
    val t = (TextAnalysis.stopwords ++ Seq("zebra", "quark")).mkString(" ")
    val r = Seq((0L, t)).toDF("doc_id", "text")
      .select(element_at(TextAnalysis.qualitySignals(spark, $"text"), 3)).head().getDouble(0)
    assert(r == TextAnalysis.stopwords.size.toDouble / (TextAnalysis.stopwords.size + 2))
  }

  test("repetition signals: kernel ≡ relational restatement on random texts") {
    val rng = new scala.util.Random(7)
    val words = Vector("alpha", "beta", "gamma", "delta", "x", "yy", "ß", "日本")
    val texts: Seq[(Long, Option[String])] = (0 until 300).map { i =>
      val n = rng.nextInt(10)
      (i.toLong, Option((0 until n).map(_ => words(rng.nextInt(words.length)))
        .mkString(if (rng.nextBoolean()) " " else "  ")))
    } :+ (300L, Some("")) :+ (301L, Some("   ")) :+ (302L, Some("Tie tie TIE tie")) :+
      (303L, None) // null text: null-in/null-out in BOTH forms
    val df = texts.toDF("doc_id", "text")
    val kernel = df.select($"doc_id", TextAnalysis.repetitionSignals(spark, $"text").as("r"))
      .select($"doc_id", element_at($"r", 1).as("dup_token_ratio"),
        element_at($"r", 2).as("top_bigram_char_frac"), element_at($"r", 3).as("dup_bigram_frac"))
      .as[(Long, Option[Double], Option[Double], Option[Double])].collect().sortBy(_._1).toSeq
    val rel = TextAnalysis.repetitionSignalsRelational(df)
      .as[(Long, Option[Double], Option[Double], Option[Double])].collect().sortBy(_._1).toSeq
    assert(kernel == rel)
    assert(kernel.find(_._1 == 303L).get == ((303L, None, None, None)))
  }

  test("corpus n-gram counts: hand fixture, threshold, and order sensitivity") {
    val df = Seq(
      "the cat sat",          // the cat, cat sat
      "the cat ran",          // the cat, cat ran
      "The  CAT sat",         // normalization: the cat, cat sat
      "cat",                  // too short for bigrams
      "").toDF("text")
    val bi = TextAnalysis.corpusNgramCounts(df, n = 2, minCount = 1L)
      .as[(String, Long)].collect().toMap
    assert(bi == Map("the cat" -> 3L, "cat sat" -> 2L, "cat ran" -> 1L))
    // threshold prunes the tail
    val bi2 = TextAnalysis.corpusNgramCounts(df, n = 2, minCount = 2L)
      .as[(String, Long)].collect().toMap
    assert(bi2 == Map("the cat" -> 3L, "cat sat" -> 2L))
    // trigram order: "sat the cat" ≠ "the cat sat" grams
    val tri = TextAnalysis.corpusNgramCounts(df, n = 3, minCount = 1L)
      .as[(String, Long)].collect().toMap
    assert(tri == Map("the cat sat" -> 2L, "the cat ran" -> 1L))
    // unigrams degenerate to token counts
    val uni = TextAnalysis.corpusNgramCounts(df, n = 1, minCount = 3L)
      .as[(String, Long)].collect().toMap
    assert(uni == Map("the" -> 3L, "cat" -> 4L))
  }

  test("shard assignment: disjoint dense cover, balanced, seed re-deals, repartition-proof") {
    import graft.pipeline.Sampling
    val docs = (0L until 400L).map(i => (i, s"doc $i body")).toDF("doc_id", "text")
    val n = 8
    val a = Sampling.shardAssignment(docs, n).as[(Long, Int, Long)].collect()
    assert(a.length == 400 && a.map(_._1).toSet.size == 400)
    // dense 0-based positions per shard
    a.groupBy(_._2).foreach { case (sh, rows) =>
      assert(0 <= sh && sh < n)
      assert(rows.map(_._3).sorted.toSeq == rows.indices.map(_.toLong), s"shard $sh")
    }
    // balanced in expectation: no shard under 25% or over 200% of fair share
    val sizes = a.groupBy(_._2).map(_._2.length)
    assert(sizes.min > 400 / n / 4 && sizes.max < 400 / n * 2, sizes.toString)
    // pure function of the row set; a different seed re-deals
    val b = Sampling.shardAssignment(docs.repartition(7), n).as[(Long, Int, Long)].collect()
    assert(a.sortBy(_._1).toSeq == b.sortBy(_._1).toSeq)
    val c = Sampling.shardAssignment(docs, n, seed = "epoch2").as[(Long, Int, Long)].collect()
    assert(c.sortBy(_._1).map(r => (r._2, r._3)).toSeq !=
      a.sortBy(_._1).map(r => (r._2, r._3)).toSeq)
    // manifest mass conservation
    val m = Sampling.shardManifest(docs, n).as[(Int, Long, Long)].collect()
    assert(m.map(_._2).sum == 400L && m.map(_._3).sum == 400L * 3)
  }

  test("weighted sampling: proportional-to-weight, repartition-proof, zero-weight excluded") {
    import graft.pipeline.Sampling
    // heavy rows weigh 1000x light ones: the top-k should be dominated by
    // heavies (deterministic given the md5 draws — asserted exactly)
    val df = ((0L until 30L).map(i => (i, 1000.0)) ++
      (100L until 400L).map(i => (i, 1.0)) ++
      Seq((900L, 0.0), (901L, -3.0), (902L, Double.NaN))).toDF("doc_id", "w")
    val sel = Sampling.weightedSample(df, "doc_id", "w", k = 30)
      .as[(Long, Double, Double)].collect()
    assert(sel.length == 30)
    assert(sel.count(_._1 < 30L) >= 25, s"heavies underrepresented: ${sel.count(_._1 < 30L)}")
    assert(sel.forall(r => r._1 < 900L), "zero/negative/NaN-weight rows must never sample")
    // pure function of the row set
    val sel2 = Sampling.weightedSample(df.repartition(7), "doc_id", "w", k = 30)
      .as[(Long, Double, Double)].collect()
    assert(sel.sortBy(_._1).toSeq == sel2.sortBy(_._1).toSeq)
    // selection = the top-k of the full key table (re-derived)
    val all = df.filter($"w" > 0).select($"doc_id", $"w",
        graft.Portable.round4(
          graft.textanalysis.Dsir.gumbelKey(org.apache.spark.sql.functions.log($"w"), $"doc_id")).as("k"))
      .as[(Long, Double, Double)].collect()
    val want = all.sortBy(r => (-r._3, r._1)).take(30).map(_._1).toSet
    assert(sel.map(_._1).toSet == want)
  }

  test("deterministic sampling: membership is row-pure, nested, and stratified") {
    import graft.pipeline.Sampling
    val df = (0L until 2000L).map(i => (i, if (i % 4 == 0) "en" else "de"))
      .toDF("doc_id", "lang")
    val s10 = Sampling.deterministicSample(df, "doc_id", 0.10).as[(Long, String)].collect().toSet
    val s30 = Sampling.deterministicSample(df, "doc_id", 0.30).as[(Long, String)].collect().toSet
    assert(s10.subsetOf(s30), "samples are not nested")
    // fractions land near target (16-bit gate on 2000 uniform-ish hashes)
    assert(math.abs(s10.size / 2000.0 - 0.10) < 0.03, s"10% sample: ${s10.size}")
    assert(math.abs(s30.size / 2000.0 - 0.30) < 0.04, s"30% sample: ${s30.size}")
    // repartitioning must not change membership (row-pure, unlike df.sample)
    val s10b = Sampling.deterministicSample(df.repartition(7), "doc_id", 0.10)
      .as[(Long, String)].collect().toSet
    assert(s10b == s10)
    // null ids gate to 0: kept by any fraction > 0, dropped at 0 — so
    // fraction 1.0 is a true identity (no silent null-propagation loss)
    val withNull = Seq((Some(1L), "en"), (None, "en")).toDF("doc_id", "lang")
    assert(Sampling.deterministicSample(withNull, "doc_id", 1.0).count() == 2)
    assert(Sampling.deterministicSample(withNull, "doc_id", 0.0).count() == 0)

    // stratified: each stratum honors its own fraction; default drops rest
    val strat = Sampling.stratifiedSample(df, "lang", "doc_id", Map("en" -> 1.0))
      .as[(Long, String)].collect()
    assert(strat.forall(_._2 == "en") && strat.length == 500)
    val mixed = Sampling.stratifiedSample(df, "lang", "doc_id",
      Map("en" -> 1.0, "de" -> 0.2)).as[(Long, String)].collect()
    assert(mixed.count(_._2 == "en") == 500)
    val deKept = mixed.count(_._2 == "de")
    assert(math.abs(deKept / 1500.0 - 0.2) < 0.04, s"de stratum kept $deKept/1500")
  }

  test("temperature mix: closed-form water-filling matches the iterative reference") {
    import graft.pipeline.Sampling
    // 1000/100/10 docs across three sources — the crawl-vs-books-vs-wiki
    // shape where temperature re-weighting matters
    val df = ((0L until 1000L).map((_, "crawl")) ++
      (1000L until 1100L).map((_, "books")) ++
      (1100L until 1110L).map((_, "wiki"))).toDF("doc_id", "source")
    // iterative renormalize-over-unsaturated reference (the loop the closed
    // form replaces); sqrt mirrors the implementation's alpha-0.5 path
    def naiveAlloc(ns: Map[String, Long], alpha: Double, budget: Double): Map[String, Double] = {
      def w(n: Long) = if (alpha == 0.5) math.sqrt(n.toDouble)
                       else math.pow(n.toDouble, alpha)
      var remaining = budget * ns.values.sum
      var active = ns.keySet
      val frac = scala.collection.mutable.Map[String, Double]()
      while (active.nonEmpty) {
        val lambda = remaining / active.toSeq.sortBy(identity).map(s => w(ns(s))).sum
        val sat = active.filter(s => ns(s) <= lambda * w(ns(s)))
        if (sat.isEmpty) {
          active.foreach(s => frac(s) = lambda * w(ns(s)) / ns(s))
          active = Set.empty
        } else {
          sat.foreach { s => frac(s) = 1.0; remaining -= ns(s) }
          active --= sat
        }
      }
      frac.toMap
    }
    val ns = Map("crawl" -> 1000L, "books" -> 100L, "wiki" -> 10L)
    for (alpha <- Seq(0.0, 0.5, 1.0); budget <- Seq(0.1, 0.5, 1.0)) {
      val got = Sampling.temperatureAllocation(df, "source", alpha, budget)
        .select($"source", $"frac").as[(String, Double)].collect().toMap
      val want = naiveAlloc(ns, alpha, budget)
      assert(got.keySet == want.keySet, s"alpha=$alpha budget=$budget: $got")
      got.foreach { case (s, f) =>
        assert(math.abs(f - want(s)) < 1e-9,
          s"alpha=$alpha budget=$budget source=$s: got $f want ${want(s)}")
      }
      // the allocation spends exactly the budget (saturation spills to the
      // unsaturated sources instead of silently under-filling)
      val spent = got.map { case (s, f) => f * ns(s) }.sum
      assert(math.abs(spent - budget * 1110.0) < 1e-6,
        s"alpha=$alpha budget=$budget: spent $spent of ${budget * 1110.0}")
    }
    // alpha 0 gives saturated-small + equal-absolute-share-for-the-rest;
    // spot-check the hand-computed fixpoint at B = 120
    val eq = Sampling.temperatureAllocation(df, "source", 0.0, 120.0 / 1110.0)
      .select($"source", $"frac").as[(String, Double)].collect().toMap
    assert(eq("wiki") == 1.0 && math.abs(eq("books") * 100 - 55.0) < 1e-9 &&
      math.abs(eq("crawl") * 1000 - 55.0) < 1e-9, eq.toString)

    // the realized sample: nested across budgets, deterministic under
    // repartitioning, null sources form their own stratum
    val s20 = Sampling.temperatureMix(df, "source", "doc_id", 0.5, 0.2)
      .as[(Long, String)].collect().toSet
    val s50 = Sampling.temperatureMix(df, "source", "doc_id", 0.5, 0.5)
      .as[(Long, String)].collect().toSet
    assert(s20.subsetOf(s50), "mix samples are not nested across budgets")
    val s20b = Sampling.temperatureMix(df.repartition(7), "source", "doc_id", 0.5, 0.2)
      .as[(Long, String)].collect().toSet
    assert(s20b == s20)
    val withNull = Seq((Some(1L), Option("a")), (Some(2L), Option.empty[String]),
      (Some(3L), Option.empty[String])).toDF("doc_id", "source")
    // budget 1.0 keeps everything incl. the null stratum (identity)
    assert(Sampling.temperatureMix(withNull, "source", "doc_id", 0.5, 1.0).count() == 3)
  }

  test("LM score: matches a naive reimplementation; gibberish scores lower") {
    import graft.textanalysis.LmScore
    val texts = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the cat sat on the cat"),
      (3L, "mat the on sat cat the"),  // same unigrams, scrambled bigrams
      (4L, "zzq qxj vvk"))             // gibberish: all singleton grams
    val df = texts.toDF("doc_id", "text")
    val got = LmScore.scoreDocs(df, alpha = 0.4)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap

    // naive reference
    val toks = texts.map { case (id, t) => id -> t.split(" ").toSeq }
    val cu = toks.flatMap(_._2).groupBy(identity).view.mapValues(_.size).toMap
    val cb = toks.flatMap { case (_, ws) => ws.sliding(2).map(_.mkString(" ")) }
      .groupBy(identity).view.mapValues(_.size).toMap
    val v = cu.size
    toks.foreach { case (id, ws) =>
      val lps = ws.sliding(2).toSeq.map { p =>
        val g = p.mkString(" ")
        math.log((cb.getOrElse(g, 0) + 0.4) / (cu(p.head) + 0.4 * v))
      }
      val expect = lps.foldLeft(0.0)(_ + _) / lps.size
      assert(got(id)._1 == lps.size.toLong)
      assert(math.abs(got(id)._2 - expect) < 1e-12, s"doc $id: ${got(id)._2} vs $expect")
    }
    // ordering property: repeated common bigrams score above the same
    // unigrams scrambled into unseen-context bigrams. (A gibberish doc is
    // NOT automatically lowest under a self-trained add-α model: its
    // singleton bigrams sit on singleton prefixes, where the conditional
    // P(w2|w1) is high — perplexity filtering presumes the LM is trained on
    // a reference corpus, not the doc's own grams; with an external count
    // table the same code penalizes it via the α-floor.)
    assert(got(1L)._2 > got(3L)._2)

    // external reference model (the production CCNet shape): gibberish DOES
    // land in the high-perplexity tail — its grams are absent and take the
    // α-floor, while in-distribution docs ride real counts
    val ref = Seq((10L, "the cat sat on the mat"), (11L, "the cat sat on the cat"))
      .toDF("doc_id", "text")
    val uni = graft.textanalysis.TextAnalysis.corpusNgramCounts(ref, 1)
      .select($"gram".as("w1"), $"n".as("c_uni"))
    val bi = graft.textanalysis.TextAnalysis.corpusNgramCounts(ref, 2)
      .select($"gram", $"n".as("c_bi"))
    val ext = LmScore.scoreWith(df, uni, bi)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(ext(1L) > ext(4L), s"in-distribution ${ext(1L)} must beat gibberish ${ext(4L)}")
    assert(ext(1L) > ext(3L), "real bigrams must beat scrambled ones")
  }

  test("decontamination: eval n-gram collisions flag exactly the leaked docs") {
    import graft.textanalysis.Decontamination
    val phrase = "the quick brown fox jumps over the lazy dog again" // 10 tokens
    val train = Seq(
      (1L, s"intro words here $phrase closing words"),   // contains the phrase
      (2L, "totally unrelated training document content with many plain tokens"),
      (3L, s"another leak site $phrase end"),
      (4L, "short doc")).toDF("doc_id", "text")          // < n tokens: never flagged
    val eval = Seq((100L, s"benchmark question: $phrase answer")).toDF("doc_id", "text")

    val report = Decontamination.contaminationReport(train, eval, n = 10)
      .as[(Long, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(report.keySet == Set(1L, 3L))
    // doc 1: the 10-gram window sliding over "...here the quick ... dog again closing..."
    // collides once with the eval phrase itself (only the exact window matches)
    assert(report(1L)._2 == 1L && report(1L)._3 == phrase)
    assert(report(3L)._2 == 1L)

    val clean = Decontamination.decontaminate(train, eval, n = 10)
      .select($"doc_id").as[Long].collect().toSet
    assert(clean == Set(2L, 4L))
    // a longer collision window yields multiple hits per doc
    val multi = Decontamination.contaminationReport(train, eval, n = 5)
      .as[(Long, Long, String)].collect().map(r => r._1 -> r._2).toMap
    assert(multi(1L) > 1L)
  }

  test("PII scrub: detection counts and typed redaction, hand fixtures") {
    import graft.textanalysis.Pii
    val df = Seq(
      (1L, "write to alice.smith+spam@mail.example.org or bob@ex.co today"),
      (2L, "server at 192.168.0.17 and backup 10.0.0.1 port 8080"),
      (3L, "call +1 (555) 123-4567 or +44 20 7946 0958 now"),
      (4L, "no pii here, just 3.14 and version 1.2.3 and a-b@c"),  // decoys
      (5L, "mixed: x@y.io at 8.8.8.8 dial +33 1 42 68 53 00"),
      // Luhn gate: 4111111111111111 is a valid test Visa (separators ok),
      // same digits ending ...12 fail the checksum and must NOT redact
      (6L, "pay with 4111 1111 1111 1111 or card 5500-0000-0000-0004 thanks"),
      (7L, "fake card 4111 1111 1111 1112 stays put")).toDF("doc_id", "text")
    val r = Pii.scrub(df).as[(Long, Long, Long, Long, Long, String)].collect()
      .map(x => x._1 -> x).toMap
    assert(r(1L)._2 == 2 && r(1L)._3 == 0 && r(1L)._4 == 0)
    assert(r(1L)._6 == "write to [EMAIL] or [EMAIL] today")
    assert(r(2L)._3 == 2 && r(2L)._6 == "server at [IP] and backup [IP] port 8080")
    assert(r(3L)._4 == 2 && r(3L)._6 == "call [PHONE] or [PHONE] now")
    // decoys: 3.14 / 1.2.3 are not IPs (need 4 octets), a-b@c has no TLD
    assert(r(4L)._2 == 0 && r(4L)._3 == 0 && r(4L)._4 == 0)
    assert(r(4L)._6 == "no pii here, just 3.14 and version 1.2.3 and a-b@c")
    assert(r(5L)._2 == 1 && r(5L)._3 == 1 && r(5L)._4 == 1)
    assert(r(5L)._6 == "mixed: [EMAIL] at [IP] dial [PHONE]")
    assert(r(6L)._5 == 2, r(6L).toString)
    assert(r(6L)._6 == "pay with [CARD] or card [CARD] thanks")
    assert(r(7L)._5 == 0 && r(7L)._6 == "fake card 4111 1111 1111 1112 stays put")
  }

  test("PII scrub: counts reconcile with emitted placeholders (sequential books)") {
    import graft.textanalysis.Pii
    val df = Seq(
      // phone-shaped digit run INSIDE an email local part: the email pass
      // consumes it, so zero [PHONE] placeholders and n_phones must be 0
      (1L, "reach user+15551234567@gmail.com today"),
      // PhoneRe's class admits dots/spaces, so it swallows the adjacent IP:
      // zero [IP] emitted and n_ipv4 must be 0
      (2L, "call +1 555 0100 10.2.3.4 now"),
      // a card digit run adjacent to other numbers still checks alone
      (3L, "order 7 pay 4111 1111 1111 1111 ok")).toDF("doc_id", "text")
    val r = Pii.scrub(df).as[(Long, Long, Long, Long, Long, String)].collect()
      .map(x => x._1 -> x).toMap
    assert(r(1L)._2 == 1 && r(1L)._4 == 0, r(1L).toString)
    assert(r(1L)._6 == "reach [EMAIL] today")
    assert(r(2L)._4 == 1 && r(2L)._3 == 0, r(2L).toString)
    assert(!r(2L)._6.contains("[IP]"))
    assert(r(3L)._5 == 1 && r(3L)._6 == "order 7 pay [CARD] ok")
    // invariant: each count == occurrences of its placeholder
    r.values.foreach { case (_, ne, ni, np, nc, red) =>
      def occ(m: String) = m.r.findAllIn(red).size
      assert(occ("\\[EMAIL\\]") == ne && occ("\\[IP\\]") == ni &&
        occ("\\[PHONE\\]") == np && occ("\\[CARD\\]") == nc)
    }
  }

  test("per-source quota: caps each source at k with deterministic ranking") {
    import graft.pipeline.Sampling
    val df = (1L to 10L).map(i => (i, "a", 100 - i)) ++ Seq((20L, "b", 5L), (21L, "b", 9L))
    val docs = df.toDF("doc_id", "source", "n_chars")
    val kept = Sampling.perSourceQuota(docs, "source", "doc_id", k = 3,
      rankCols = Seq(col("n_chars").desc))
      .as[(Long, String, Long)].collect().sortBy(_._1)
    // source a: ids 1,2,3 have the largest n_chars (99,98,97); b keeps both
    assert(kept.map(_._1).toSeq == Seq(1L, 2L, 3L, 20L, 21L))
    // tie-break on doc_id: equal ranks resolve low-id-first
    val ties = Seq((5L, "c", 7L), (3L, "c", 7L), (9L, "c", 7L)).toDF("doc_id", "source", "n_chars")
    val keptTies = Sampling.perSourceQuota(ties, "source", "doc_id", k = 2,
      rankCols = Seq(col("n_chars").desc)).as[(Long, String, Long)].collect().map(_._1).sorted
    assert(keptTies.toSeq == Seq(3L, 5L))
  }

  test("length-bucketed batching: two-phase rank == global window; padding drops vs id order") {
    import graft.pipeline.Packing
    val r = new scala.util.Random(71)
    val docs = (0L until 200L).map(i =>
      (i, (0 until (1 + r.nextInt(40))).map(j => s"w$j").mkString(" "))).toDF("doc_id", "text")
    val B = 16
    val got = Packing.lengthBucketedBatches(docs, B)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    // reference: single global window rank by (n_tokens, doc_id)
    val lens = docs.select($"doc_id",
        org.apache.spark.sql.functions.size(
          org.apache.spark.sql.functions.filter(graft.dedup.Dedup.tokens($"text"),
            t => org.apache.spark.sql.functions.length(t) > 0)).cast("long"))
      .as[(Long, Long)].collect().toMap
    val rankOrder = lens.toSeq.sortBy { case (id, n) => (n, id) }.map(_._1).zipWithIndex.toMap
    got.foreach { case (id, n, batch, pos) =>
      assert(n == lens(id))
      assert(batch == rankOrder(id) / B, s"doc $id")
      assert(pos == rankOrder(id) % B, s"doc $id")
    }
    // padding accounting, and the point of the operator: sorted batches
    // waste less than id-order batches on the same corpus
    val stats = Packing.batchPaddingStats(Packing.lengthBucketedBatches(docs, B))
      .as[(Long, Long, Long, Long)].collect()
    stats.foreach { case (_, nd, mx, pad) => assert(pad >= 0 && pad <= nd * mx) }
    val sortedPad = stats.map(_._4).sum
    val idOrderPad = lens.toSeq.sortBy(_._1).map(_._2).grouped(B)
      .map(g => g.length * g.max - g.sum).sum
    assert(sortedPad < idOrderPad,
      s"length-sorted padding $sortedPad should beat id-order $idOrderPad")
    // pure function of the row set
    val again = Packing.lengthBucketedBatches(docs.repartition(7), B)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(got.toSeq == again.toSeq)
  }

  test("sequence packing: hand fixture and bucket-size invariance") {
    import graft.pipeline.Packing
    val docs = Seq(
      (1L, "one two three"),        // 3 tokens, start 0
      (2L, "four five"),            // 2 tokens, start 3 → spans the L=4 boundary
      (3L, "six seven eight nine"), // 4 tokens, start 5
      (4L, "")).toDF("doc_id", "text") // 0 tokens, start 9, occupies nothing
    val r = Packing.packSequences(docs, seqLen = 4, bucketSize = 2L)
      .as[(Long, Long, Long, Option[Long], Option[Long])].collect().sortBy(_._1)
    assert(r.toSeq == Seq(
      (1L, 3L, 0L, Some(0L), Some(0L)),
      (2L, 2L, 3L, Some(0L), Some(1L)),   // tokens 3..4: bins 0 and 1
      (3L, 4L, 5L, Some(1L), Some(2L)),   // tokens 5..8: bins 1 and 2
      (4L, 0L, 9L, None, None)))          // empty doc occupies NO sequence
    // boundary case: empty doc whose offset lands exactly on a seqLen edge
    // must NOT name a phantom bin past the last real sequence
    val edge = Seq((1L, "a b c d"), (2L, "")).toDF("doc_id", "text")
    val er = Packing.packSequences(edge, seqLen = 4)
      .as[(Long, Long, Long, Option[Long], Option[Long])].collect().sortBy(_._1)
    assert(er(1) == ((2L, 0L, 4L, None, None)))
    assert(er.flatMap(_._5).max == 0L, "only bin 0 exists")
    // two-phase prefix sum ≡ global, for every bucketing
    val big = (0L until 200L).map(i => (i, ("tok " * (1 + (i % 7)).toInt).trim)).toDF("doc_id", "text")
    val ref = Packing.packSequences(big, 16, bucketSize = 1L)
      .as[(Long, Long, Long, Option[Long], Option[Long])].collect().toSet
    for (bs <- Seq(2L, 7L, 64L, 100000L))
      assert(Packing.packSequences(big, 16, bucketSize = bs)
        .as[(Long, Long, Long, Option[Long], Option[Long])].collect().toSet == ref, s"bucketSize $bs")
    // non-numeric ids fail FAST (ANSI-off would otherwise silently empty)
    intercept[IllegalArgumentException] {
      Packing.packSequences(Seq(("d0", "x y")).toDF("doc_id", "text"), 4)
    }
  }

  test("per-group sequence packing ≡ independent per-group packing, streams restart at 0") {
    import graft.pipeline.Packing
    // two shards with dense per-shard pos — exactly the RunPipeline
    // --shards/--pack shape
    val docs = (0L until 120L).map { i =>
      (i % 3, i / 3, ("w " * (1 + (i % 5)).toInt).trim)
    }.toDF("shard", "pos", "text")
    val grouped = Packing.packSequences(docs, 8, bucketSize = 7L,
        idCol = "pos", partitionCols = Seq("shard"))
      .as[(Long, Long, Long, Long, Option[Long], Option[Long])].collect().toSet
    val independent = (0L until 3L).flatMap { s =>
      Packing.packSequences(docs.where($"shard" === s), 8, bucketSize = 7L, idCol = "pos")
        .as[(Long, Long, Long, Option[Long], Option[Long])].collect()
        .map { case (p, n, t, b0, b1) => (s, p, n, t, b0, b1) }
    }.toSet
    assert(grouped == independent)
    // every shard's stream starts at token offset 0
    assert(grouped.filter(_._2 == 0L).forall(_._4 == 0L))
  }

  test("column profile: hand fixture incl. nulls and distincts") {
    import graft.textanalysis.Profile
    val df = Seq(
      (Some(1L), Some("ab"), "en"),
      (Some(2L), None, "en"),
      (Some(3L), Some("wxyz"), "de"),
      (None, Some("ab"), "de")).toDF("id", "text", "lang")
    val p = Profile.profile(df, Seq("id", "text", "lang"))
      .as[(String, Long, Long, Long, Option[Long], Option[Long])].collect()
      .map(r => r._1 -> r).toMap
    assert(p("id") == (("id", 4L, 1L, 3L, Some(1L), Some(1L))))
    assert(p("text") == (("text", 4L, 1L, 2L, Some(2L), Some(4L))))
    assert(p("lang") == (("lang", 4L, 0L, 2L, Some(2L), Some(2L))))
    // approx path stays sane on the same fixture (error-free at this size)
    val ap = Profile.profile(df, Seq("lang"), exactDistinct = false)
      .as[(String, Long, Long, Long, Option[Long], Option[Long])].collect().head
    assert(ap._4 == 2L)
  }
  test("token_ngrams / array_ngrams kernels ≡ pure-Column gram builders") {
    org.apache.spark.sql.graft.NativeFunctions.register(spark)
    val edge = Seq(
      (0L, ""), (1L, "   "), (2L, "one"), (3L, "two words"),
      (4L, "\tTAB  and\n\nNEWLINES  here maybe more tokens now"),
      (5L, "ЖУРНАЛ Русский Текст С Кириллицей"),
      (6L, "the quick brown fox jumps over the lazy dog again and again"),
      (7L, null.asInstanceOf[String])).toDF("doc_id", "text")
    for (n <- Seq(1, 2, 3, 13)) {
      val kernel = edge.select($"doc_id", TextAnalysis.ngramArray($"text", n).as("g"))
        .as[(Long, Seq[String])].collect().toMap
      val cols = edge.select($"doc_id", TextAnalysis.ngramArrayColumns($"text", n).as("g"))
        .as[(Long, Seq[String])].collect().toMap
      // null text: kernel null vs witness empty — same zero rows after explode
      kernel.foreach { case (id, g) =>
        if (g == null) assert(cols(id) != null && cols(id).isEmpty, s"n=$n id=$id")
        else assert(g == cols(id), s"n=$n id=$id")
      }
      // array input: same grams over the materialized token arrays
      val viaArr = edge.select($"doc_id",
        call_function("array_ngrams",
          filter(graft.dedup.Dedup.tokens($"text"), t => length(t) > 0), lit(n)).as("g"))
        .as[(Long, Seq[String])].collect().toMap
      viaArr.foreach { case (id, g) =>
        if (g == null) assert(kernel(id) == null)
        else assert(g == kernel(id), s"array n=$n id=$id")
      }
    }
  }

}
