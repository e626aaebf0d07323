package graft

import org.apache.spark.sql.functions._
import graft.correct._
import graft.gen.DocGen
import graft.pipeline.{CerAggregator, CorrectionPipeline => CP}

class DictionaryCorrectorSpec extends SparkSpec {
  import spark.implicits._

  test("kernel: exact hit, nearest word, freq and token tie-breaks") {
    val m = new DictionaryModel(Map("cat" -> 10L, "bat" -> 5L, "cart" -> 2L, "dog" -> 7L), 1L)
    assert(m.inferToken("cat") == "cat")          // in vocab, untouched
    assert(m.inferToken("caz") == "cat")          // dist 1 beats bat(1)? both dist 1...
    // caz→cat dist 1, caz→bat dist 2, caz→cart dist 2, caz→dog dist 3 → cat
    assert(m.inferToken("cht") == "cat")          // cat(1,f10) vs bat(2) → cat
    // tie on dist: "aat" → cat dist 1, bat dist 1; freq: cat 10 > bat 5 → cat
    assert(m.inferToken("aat") == "cat")
    // tie on dist AND freq → token asc
    val m2 = new DictionaryModel(Map("cat" -> 5L, "bat" -> 5L), 1L)
    assert(m2.inferToken("aat") == "bat")
    // min-frequency gating: low-freq vocab words are not exact hits
    val m3 = new DictionaryModel(Map("cat" -> 10L, "cut" -> 1L), 2L)
    assert(m3.inferToken("cut") == "cat")         // cut below minFreq → corrected
    // empty pruned vocab → identity
    val m4 = new DictionaryModel(Map("x" -> 1L), 5L)
    assert(m4.inferToken("hello") == "hello")
  }

  test("kernel: sentence inference normalizes whitespace like the reference") {
    val m = new DictionaryModel(Map("the" -> 5L, "cat" -> 5L), 1L)
    assert(m.inferSentence("  the   caz  ") == "the cat")
    assert(m.inferSentence("") == "")
    assert(m.inferSentence("   ") == "")
  }

  test("kernel: a null text gives null under both models") {
    val vocab = Map("the" -> 5L, "cat" -> 5L)
    assert(new DictionaryModel(vocab, 1L).inferSentence(null) == null)
    assert(new NoisyChannelModel(vocab, 1L, DocGen.goodChars.length).inferSentence(null) == null)
  }

  private lazy val docs = DocGen.docs(spark, 400).toDF().cache()
  private lazy val vocabDf = DictionaryCorrector.trainVocab(docs).cache()

  test("vocabulary build matches a hand count on a small fixture") {
    val tiny = Seq(
      ("d1", Seq(graft.model.Span("text", "a b a", "", 0)), "train"),
      ("d2", Seq(graft.model.Span("text", "a  c", "", 0)), "train"),
      ("d3", Seq(graft.model.Span("text", "zzz", "", 0)), "test")
    ).toDF("doc_id", "spans", "split")
    val v = DictionaryCorrector.trainVocab(tiny).collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(v == Map("a" -> 3L, "b" -> 1L, "c" -> 1L)) // test split excluded
  }

  test("kernel path ≡ relational min_by path on real noisy tokens") {
    val model = DictionaryCorrector.buildModel(spark, vocabDf, 2L)
    val noisyTokens = docs
      .select(explode($"noisy_spans").as("s"))
      .filter($"s.kind" === "text")
      .select(explode(split(trim($"s.text"), "\\s+")).as("token"))
      .filter(length($"token") > 0)
      .distinct()
      .limit(300)
      .cache()
    val relational = DictionaryCorrector
      .correctTokensRelational(noisyTokens, vocabDf, 2L)
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    val kernel = noisyTokens.as[String].collect().map(t => (t, model.value.inferToken(t))).toMap
    assert(kernel.keySet == relational.keySet)
    val diffs = kernel.collect { case (k, v) if relational(k) != v => (k, v, relational(k)) }
    assert(diffs.isEmpty, s"paths disagree on: ${diffs.take(5)}")
    model.destroy()
  }

  test("dictionary corrector beats the null corrector (the reference's control)") {
    val model = DictionaryCorrector.buildModel(spark, vocabDf, 2L)
    val spans = CP.explodeSpans(docs, "noisy_spans")
    val corrected = CP.correct(spans, DictionaryCorrector.corrector(model))
    val dictCer = CP.cer(corrected, docs)
    val nullCer = CP.cer(CP.correct(spans, NullCorrector), docs)
    assert(dictCer.n == nullCer.n)
    assert(dictCer.avgDistance < nullCer.avgDistance,
      s"dict ${dictCer.avgDistance} !< null ${nullCer.avgDistance}")
    assert(dictCer.percentPerfect > nullCer.percentPerfect)
    model.destroy()
  }

  test("corrector outputs only vocab tokens or in-vocab originals (U3 property)") {
    val model = DictionaryCorrector.buildModel(spark, vocabDf, 2L)
    val allowed = model.value.vocab.keySet
    val outTokens = CP.correct(CP.explodeSpans(docs, "noisy_spans"), DictionaryCorrector.corrector(model))
      .filter(_.kind == "text").flatMap(r => r.text.trim.split("\\s+").toSeq)
      .filter(_.nonEmpty).distinct().collect()
    // any output token must be in vocab UNLESS it was an untouchable input
    // (empty pruned bucket fallback); with a healthy vocab that's rare
    val bad = outTokens.filterNot(allowed.contains)
    assert(bad.length <= outTokens.length / 100, s"unexpected OOV outputs: ${bad.take(5).mkString(",")}")
    model.destroy()
  }

  test("sweep: grid matches the reference formula and picks a sane model") {
    assert(DictionarySweep.minFreqGrid(1000000L) == Seq(2L, 4L, 8L, 16L, 32L, 64L, 128L, 256L, 512L))
    val pairs = DocGen.pairs(spark, 400).toDF()
    val out = DictionarySweep.run(spark, pairs, nToEval = 20)
    assert(out.results.nonEmpty)
    assert(out.best.metrics.avgDistance == out.results.map(_.metrics.avgDistance).min)
    assert(out.testMetrics.n == 20)
  }
}
