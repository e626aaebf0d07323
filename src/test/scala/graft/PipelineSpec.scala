package graft

import org.apache.spark.sql.functions._
import graft.correct.{Corrector, NullCorrector}
import graft.gen.DocGen
import graft.model._
import graft.pipeline.{CerAggregator, CorrectionPipeline => CP}

class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = DocGen.docs(spark, 300).cache()
  private lazy val docsDf = docs.toDF()

  test("explode → reassemble is the identity on the spans permutation (W3)") {
    val out = CP.reassemble(CP.explodeSpans(docsDf))
    assert(CP.spanSequenceViolations(out, docsDf.select($"doc_id", $"spans")).isEmpty)
  }

  test("reassemble survives an adversarial shuffle of span rows") {
    // repartition by a hostile key + drop any incidental ordering
    val shuffled = CP.explodeSpans(docsDf).repartition(7, col("text"))
    val out = CP.reassemble(shuffled)
    assert(CP.spanSequenceViolations(out, docsDf.select($"doc_id", $"spans")).isEmpty)
  }

  test("salted reassembly ≡ plain reassembly (incl. pathological docs)") {
    val pathological = DocGen.docs(spark, 1200, pathological = true).toDF()
    val spans = CP.explodeSpans(pathological)
    val plain = CP.reassemble(spans)
    val salted = CP.reassembleSalted(spans, bucketSize = 16)
    assert(CP.spanSequenceViolations(salted, plain).isEmpty)
    assert(salted.count() == plain.count())
  }

  test("null corrector pipeline: media untouched, text spans = noisy input (north_rule invariant)") {
    val out = CP.run(docsDf.select($"doc_id", $"noisy_spans"), NullCorrector, spansCol = "noisy_spans")
    assert(CP.spanSequenceViolations(out, docsDf.select($"doc_id", $"noisy_spans".as("spans"))).isEmpty)
  }

  test("corrector only sees text spans; media rows stream through in place") {
    val upper = new Corrector { def correctText(t: String): String = t.toUpperCase }
    val out = CP.correct(CP.explodeSpans(docsDf), upper)
    val media = out.filter(_.kind == Span.KindMedia)
    val origMedia = CP.explodeSpans(docsDf).filter(_.kind == Span.KindMedia)
    assert(media.collect().toSet == origMedia.collect().toSet)
    assert(out.filter(_.kind == Span.KindText).collect().forall(r => r.text == r.text.toUpperCase))
  }

  test("CER aggregator matches hand computation") {
    val pairs = Seq(
      ("abc", "abc"),   // perfect
      ("ab", "ba"),     // transposition: 1/2
      ("", "ab"),       // 2/2
      ("xy", "")        // empty-target guard: 1.0
    ).toDS()
    val m = pairs.select(CerAggregator.column).head()
    assert(m.n == 4)
    assert(m.nPerfect == 1)
    assert(math.abs(m.sumNormDist - (0.5 + 1.0 + 1.0)) < 1e-12)
    assert(math.abs(m.avgDistance - 2.5 / 4) < 1e-12)
    assert(math.abs(m.percentPerfect - 0.25) < 1e-12)
  }

  test("CER aggregator: a pair with a null side is a row that adds to neither sum") {
    val m = Seq[(String, String)](("abc", "abc"), (null, "abc")).toDS()
      .select(CerAggregator.column).head()
    assert(m == CerMetrics(2L, 1L, 0.0))
  }

  test("e2e: null corrector CER on noisy docs ≈ channel floor; perfect on clean docs") {
    val correctedNoisy = CP.correct(CP.explodeSpans(docsDf, "noisy_spans"), NullCorrector)
    val m = CP.cer(correctedNoisy, docsDf)
    assert(m.n > 0)
    assert(m.avgDistance > 0.06 && m.avgDistance < 0.20, s"null CER ${m.avgDistance}")

    val correctedClean = CP.correct(CP.explodeSpans(docsDf, "spans"), NullCorrector)
    val mc = CP.cer(correctedClean, docsDf)
    assert(mc.percentPerfect == 1.0 && mc.sumNormDist == 0.0)
  }

  test("generator determinism: two runs produce identical tables") {
    val a = DocGen.docs(spark, 120).collect().sortBy(_.doc_id)
    val b = DocGen.docs(spark, 120).collect().sortBy(_.doc_id)
    assert(a.sameElements(b))
  }

  test("split proportions follow the mod-10 rule exactly (80/10/10)") {
    val counts = docs.groupByKey(_.split).count().collect().toMap
    assert(counts("train") == 240 && counts("validation") == 30 && counts("test") == 30)
  }
}
