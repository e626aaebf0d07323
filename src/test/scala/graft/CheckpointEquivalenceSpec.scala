package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.correct.{Corrector, DictionaryCorrector}
import graft.gen.DocGen
import graft.model.Span
import graft.pipeline.{CheckpointedRun, CorrectionPipeline => CP}

/** Rewrites "zz" to "aa", so a corrected text can sort before a span it
  * followed in the input: ties on a duplicate offset must break by the
  * CORRECTED text. Null texts pass through. */
object ZzCorrector extends Corrector {
  override def correctText(text: String): String =
    if (text == null) null else text.replace("zz", "aa")
}

final case class EqDoc(doc_id: String, noisy: Seq[Span], truth: Seq[Span])

/**
 * The checkpointed run's in-place group job against the explode → correct →
 * reassembleSalted composition and the per-bucket `(doc_id, offset)` CER
 * join it replaced: output docs equal span for span (offsets included), state
 * rows equal on `rows` and `perfect` and within 1e-9 on `cer_sum`.
 */
class CheckpointEquivalenceSpec extends SparkSpec {
  import spark.implicits._

  private val NBuckets = 4

  private def t(text: String, off: Int) = Span(Span.KindText, text, "", off)
  private def m(ref: String, off: Int) = Span(Span.KindMedia, "", ref, off)

  /** 300 spans at shuffled offsets, one in five media. */
  private val pathological: Seq[Span] = {
    val rng = new scala.util.Random(7)
    rng.shuffle((0 until 300).toList).map { off =>
      if (off % 5 == 0) m(s"media://p$off", off) else t(s"word$off zz tail", off)
    }
  }

  private val fixture: Seq[EqDoc] = Seq(
    // unsorted offsets
    EqDoc("unsorted", Seq(t("third zz", 2), m("media://u", 1), t("first", 0)),
      Seq(t("third aa", 2), m("media://u", 1), t("first", 0))),
    // duplicate offset: input order "zz b" then "ab"; corrected "aa b" sorts first
    EqDoc("dup-tie", Seq(t("zz b", 1), t("ab", 1), t("head", 0)),
      Seq(t("aa b", 1), t("head", 0))),
    // duplicate offset across kinds: kind breaks the tie before text
    EqDoc("dup-kind", Seq(t("txt", 3), m("media://k", 3)),
      Seq(t("txt", 3), m("media://k", 3))),
    EqDoc("media-only", Seq(m("media://a", 0), m("media://b", 1)),
      Seq(m("media://a", 0), m("media://b", 1))),
    EqDoc("empty", Seq.empty, Seq(t("never scored", 0))),
    EqDoc("null-spans", null, Seq(t("never scored", 0))),
    EqDoc("null-text", Seq(t(null, 0), t("ok", 1)), Seq(t("x", 0), t("ok", 1))),
    EqDoc("no-truth", Seq(t("lonely zz", 0)), null),
    EqDoc("pathological", pathological,
      pathological.map(s => if (s.kind == Span.KindText) s.copy(text = s.text.replace("zz", "aa")) else s))
  ) ++ (0 until 40).map { i =>
    EqDoc(f"plain$i%02d", Seq(t(s"doc $i zz words", 1), t(s"more $i", 0)),
      Seq(t(s"doc $i aa words", 1), t(s"more ${i + 1}", 0)))
  }

  /** The separate clean table: the truth spans, plus duplicate
    * `(doc_id, offset)` clean spans and null clean texts. */
  private def cleanTable: DataFrame = {
    val extra = Map(
      "dup-tie" -> Seq(t("aa b", 1), t("ab", 1)),            // offset 1 twice more
      "unsorted" -> Seq(t(null, 0), t("first", 0)),          // null clean text
      "plain03" -> Seq(t("", 0)))                            // empty clean text
    fixture.map(d => (d.doc_id,
      if (d.truth == null) null else d.truth ++ extra.getOrElse(d.doc_id, Nil)))
      .filter(_._2 != null)
      .toDF("doc_id", "spans")
  }

  private def docsDf: DataFrame = fixture.toDF()

  /** Witness output: explode → correct → salted reassembly. */
  private def witnessDocs(docs: DataFrame, spansCol: String, c: Corrector): Map[String, Seq[Span]] =
    collectDocs(CP.reassembleSalted(CP.correct(CP.explodeSpans(docs, spansCol), c), bucketSize = 16))

  /** Witness state rows: the per-bucket `(doc_id, offset)` inner join. */
  private def witnessRows(docs: DataFrame, spansCol: String, clean: DataFrame,
                          cleanSpansCol: String, c: Corrector): Map[Int, (Long, Double, Long)] = {
    org.apache.spark.sql.graft.NativeFunctions.register(spark)
    val cleanSpans = CP.explodeSpans(clean, cleanSpansCol)
      .filter(col("kind") === Span.KindText)
      .select(col("doc_id"), col("offset"), col("text").as("text_clean"))
    CP.correct(CP.explodeSpans(docs, spansCol), c).toDF()
      .filter(col("kind") === Span.KindText)
      .join(cleanSpans, Seq("doc_id", "offset"))
      .withColumn("bucket", CheckpointedRun.bucketOf(NBuckets))
      .withColumn("dist", CheckpointedRun.normalizedDistCol(col("text"), col("text_clean")))
      .groupBy(col("bucket"))
      .agg(count(lit(1)), coalesce(sum(col("dist")), lit(0.0)),
        sum(when(col("dist") === 0.0, 1L).otherwise(0L)))
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(2), r.getLong(3)))).toMap
  }

  private def collectDocs(df: DataFrame): Map[String, Seq[Span]] =
    df.select(col("doc_id"), col("spans")).as[(String, Seq[Span])].collect().toMap

  private def assertEquivalent(docs: DataFrame, clean: DataFrame, spansCol: String,
                               cleanSpansCol: String, c: Corrector): Unit = {
    val base = Files.createTempDirectory("ckpt-eq").toString
    val (out, state) = (s"$base/out", s"$base/state")
    val m = CheckpointedRun.run(spark, docs, clean, c, out, state, "eq",
      spansCol = spansCol, nBuckets = NBuckets, groupSize = 3, cleanSpansCol = cleanSpansCol)

    val written = spark.read.parquet(out)
    assert(written.columns.toSeq == Seq("doc_id", "spans", "bucket"))
    val got = collectDocs(written)
    val want = witnessDocs(docs, spansCol, c)
    assert(got.keySet == want.keySet)
    want.foreach { case (id, spans) => assert(got(id) == spans, s"doc $id") }

    val rows = CheckpointedRun.doneBuckets(spark, state, "eq")
    assert(rows == (0 until NBuckets).toSet)
    val stateRows = spark.read.parquet(state).as[CheckpointedRun.StateRow].collect()
    val expect = witnessRows(docs, spansCol, clean, cleanSpansCol, c)
    stateRows.foreach { r =>
      val (n, cerSum, perfect) = expect.getOrElse(r.bucket, (0L, 0.0, 0L))
      assert(r.rows == n && r.perfect == perfect, s"bucket ${r.bucket}: $r vs $n/$perfect")
      assert(math.abs(r.cer_sum - cerSum) < 1e-9, s"bucket ${r.bucket}: $r vs $cerSum")
    }
    assert(m.n == expect.values.map(_._1).sum && m.n > 0)
  }

  test("fixture: group job ≡ explode → correct → reassembleSalted, separate clean table") {
    assertEquivalent(docsDf, cleanTable, "noisy", "spans", ZzCorrector)
  }

  test("fixture: group job ≡ witness when cleanDocs eq docs, clean spans in another column") {
    val docs = docsDf
    assertEquivalent(docs, docs, "noisy", "truth", ZzCorrector)
  }

  test("generated docs with the dictionary corrector: group job ≡ witness") {
    val docs = DocGen.docs(spark, 120, pathological = true).toDF()
    val bc = DictionaryCorrector.buildModel(spark, DictionaryCorrector.trainVocab(docs), 2L)
    try assertEquivalent(docs, docs, "noisy_spans", "spans", DictionaryCorrector.corrector(bc))
    finally bc.destroy()
  }
}
