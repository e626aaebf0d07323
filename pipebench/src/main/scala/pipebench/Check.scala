package pipebench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.correct.{DictionaryCorrector, NoisyChannelModel}
import graft.gen.{DetRng, DocGen}
import graft.model.Span
import graft.text.DamerauLevenshtein

/** What a run reported about itself: `RunPipeline`'s metrics line, or the
  * traced run's state table and staged count. */
final case class Reported(docsIn: Long, spansTotal: Long, cer: Double, pctPerfect: Double)

object Reported {
  private def field(line: String, key: String): String = {
    val m = ("\"" + key + "\":([^,}]+)").r.findFirstMatchIn(line)
      .getOrElse(sys.error(s"metrics line has no $key: $line"))
    m.group(1)
  }

  def parse(line: String): Reported = Reported(
    field(line, "docs_in").toLong, field(line, "spans_total").toLong,
    field(line, "cer").toDouble, field(line, "pct_perfect").toDouble)
}

/** Outcome of one output check; `cer`/`pctPerfect` are the independently
  * recomputed full-precision values. */
final case class Verdict(ok: Boolean, problems: Seq[String], cer: Double, pctPerfect: Double)

/**
 * The output check run after every timed run. Everything it compares
 * against is derived once per benchmark run from the generated tables, on
 * the driver, without the code paths under test:
 *
 *  - expected docs: the input, or on a curated workload the docs that
 *    survive the same public curation calls;
 *  - expected corrections for a seeded doc sample: a driver-side
 *    `NoisyChannelModel.inferSentence` over a vocabulary trained from the
 *    clean table exactly as `RunPipeline` trains it;
 *  - CER: `DamerauLevenshtein.normalized` against the clean table.
 */
final class Check(spark: SparkSession, w: Workload, seed: Long,
                  noisyDir: String, cleanDir: String) {
  // `spark` builds the expectations once; each check reads with the
  // session that produced the output
  import Check._

  private def collectDocs(df: org.apache.spark.sql.DataFrame): Map[String, Vector[Span]] =
    df.select(col("doc_id"), col("spans")).collect().iterator.map { r =>
      r.getString(0) -> r.getSeq[Row](1).iterator.map(toSpan).toVector
    }.toMap

  private val noisyDocs = graft.sources.CorpusIO.readDocs(spark, noisyDir)
  private val cleanDocs = graft.sources.CorpusIO.readDocs(spark, cleanDir)

  /** Expected output docs, spans carrying the noisy (uncorrected) text. */
  val expected: Map[String, Vector[Span]] = {
    val stages = Curation.all(w.curation, noisyDocs)
    try collectDocs(stages.lastOption.getOrElse(noisyDocs)) finally stages.foreach(_.unpersist())
  }

  private val cleanText: Map[(String, Int), String] =
    collectDocs(cleanDocs).iterator.flatMap { case (d, ss) =>
      ss.iterator.filter(_.kind == Span.KindText).map(s => (d, s.offset) -> s.text)
    }.toMap

  /** The driver-side reference model (vocabulary as `RunPipeline` trains
    * it from the clean table: min frequency 2, no split filter). */
  val model: NoisyChannelModel = {
    val vocab = DictionaryCorrector.trainVocab(cleanDocs, "spans", splitFilter = None)
      .filter(col("freq") >= MinFreq).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    new NoisyChannelModel(vocab, MinFreq, DocGen.goodChars.length)
  }

  /** Seeded sample of expected docs whose text spans are re-corrected on
    * the driver, with their expected corrected text. */
  private val sampleTexts: Map[(String, Int), String] = {
    val ids = Stats.shuffled(expected.keys.toVector.sorted, DetRng.forKey(s"check/${w.name}", seed))
    ids.iterator.take(SampleDocs).flatMap { d =>
      expected(d).iterator.filter(_.kind == Span.KindText)
        .map(s => (d, s.offset) -> model.inferSentence(s.text))
    }.toMap
  }

  def check(session: SparkSession, outDir: String, rep: Reported): Verdict = {
    val problems = Vector.newBuilder[String]
    def fail(msg: String): Unit = problems += msg
    val out = collectDocs(session.read.parquet(outDir))

    if (out.keySet != expected.keySet)
      fail(s"doc set differs: ${(out.keySet -- expected.keySet).size} unexpected, " +
        s"${(expected.keySet -- out.keySet).size} missing")
    if (rep.docsIn != expected.size)
      fail(s"docs_in ${rep.docsIn} != ${expected.size} docs surviving curation")

    var n = 0L; var perfect = 0L; var sum = 0.0
    // sorted, so the sum (and so the recomputed CER) is bit-identical across runs
    out.keySet.intersect(expected.keySet).toVector.sorted.foreach { d =>
      val got = out(d); val exp = expected(d)
      if (got.map(s => (s.kind, s.media_ref, s.offset)) != exp.map(s => (s.kind, s.media_ref, s.offset)))
        fail(s"$d: span sequence (kind, media_ref, order) differs")
      else got.iterator.zip(exp.iterator).foreach { case (g, e) =>
        if (g.kind == Span.KindMedia && g != e) fail(s"$d@${g.offset}: media span changed")
        if (g.kind == Span.KindText) {
          sampleTexts.get((d, g.offset)).foreach { t =>
            if (g.text != t) fail(s"$d@${g.offset}: corrected text differs from inferSentence")
          }
          cleanText.get((d, g.offset)).foreach { c =>
            val dist = DamerauLevenshtein.normalized(g.text, c)
            n += 1; sum += dist; if (dist == 0.0) perfect += 1
          }
        }
      }
    }
    val cer = if (n == 0) 0.0 else sum / n
    val pct = if (n == 0) 0.0 else perfect.toDouble / n
    if (rep.spansTotal != n) fail(s"spans_total ${rep.spansTotal} != $n recomputed")
    // the metrics line rounds to 4 decimals
    if (math.abs(rep.cer - cer) > 5e-5 + 1e-12) fail(s"cer ${rep.cer} != recomputed $cer")
    if (math.abs(rep.pctPerfect - pct) > 5e-5 + 1e-12)
      fail(s"pct_perfect ${rep.pctPerfect} != recomputed $pct")
    val ps = problems.result()
    Verdict(ps.isEmpty, ps.take(5), cer, pct)
  }
}

object Check {
  val MinFreq = 2L
  val SampleDocs = 64

  def toSpan(r: Row): Span = Span(r.getAs[String]("kind"), r.getAs[String]("text"),
    r.getAs[String]("media_ref"), r.getAs[Int]("offset"))
}
