package pipebench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.gen.{DetRng, DocGen, NoiseChannel}
import graft.model.{Doc, Span}

/** One generated input: the `noisy` table the program corrects and the
  * `clean` table it scores against, doc for doc. */
final case class Generated(noisy: Vector[Doc], clean: Vector[Doc]) {
  def take(n: Int): Generated = Generated(noisy.take(n), clean.take(n))
  private def spans = noisy.iterator.flatMap(_.spans)
  def docs: Long = noisy.size.toLong
  def textSpans: Long = spans.count(_.kind == Span.KindText).toLong
  def mediaSpans: Long = spans.count(_.kind == Span.KindMedia).toLong
  /** Text spans whose noisy text differs from the clean text. */
  def noisedSpans: Long = noisy.iterator.zip(clean.iterator).map { case (n, c) =>
    n.spans.zip(c.spans).count { case (a, b) => a.kind == Span.KindText && a.text != b.text }
  }.sum.toLong
}

/** A curation stage as `RunPipeline` applies it, restated through the
  * engine's public curation calls (the glue in `RunPipeline` is private).
  * `arg` is the stage's `RunPipeline` flag value. */
final case class CurationStage(name: String, flag: String, arg: String)

/**
 * A benchmark workload: its generator (a pure function of the seed), its
 * input size, and the `RunPipeline` flags it runs with.
 */
final case class Workload(name: String, nDocs: Int, curation: Seq[CurationStage],
                          gen: (Int, Long) => Generated) {
  def generate(seed: Long): Generated = gen(nDocs, seed)
  def runArgs: Map[String, String] = curation.map(s => s.flag -> s.arg).toMap
}

object Workloads {

  private val goodChars = DocGen.goodChars

  private def text(s: String, off: Int) = Span(Span.KindText, s, "", off)
  private def media(rng: DetRng, off: Int) =
    Span(Span.KindMedia, "", f"media://${rng.nextLong()}%016x", off)
  private def noised(docId: String, s: Span) =
    if (s.kind == Span.KindText)
      s.copy(text = NoiseChannel.mutilateSpan(docId, s.offset, s.text, goodChars))
    else s

  /** Every text span through the 0.12/char channel; DocGen's media share
    * and pathological long-doc shape. Noisy tokens are near-unique, so the
    * correction memo stays cold. Span counts follow a fixed cycle (and the
    * long docs a fixed length), so the seed moves the content, not the
    * input size. */
  private def ocrSkewed(n: Int, seed: Long): Generated = {
    val docs = (0 until n).map { i =>
      val docId = f"ocr-$seed-$i%07d"
      val rng = DetRng.forKey(s"ocr_skewed/$seed", i.toLong)
      val nSpans =
        if (i % DocGen.PathologicalEvery == 0) 5 * DocGen.PathologicalSpanFactor else 3 + i % 6
      val clean = Vector.tabulate(nSpans) { off =>
        if (rng.nextDouble() < DocGen.MediaFraction) media(rng, off)
        else text(DocGen.sentence(rng, 4 + rng.nextInt(9)), off)
      }
      (Doc(docId, clean.map(noised(docId, _))), Doc(docId, clean))
    }
    Generated(docs.map(_._1).toVector, docs.map(_._2).toVector)
  }

  /** A born-digital crawl: many short docs with a heavy media share and
    * 5% of text spans noised, so the kernel mostly takes its in-vocabulary
    * and memo paths. Injected into it, at fixed shares placed by a seeded
    * permutation: exact duplicates (8%), near duplicates that append one
    * word (8%), spam docs of one repeated token (4%) and
    * punctuation-and-digit junk (3%). A pool of boilerplate sentences
    * recurs across 30% of the other docs. */
  private def curatedCrawl(n: Int, seed: Long): Generated = {
    val boiler = Vector.tabulate(24) { k =>
      val rng = DetRng.forKey(s"curated_crawl/$seed/boilerplate", k.toLong)
      DocGen.sentence(rng, 10 + rng.nextInt(5))
    }
    val rank = Stats.shuffled(0 until n, DetRng.forKey(s"curated_crawl/$seed/categories"))
    val noisy = ArrayBuffer.empty[Doc]
    val clean = ArrayBuffer.empty[Doc]
    def renumber(ss: Seq[Span]) = ss.zipWithIndex.map { case (s, k) => s.copy(offset = k) }
    (0 until n).foreach { i =>
      val docId = f"cc-$seed-$i%07d"
      val rng = DetRng.forKey(s"curated_crawl/$seed", i.toLong)
      val u = rank(i).toDouble / n
      if (i > 0 && u < 0.16) {
        // copy of an earlier doc, verbatim (exact) or with one word appended
        // to its last text span (near); the noisy copy is the source's noisy
        // text, so duplicates stay duplicates after the channel
        val src = rng.nextInt(i)
        val near = u >= 0.08
        val word = DocGen.sentence(rng, 1)
        def copy(d: Doc): Doc = {
          val lastText = d.spans.lastIndexWhere(_.kind == Span.KindText)
          Doc(docId, d.spans.zipWithIndex.map { case (s, k) =>
            if (near && k == lastText) s.copy(text = s.text + " " + word) else s })
        }
        noisy += copy(noisy(src)); clean += copy(clean(src))
      } else if (u < 0.20) {
        val tok = DocGen.sentence(rng, 1)
        val d = Doc(docId, Vector(text(Vector.fill(20 + rng.nextInt(20))(tok).mkString(" "), 0)))
        noisy += d; clean += d
      } else if (u < 0.23) {
        val junk = Vector.fill(8 + rng.nextInt(8))(
          s"${rng.nextInt(1000)}${"!?;:.,"(rng.nextInt(6))}${"!?;:.,"(rng.nextInt(6))}")
        val d = Doc(docId, Vector(text(junk.mkString(" "), 0)))
        noisy += d; clean += d
      } else {
        val nSpans = 1 + i % 4
        val body = Vector.fill(nSpans) {
          if (rng.nextDouble() < 0.45) media(rng, 0)
          else text(DocGen.sentence(rng, 4 + rng.nextInt(9)), 0)
        }
        val withBoiler =
          if (rng.nextDouble() < 0.30)
            body.patch(rng.nextInt(body.size + 1), Seq(text(boiler(rng.nextInt(boiler.size)), 0)), 0)
          else body
        val c = renumber(withBoiler).toVector
        val nz = c.map { s =>
          if (s.kind == Span.KindText && !boiler.contains(s.text) && rng.nextDouble() < 0.05)
            noised(docId, s)
          else s
        }
        noisy += Doc(docId, nz); clean += Doc(docId, c)
      }
    }
    Generated(noisy.toVector, clean.toVector)
  }

  val all: Seq[Workload] = Seq(
    Workload("ocr_skewed", 300, Nil, ocrSkewed),
    Workload("curated_crawl", 600, Seq(
      CurationStage("sample", "sample", "0.95"),
      CurationStage("quality_gate", "quality-gate", "0.3"),
      CurationStage("dedup", "dedup", "exact"),
      CurationStage("span_dedup", "span-dedup", "8")), curatedCrawl))

  def byName(name: String): Workload =
    all.find(_.name == name).getOrElse(
      sys.error(s"unknown workload $name (${all.map(_.name).mkString("|")})"))

  /** Write both tables as parquet, 8 files each (a fixed split, so scan
    * parallelism does not depend on the session's core count). */
  def write(spark: SparkSession, g: Generated, noisyDir: String, cleanDir: String): Unit = {
    import spark.implicits._
    spark.sparkContext.parallelize(g.noisy, 8).toDS().write.parquet(noisyDir)
    spark.sparkContext.parallelize(g.clean, 8).toDS().write.parquet(cleanDir)
  }
}

/**
 * `RunPipeline`'s curation glue, restated with the engine's public calls in
 * the same order (sample → quality gate → doc dedup → span dedup) and with
 * the same doc-text key (text spans joined by a space). The output check
 * uses it for the expected surviving docs; the traced run times each stage.
 */
object Curation {

  private def tagDocText(docs: DataFrame): DataFrame = {
    val txt = concat_ws(" ",
      transform(filter(col("spans"), sp => sp.getField("kind") === Span.KindText),
        sp => sp.getField("text")))
    docs.withColumn("__txt", txt)
      .withColumn("__n", coalesce(length(graft.dedup.Dedup.normalizeText(col("__txt"))), lit(0)))
  }

  def apply(stage: CurationStage, docs: DataFrame): DataFrame = stage.name match {
    case "sample" =>
      graft.pipeline.Sampling.deterministicSample(docs, "doc_id", stage.arg.toDouble)
    case "quality_gate" =>
      val tagged = tagDocText(docs)
      graft.streaming.StreamingOps.qualityGate(tagged.where(col("__n") > 0), "__txt",
          stage.arg.toDouble, 0.6)
        .drop("quality", "dup_token_ratio", "dup_bigram_frac")
        .unionByName(tagged.where(col("__n") === 0)).drop("__txt", "__n")
    case "dedup" =>
      require(stage.arg == "exact", s"unsupported dedup mode ${stage.arg}")
      val tagged = tagDocText(docs)
      graft.dedup.Dedup.dedupExact(tagged.where(col("__n") > 0), "doc_id", "__txt")
        .unionByName(tagged.where(col("__n") === 0)).drop("__txt", "__n")
    case "span_dedup" =>
      val units = docs.select(col("doc_id"), explode(col("spans")).as("__sp"))
        .where(col("__sp.kind") === Span.KindText)
        .select(col("doc_id"), col("__sp.offset").as("unit_no"),
          graft.dedup.Dedup.normalizeText(col("__sp.text")).as("unit"))
        .withColumn("n_tokens", size(split(col("unit"), " ")))
      val losers = graft.dedup.LineDedup.duplicateUnitLosers(units, stage.arg.toInt)
        .groupBy(col("doc_id")).agg(collect_set(col("unit_no")).as("__lost"))
      docs.join(losers, Seq("doc_id"), "left")
        .withColumn("spans",
          when(col("__lost").isNull, col("spans")).otherwise(
            filter(col("spans"), sp =>
              sp.getField("kind") =!= Span.KindText ||
                !array_contains(col("__lost"), sp.getField("offset")))))
        .drop("__lost")
    case other => sys.error(s"unknown curation stage $other")
  }

  /** Every stage in order, each stage's output cached so the next reads it
    * once; the caller unpersists the returned frames. */
  def all(stages: Seq[CurationStage], docs: DataFrame): Seq[DataFrame] =
    stages.scanLeft(docs)((d, s) => apply(s, d).cache()).tail
}
