package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.sources.CorpusIO

class CorpusIOSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(name: String) =
    Files.createTempDirectory(s"corpusio_$name").resolve("out").toString

  test("S2: plain-text sink/scan round-trips line corpus") {
    val path = tmp("text")
    val df = Seq("first sentence", "second sentence").toDF("text")
    CorpusIO.writePlainText(df, "text", path)
    val back = CorpusIO.readPlainText(spark, path).as[String].collect().sorted
    assert(back.toSeq == Seq("first sentence", "second sentence"))
  }

  test("S5: split CSV round-trip with schema enforcement; corrupt file fails fast") {
    val path = tmp("split")
    val df = Seq(("doc0", 0, "train"), ("doc1", 1, "test")).toDF("doc_id", "offset", "split")
    CorpusIO.writeSplitCsv(df, path)
    val back = CorpusIO.readSplitCsv(spark, path)
    assert(back.schema == CorpusIO.splitSchema)
    assert(back.count() == 2)

    val bad = tmp("badsplit")
    Seq(("doc0", "train")).toDF("doc_id", "split")
      .write.option("header", true).csv(bad)
    intercept[Exception] { CorpusIO.readSplitCsv(spark, bad).collect() }
  }

  test("S8: vocab model save/load with key-set assertion") {
    val path = tmp("vocab")
    val vocab = Seq(("the", 10L), ("cat", 3L)).toDF("token", "freq")
    CorpusIO.saveVocab(vocab, minFrequency = 2L, path)
    val (back, mf) = CorpusIO.loadVocab(spark, path)
    assert(mf == 2L)
    assert(back.as[(String, Long)].collect().toMap == Map("the" -> 10L, "cat" -> 3L))

    val bad = tmp("badvocab")
    Seq(("the", 10L)).toDF("token", "freq").write.parquet(bad)
    intercept[IllegalArgumentException] { CorpusIO.loadVocab(spark, bad) }
  }

  test("S9: eval CSV has the reference column layout") {
    val path = tmp("eval")
    val df = Seq(("in", "out", "correct", 3)).toDF("text_in", "text_out", "text_correct", "edit_distance")
    CorpusIO.writeEvalCsv(df, path)
    val back = spark.read.option("header", true).csv(path)
    assert(back.columns.toSeq == Seq("text_in", "text_out", "text_correct", "edit_distance"))
  }

  test("S10: hyperparams JSON round-trip") {
    val path = tmp("hp")
    val params = Map("min_frequency" -> 2.0, "edit_chance" -> 0.12)
    CorpusIO.saveHyperparams(spark, params, path)
    assert(CorpusIO.loadHyperparams(spark, path) == params)
  }

  test("ORC docs round-trip: nested spans survive and prune like parquet") {
    import graft.model.{Doc, Span}
    val docs = Seq(
      Doc("d0", Seq(Span(Span.KindText, "orc text", "", 0),
                    Span(Span.KindMedia, "", "m1", 1))),
      Doc("d1", Seq(Span(Span.KindText, "more orc", "", 0))))
    val path = tmp("orcdocs")
    CorpusIO.writeDocs(docs.toDS().toDF(), path, "orc")
    val back = CorpusIO.readDocs(spark, path, "orc").as[Doc].collect()
      .map(d => d.doc_id -> d).toMap
    assert(back == docs.map(d => d.doc_id -> d).toMap)
    // nested column pruning works on the ORC scan too
    val q = CorpusIO.readDocs(spark, path, "orc")
      .select(explode(col("spans")).as("s")).groupBy(col("s.kind"))
      .agg(count(lit(1)).as("n"))
    val plan = q.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val readSchemas = plan.linesIterator.filter(_.contains("ReadSchema:")).toSeq
    assert(readSchemas.nonEmpty && readSchemas.forall(s =>
      s.contains("kind") && !s.contains("text")), readSchemas.mkString("\n"))
    // contract violation fails loudly
    val bad = tmp("badorc")
    Seq(("x", 1)).toDF("a", "b").write.mode("overwrite").orc(bad)
    intercept[IllegalArgumentException] { CorpusIO.readDocs(spark, bad, "orc") }
    // right NAME, wrong SHAPE: a scalar spans column must fail at the scan
    // assertion, not later with an opaque field-dereference error
    val badShape = tmp("badshape")
    Seq(("d0", "not an array")).toDF("doc_id", "spans").write.parquet(badShape)
    val e = intercept[IllegalArgumentException] { CorpusIO.readDocs(spark, badShape) }
    assert(e.getMessage.contains("array<struct"), e.getMessage)
    intercept[IllegalArgumentException] { CorpusIO.writeDocs(docs.toDS().toDF(), path, "avro") }
  }

  test("JSONL docs round-trip: canonical record, explicit schema, unicode + nulls intact") {
    import graft.model.{Doc, Span}
    val docs = Seq(
      Doc("d0", Seq(Span(Span.KindText, "héllo \"quoted\" wörld\nsecond line", "", 0),
                    Span(Span.KindMedia, "", "m1", 1))),
      Doc("d1", Seq(Span(Span.KindText, "čišćenje — unicode", "", 0))),
      Doc("d2", Seq.empty))
    val path = tmp("jsonldocs")
    CorpusIO.writeDocs(docs.toDS().toDF(), path, "jsonl")
    // the sink really is line-delimited JSON (one parseable object per line)
    val lines = spark.read.text(path).collect().map(_.getString(0))
    assert(lines.nonEmpty && lines.forall(l => l.startsWith("{") && l.endsWith("}")))
    val back = CorpusIO.readDocs(spark, path, "jsonl").as[Doc].collect()
      .map(d => d.doc_id -> d).toMap
    // JSON has no empty-array-vs-null distinction worth preserving here;
    // compare per-doc with empty-span normalization
    docs.foreach { d =>
      val got = back(d.doc_id)
      assert(Option(got.spans).getOrElse(Seq.empty) == d.spans, s"${d.doc_id}: $got")
    }
    // offset stays int32 via the explicit schema (inference would widen to long)
    val offT = CorpusIO.readDocs(spark, path, "jsonl")
      .select(explode(col("spans")).as("s")).select(col("s.offset")).schema.head.dataType
    assert(offT == org.apache.spark.sql.types.IntegerType, offT.toString)
  }

  test("partitioned docs sink: lang filter prunes partitions at the scan") {
    val path = tmp("partdocs")
    val docs = Seq(
      ("d0", "en", "hello world"), ("d1", "en", "more english"),
      ("d2", "de", "hallo welt"), ("d3", "fr", "bonjour")).toDF("doc_id", "lang", "text")
    CorpusIO.writeDocs(docs.withColumn("spans",
      array(struct(lit("text").as("kind"), col("text").as("text"),
        lit("").as("media_ref"), lit(0).cast("int").as("offset"))))
      .drop("text"), path, partCols = Seq("lang"))
    val q = CorpusIO.readDocs(spark, path).filter(col("lang") === "en")
    // the filter must become a PartitionFilter (directory pruning), not a
    // post-scan row filter over all partitions' bytes
    val plan = q.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val pf = plan.linesIterator.filter(_.contains("PartitionFilters:")).toSeq
    assert(pf.nonEmpty && pf.exists(_.contains("lang")), plan)
    assert(q.select("doc_id").as[String].collect().sorted.toSeq == Seq("d0", "d1"))
    // partition column validation
    intercept[IllegalArgumentException] {
      CorpusIO.writeDocs(docs, tmp("bad"), partCols = Seq("nope"))
    }
  }

  test("nested schema pruning: span-kind stats never read span text bytes") {
    // At 100 TB the spans.text field is ~all of the corpus' bytes; a query
    // over span kinds/counts must prune it at the parquet scan
    // (spark.sql.optimizer.nestedSchemaPruning, on by default) — otherwise
    // the scan I/O is the full corpus for a metadata-sized answer.
    import graft.model.{Doc, Span}
    val path = tmp("nested")
    val docs = Seq(
      Doc("d0", Seq(Span(Span.KindText, "some text", "", 0),
                    Span(Span.KindMedia, "", "m0", 1))),
      Doc("d1", Seq(Span(Span.KindText, "more text", "", 0))))
    docs.toDS().write.parquet(path)
    val q = spark.read.parquet(path)
      .select(explode(col("spans")).as("s"))
      .groupBy(col("s.kind")).agg(count(lit(1)).as("n"))
    // assert on the scan's ReadSchema line (robust across v1/v2 scan exec
    // nodes and AQE wrapping)
    val plan = q.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val readSchemas = plan.linesIterator.filter(_.contains("ReadSchema:")).toSeq
    assert(readSchemas.nonEmpty, plan)
    readSchemas.foreach { schema =>
      assert(schema.contains("kind"), schema)
      assert(!schema.contains("text") && !schema.contains("media_ref"),
        s"span text/media_ref not pruned from the scan: $schema")
    }
    assert(q.collect().map(r => (r.getString(0), r.getLong(1))).toMap ==
      Map(Span.KindText -> 2L, Span.KindMedia -> 1L))
  }

  test("a parquet readDocs infers no schema in a job, keeps the contract messages and the partitions") {
    import graft.model.{Doc, Span}
    val docs = Seq(Doc("d0", Seq(Span(Span.KindText, "hello", "", 0))),
      Doc("d1", Seq(Span(Span.KindMedia, "", "m1", 0))))
    val path = tmp("footer")
    docs.toDS().repartition(2).write.parquet(path)
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    org.apache.spark.ListenerDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    val read = try {
      val df = CorpusIO.readDocs(spark, path)
      org.apache.spark.ListenerDrain(spark.sparkContext)
      df
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get == 0, s"${jobs.get} jobs to read the schema")
    assert(read.schema == spark.read.parquet(path).schema)
    assert(read.as[Doc].collect().sortBy(_.doc_id).toSeq == docs)

    // each contract violation fails with the message it always had
    def violation(df: org.apache.spark.sql.DataFrame, message: String): Unit = {
      val bad = tmp("contract")
      df.write.parquet(bad)
      val e = intercept[IllegalArgumentException](CorpusIO.readDocs(spark, bad))
      assert(e.getMessage.contains(s"docs table at $bad") && e.getMessage.contains(message),
        e.getMessage)
    }
    val spans = docs.toDS().toDF()
    violation(spans.drop("doc_id"), "must have (doc_id, spans), got spans")
    violation(spans.drop("spans"), "must have (doc_id, spans), got doc_id")
    violation(Seq(("d0", 1)).toDF("doc_id", "spans"),
      "column spans must be array<struct<kind, text, ...>>, got int")
    violation(Seq(("d0", Seq("a", "b"))).toDF("doc_id", "spans"),
      "column spans must be array<struct<kind, text, ...>>, got array<string>")

    // a partitioned layout: the partition column comes back where Spark's
    // inference puts it, with its type, and a filter on it prunes directories
    val parted = tmp("footerparts")
    CorpusIO.writeDocs(spans.withColumn("part", lit(7)).union(
      spans.withColumn("part", lit(8))), parted, partCols = Seq("part"))
    val back = CorpusIO.readDocs(spark, parted)
    assert(back.schema == spark.read.parquet(parted).schema, back.schema.treeString)
    val q = back.filter(col("part") === 8)
    assert(q.queryExecution.executedPlan.toString.contains("PartitionFilters: [isnotnull(part"),
      q.queryExecution.executedPlan.toString)
    assert(q.count() == 2)
  }
}
