package graft

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan, UnionExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener
import graft.dedup.{Bloom, Dedup}
import graft.gen.DocGen
import graft.model.Span
import graft.textanalysis.{Dsir, LangProfile, QualityClassifier, TextAnalysis}

/** The text-curation stages of [[RunPipeline]] pass media-only docs by a
  * predicate on one branch. These specs hold them to the union form they
  * replace (restated here as the witness) and pin the staging plan's shape. */
class SingleBranchCurationSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private val spanType = StructType(Seq(
    StructField("kind", StringType), StructField("text", StringType),
    StructField("media_ref", StringType), StructField("offset", IntegerType)))
  private val docSchema = StructType(Seq(
    StructField("doc_id", StringType), StructField("spans", ArrayType(spanType))))

  private def t(text: String, off: Int = 0) = Row(Span.KindText, text, "", off)
  private def m(ref: String, off: Int) = Row(Span.KindMedia, null, ref, off)

  private val english = (0 until 24).map(i =>
    s"the quick brown fox number $i jumps over the lazy dog and the cat again today")
  private val foreign = (0 until 6).map(i =>
    s"zxq qzx xqz number $i zzzz qqqq xxxx zxqzxq qzxqzx zxqqzx")

  /** Text docs with exact and near duplicates, foreign-language and spam
    * docs, plus every no-text and id edge the passthrough must handle. */
  private lazy val fixture: DataFrame = {
    val rows =
      english.zipWithIndex.map { case (s, i) => Row(f"en$i%02d", Seq(t(s))) } ++
      // exact copies (case and whitespace drift) under larger ids
      (0 until 4).map(i => Row(f"ex$i%02d", Seq(t("  " + english(i).toUpperCase + " ")))) ++
      // near copies: one word changed
      (0 until 4).map(i => Row(f"nr$i%02d", Seq(t(english(4 + i).replace("today", "tonight"))))) ++
      foreign.zipWithIndex.map { case (s, i) => Row(f"zz$i%02d", Seq(t(s))) } ++
      (0 until 3).map(i => Row(s"spam$i", Seq(t(Seq.fill(12)(s"buy cheap $i now").mkString(" "))))) ++
      Seq(
        Row("media0", Seq(m("media://1", 0), m("media://2", 1))),
        Row("media1", Seq(m("media://3", 0))),
        Row("blank0", Seq(t("   ", 0), m("media://4", 1))),
        Row("blank1", Seq(t("\t \n", 0))),
        Row("nullspans", null),
        Row("nulltext0", Seq(t(null, 0))),
        Row("nulltext1", Seq(t(null, 0), t(english(10) + " with more words", 1))),
        Row(null, Seq(t(english(12)))),
        Row(null, Seq(t("a document without an id but with its own words"))),
        Row(null, Seq(m("media://5", 0))),
        // one id, two texts: a copy of en01 (a loser in the exact collapse)
        // and a unique text that makes the id a survivor — the join-back
        // must keep both rows, exactly as the union form's semi join does
        Row("zdupid", Seq(t(english(1)))),
        Row("zdupid", Seq(t("a unique document for the duplicated id number one"))),
        Row("zdupid2", Seq(t(english(2)))),
        Row("zdupid2", Seq(t(english(3)))))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), docSchema)
  }

  private def survivors(df: DataFrame): Seq[String] =
    df.select(col("doc_id"), col("spans")).collect().map(_.toString).toSeq.sorted

  /** The union form every rewritten stage replaced: the has-text branch
    * through the stage's operator, unioned with the no-text branch. */
  private def unionWitness(docs: DataFrame)(textStage: DataFrame => DataFrame): DataFrame = {
    val tagged = RunPipeline.tagDocText(docs, "spans")
    textStage(tagged.where(col("__n") > 0))
      .unionByName(tagged.where(col("__n") === 0))
      .drop("__txt", "__n")
  }

  private def assertSame(name: String, got: DataFrame, witness: DataFrame): Unit = {
    val (g, w) = (survivors(got), survivors(witness))
    assert(g == w, s"$name: single-branch ${g.diff(w)} vs union ${w.diff(g)}")
    // every site must act on the fixture, and pass all of its no-text rows
    assert(w.size < fixture.count(), s"$name dropped nothing")
    assert(w.count(_.contains("media0")) == 1 && w.count(_.contains("nullspans")) == 1 &&
      w.count(_.contains("blank1")) == 1 && w.count(_.contains("media://5")) == 1,
      s"$name: no-text rows must pass")
  }

  test("every single-branch curation stage keeps the union form's survivors") {
    val base = Files.createTempDirectory("single_branch").toString
    val docs = fixture
    def semi(ids: DataFrame)(hasText: DataFrame) = hasText.join(ids, Seq("doc_id"), "left_semi")

    // the dedup family, all four modes
    for ((mode, op) <- Seq[(String, DataFrame => DataFrame)](
        "exact" -> (h => Dedup.dedupExact(h, "doc_id", "__txt")),
        "near-lsh:0.7" -> (h => Dedup.dedupNearLsh(h, 0.7, idCol = "doc_id", textCol = "__txt")),
        "near-cc:0.7" -> (h => Dedup.dedupNearCC(h, 0.7, idCol = "doc_id", textCol = "__txt")),
        "near-simhash:3" ->
          (h => Dedup.dedupNearSimHash(h, 3, idCol = "doc_id", textCol = "__txt")))) {
      val got = RunPipeline.dedupDocs(docs, "spans", mode)
      val witness = unionWitness(docs)(op)
      assertSame(s"--dedup $mode", got, witness)
      if (mode == "exact") assert(survivors(got).count(_.startsWith("[zdupid,")) == 2,
        "both rows of a surviving duplicated id stay")
    }

    // the heuristic gates
    assertSame("--quality-gate", RunPipeline.gateDocs(docs, "spans", "0.3:0.2"),
      unionWitness(docs)(h => graft.streaming.StreamingOps.qualityGate(h, "__txt", 0.3, 0.2)
        .drop("quality", "dup_token_ratio", "dup_bigram_frac")))
    assertSame("--gopher", RunPipeline.gopherDocs(docs, "spans", "12:2"),
      unionWitness(docs)(h => h
        .withColumn("__gsig", TextAnalysis.gopherSignals(spark, coalesce(col("__txt"), lit(""))))
        .where(TextAnalysis.gopherKeep(col("__gsig"), minWords = 12, minStopHits = 2))
        .drop("__gsig")))

    // the model stages: survivors picked by id
    val labeled = (english.take(12).map(s => (s, 1)) ++ foreign.map(s => (s, 0)))
      .zipWithIndex.map { case ((s, l), i) => (s"tr$i", s, l) }.toDF("doc_id", "text", "label")
    QualityClassifier.saveCountDiffModel(
      QualityClassifier.countDiffModel(labeled, 1024), 1024, s"$base/qm")
    val (qm, qmDim) = QualityClassifier.loadCountDiffModel(spark, s"$base/qm")
    assertSame("--quality-model", RunPipeline.qualityModelDocs(docs, "spans", s"$base/qm", 0L),
      unionWitness(docs)(h => semi(QualityClassifier.countDiffScores(
        h.select(col("doc_id"), col("__txt")), qm, qmDim, idCol = "doc_id", textCol = "__txt")
        .where(col("score_raw") > 0L).select(col("doc_id")))(h)))

    Dsir.saveModel(english.take(16).toDF("text").withColumn("doc_id", col("text")),
      1024, s"$base/dsir")
    val (counts, dim) = Dsir.loadModel(spark, s"$base/dsir")
    assertSame("--dsir-model", RunPipeline.dsirDocs(docs, "spans", s"$base/dsir", 12, 0.5),
      unionWitness(docs)(h => semi(Dsir.resample(h.select(col("doc_id"), col("__txt")),
        counts, 12, dim, 0.5, idCol = "doc_id", textCol = "__txt").select(col("doc_id")))(h)))

    LangProfile.save(LangProfile.train((english.map((_, "en")) ++ foreign.map((_, "zz")))
      .toDF("text", "lang").withColumn("doc_id", col("text")), k = 200), s"$base/lp")
    val profiles = LangProfile.load(spark, s"$base/lp")
    assertSame("--langid-model", RunPipeline.langidDocs(docs, "spans", s"$base/lp", Set("en")),
      unionWitness(docs)(h => semi(LangProfile.classify(h.select(col("doc_id"), col("__txt")),
        profiles, idCol = "doc_id", textCol = "__txt")
        .filter(col("lang_pred") === "en").select(col("doc_id")))(h)))

    // the Bloom sketch-table path: a geometry past the literal-probe limit
    val mBits = Bloom.WordBits * (Bloom.LiteralProbeMaxWords + 1)
    val shipped = (english.take(8) ++ Seq(english(12), english(2))).toDF("text")
      .select(Dedup.fingerprint(col("text")).as("fp"))
    Bloom.save(spark, Bloom.buildTable(shipped, "fp", mBits, 4), mBits, 4, s"$base/bloom")
    val table = spark.read.parquet(s"$base/bloom/words")
    assertSame("--bloom-dedup (table)", RunPipeline.bloomDedupDocs(docs, "spans", s"$base/bloom"),
      unionWitness(docs)(h => Bloom.dedupAgainstSketchTable(h, table, mBits, 4,
        textCol = "__txt", idCol = "doc_id")))
  }

  /** Scans of `path` (reused exchanges are not scans) and unions in the
    * executed plan, subqueries and adaptive query stages included. */
  private def scansOf(plan: SparkPlan, path: String): Int =
    collectWithSubqueries(plan) {
      case s: FileSourceScanExec
        if s.relation.location.rootPaths.exists(_.toUri.getPath.stripSuffix("/") == path) => s
    }.size
  private def unionsOf(plan: SparkPlan): Int =
    collectWithSubqueries(plan) { case u: UnionExec => u }.size

  test("a curated staging write scans the input at most 4 times, unions nothing, " +
    "and runs one task per bucket split") {
    val base = Files.createTempDirectory("single_branch_plan").toString
    val input = new java.io.File(s"$base/in").getCanonicalPath
    // every sixth doc ends in the same boilerplate span, so span dedup cuts
    val boiler = struct(lit(Span.KindText).as("kind"),
      lit("subscribe to our newsletter for the latest news and offers").as("text"),
      lit("").as("media_ref"), lit(100).as("offset"))
    val gen = DocGen.docs(spark, 240).toDF().select(col("doc_id"),
      when(hash(col("doc_id")) % 6 === 0, concat(col("noisy_spans"), array(boiler)))
        .otherwise(col("noisy_spans")).as("spans"))
    gen.unionByName(gen.limit(30).withColumn("doc_id", concat(col("doc_id"), lit("_copy"))))
      .unionByName(spark.createDataFrame(spark.sparkContext.parallelize(
        (0 until 10).map(i => Row(s"media$i", Seq(m(s"media://$i", 0))))), docSchema))
      .repartition(8).write.parquet(input)
    assert(new java.io.File(input).listFiles.count(_.getName.endsWith(".parquet")) == 8)
    val splits = spark.read.parquet(input).rdd.getNumPartitions

    // the staging write's executed plan and SQL execution, and every job's
    // execution and newest stage's task count: the last job of the write's
    // execution is its result job (adaptive execution submits each shuffle
    // stage as a job of its own first)
    val writes = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val qel = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (find(qe.executedPlan) {
          case w: DataWritingCommandExec => w.cmd match {
            case i: InsertIntoHadoopFsRelationCommand => i.outputPath.getName.contains(".staging-")
            case _ => false
          }
          case _ => false
        }.nonEmpty) writes.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, Int)]()
    val stagingExec = new java.util.concurrent.atomic.AtomicReference[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.add((String.valueOf(e.properties.getProperty("spark.sql.execution.id")),
          e.stageInfos.maxBy(_.stageId).numTasks))
        ()
      }
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        // the formatted plan's command section names the output path first
        case s: SparkListenerSQLExecutionStart if {
            val d = s.physicalPlanDescription
            val cmd = d.lastIndexOf("Execute InsertIntoHadoopFsRelationCommand")
            val args = d.indexOf("Arguments: ", math.max(cmd, 0))
            cmd >= 0 && args >= 0 && d.substring(args).takeWhile(_ != ',').contains(".staging-")
          } =>
          stagingExec.set(s.executionId.toString)
        case _ =>
      }
    }
    // partition coalescing off for the run: with it, how Spark packs a few
    // hundred KB decides the count, not the plan's shape
    val coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    val coalesceWas = spark.conf.get(coalesce)
    org.apache.spark.ListenerDrain(spark.sparkContext)
    spark.listenerManager.register(qel)
    spark.sparkContext.addSparkListener(listener)
    spark.conf.set(coalesce, "false")
    try {
      RunPipeline.run(spark, Map("input" -> input, "output" -> s"$base/out",
        "corrector" -> "null", "sample" -> "0.95", "quality-gate" -> "0.3",
        "dedup" -> "exact", "span-dedup" -> "8", "buckets" -> "8", "group-size" -> "8"))
      org.apache.spark.ListenerDrain(spark.sparkContext)
    } finally {
      spark.conf.set(coalesce, coalesceWas)
      spark.sparkContext.removeSparkListener(listener)
      spark.listenerManager.unregister(qel)
    }
    assert(writes.size == 1, s"${writes.size} staging writes")
    val qe = writes.peek()
    val plan = qe.executedPlan
    assert(unionsOf(plan) == 0, s"staging plan has a Union:\n$plan")
    assert(scansOf(plan, input) <= 4, s"${scansOf(plan, input)} scans of the input:\n$plan")
    val staging = jobs.toArray(Array.empty[(String, Int)]).filter(_._1 == stagingExec.get)
    assert(staging.nonEmpty, s"no job ran under the staging write's execution ${stagingExec.get}")
    // 8 buckets × ⌈4 shuffle partitions / 8⌉ exchange partitions per bucket
    assert(staging.last._2 == 8, s"staging job ran ${staging.last._2} tasks on $splits splits")
  }
}
