package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.correct.{DictionaryCorrector, DictionaryModel, NoisyChannelCorrector, NoisyChannelModel, NullCorrector}
import graft.gen.DocGen
import graft.model.Span
import graft.pipeline.{CheckpointedRun, CorrectionPipeline => CP}

class CheckpointSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = DocGen.docs(spark, 250).toDF().cache()

  private def freshDirs(): (String, String) = {
    val base = Files.createTempDirectory("ckpt").toString
    (s"$base/out", s"$base/state")
  }

  // default stage token for runs over `docs` (clean side eq input side)
  private def stagingOf(out: String, n: Int) =
    s"$out.${CheckpointedRun.StageLayout}-b$n-${CheckpointedRun.defaultStageToken(docs, docs, "noisy_spans", "spans")}"

  test("clean run: all buckets committed, output covers every doc, metrics match direct pipeline") {
    val (out, state) = freshDirs()
    val m = CheckpointedRun.run(spark, docs, docs, NullCorrector, out, state, "run1",
      nBuckets = 8, groupSize = 3, lineage = "test")
    assert(CheckpointedRun.doneBuckets(spark, state, "run1") == (0 until 8).toSet)
    val written = spark.read.parquet(out)
    assert(written.select("doc_id").distinct().count() == 250)
    val direct = CP.cer(CP.correct(CP.explodeSpans(docs, "noisy_spans"), NullCorrector), docs)
    assert(m.n == direct.n && m.nPerfect == direct.nPerfect)
    assert(math.abs(m.sumNormDist - direct.sumNormDist) < 1e-9)
  }

  test("kill-and-resume: resumed output identical to an unkilled run; no reprocessing of done buckets") {
    val (outA, stateA) = freshDirs()
    // killed after 1 group of 3 buckets
    intercept[CheckpointedRun.KilledException] {
      CheckpointedRun.run(spark, docs, docs, NullCorrector, outA, stateA, "r",
        nBuckets = 8, groupSize = 3, failAfterGroups = Some(1))
    }
    val doneAfterKill = CheckpointedRun.doneBuckets(spark, stateA, "r")
    assert(doneAfterKill.size == 3)
    // resume
    val m2 = CheckpointedRun.run(spark, docs, docs, NullCorrector, outA, stateA, "r",
      nBuckets = 8, groupSize = 3)
    assert(CheckpointedRun.doneBuckets(spark, stateA, "r") == (0 until 8).toSet)
    // resume processed only the remaining 5 buckets
    val total = CheckpointedRun.metrics(spark, stateA, "r")
    assert(m2.n < total.n && m2.n > 0)

    // unkilled control run
    val (outB, stateB) = freshDirs()
    CheckpointedRun.run(spark, docs, docs, NullCorrector, outB, stateB, "r",
      nBuckets = 8, groupSize = 3)
    val a = spark.read.parquet(outA).drop("bucket")
    val b = spark.read.parquet(outB).drop("bucket")
    assert(CP.spanSequenceViolations(a, b).isEmpty)
    assert(a.count() == b.count())
    val mA = CheckpointedRun.metrics(spark, stateA, "r")
    val mB = CheckpointedRun.metrics(spark, stateB, "r")
    assert(mA.n == mB.n && mA.nPerfect == mB.nPerfect)
    // summation order differs across group boundaries → fp tolerance
    assert(math.abs(mA.sumNormDist - mB.sumNormDist) < 1e-9)
  }

  test("staged input: written once, pruned group reads, reused on resume, deleted on completion") {
    val (out, state) = freshDirs()
    val staging = stagingOf(out, 8)
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    // kill after 1 of 3 groups — the committed stage survives for the resume
    intercept[CheckpointedRun.KilledException] {
      CheckpointedRun.run(spark, docs, docs, NullCorrector, out, state, "p",
        nBuckets = 8, groupSize = 3, failAfterGroups = Some(1))
    }
    val staged = spark.read.parquet(staging)
    assert(staged.select("doc_id").distinct().count() == 250)
    // a group read filters on the PARTITION column → pruned scan, not a full
    // re-derivation of the upstream plan per group
    val plan = staged.filter(col("bucket").isin(0, 1))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("bucket"),
      s"group read does not prune partitions:\n$plan")
    // a partial resume REUSES the stage (same _SUCCESS mtime — no rewrite)
    val marker = new org.apache.hadoop.fs.Path(s"$staging/_SUCCESS")
    val t0 = fs.getFileStatus(marker).getModificationTime
    intercept[CheckpointedRun.KilledException] {
      CheckpointedRun.run(spark, docs, docs, NullCorrector, out, state, "p",
        nBuckets = 8, groupSize = 3, failAfterGroups = Some(1))
    }
    assert(fs.getFileStatus(marker).getModificationTime == t0, "stage was rewritten")
    // completing the run deletes both stages (no permanent input copy)
    CheckpointedRun.run(spark, docs, docs, NullCorrector, out, state, "p",
      nBuckets = 8, groupSize = 3)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(staging)))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      staging.replace(".staging-", ".staging-clean-"))))
    assert(spark.read.parquet(out).select("doc_id").distinct().count() == 250)
  }

  test("a stage interrupted mid-write (no _SUCCESS) is rewritten on the next run") {
    val (out, state) = freshDirs()
    // fabricate a partial, uncommitted stage: data files but no _SUCCESS
    val staging = stagingOf(out, 8)
    docs.limit(10).withColumn("bucket", CheckpointedRun.bucketOf(8))
      .write.partitionBy("bucket").parquet(staging)
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$staging/_SUCCESS"), false)
    // kill mid-run so the (rewritten) stage is still observable
    intercept[CheckpointedRun.KilledException] {
      CheckpointedRun.run(spark, docs, docs, NullCorrector, out, state, "s",
        nBuckets = 8, groupSize = 3, failAfterGroups = Some(1))
    }
    // the partial stage was replaced by the full one
    assert(spark.read.parquet(staging).select("doc_id").distinct().count() == 250)
    val m = CheckpointedRun.run(spark, docs, docs, NullCorrector, out, state, "s",
      nBuckets = 8, groupSize = 3)
    assert(spark.read.parquet(out).select("doc_id").distinct().count() == 250)
    assert(m.n > 0)
  }

  test("trailing-slash output dir: stages still land as siblings and get swept") {
    val (out, state) = freshDirs()
    CheckpointedRun.run(spark, docs, docs, NullCorrector, s"$out/", state, "t",
      nBuckets = 4, groupSize = 4)
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(stagingOf(out, 4))),
      "completed run left its stage behind")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(stagingOf(s"$out/", 4))),
      "stage nested inside the output dir")
    assert(spark.read.parquet(out).select("doc_id").distinct().count() == 250)
  }

  test("a fully-resumed run (nothing remaining) still sweeps leftover stages") {
    val (out, state) = freshDirs()
    CheckpointedRun.run(spark, docs, docs, NullCorrector, out, state, "z",
      nBuckets = 4, groupSize = 2)
    // simulate a kill between the last commit and the cleanup: a stale stage
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val stale = new org.apache.hadoop.fs.Path(s"$out.staging-b4")
    fs.mkdirs(stale)
    val m = CheckpointedRun.run(spark, docs, docs, NullCorrector, out, state, "z",
      nBuckets = 4, groupSize = 2)
    assert(m.n == 0, "resume must not reprocess done buckets")
    assert(!fs.exists(stale), "groups.isEmpty path must sweep stages")
  }

  test("re-running with a different bucketing builds its own stage (no stale reuse)") {
    val (out, state) = freshDirs()
    intercept[CheckpointedRun.KilledException] {
      CheckpointedRun.run(spark, docs, docs, NullCorrector, out, state, "b16",
        nBuckets = 16, groupSize = 8, failAfterGroups = Some(1))
    }
    // a resume under nBuckets=4 must not filter the 16-bucket stage
    val m = CheckpointedRun.run(spark, docs, docs, NullCorrector, out, state, "b4",
      nBuckets = 4, groupSize = 2)
    assert(m.n > 0)
    val written = spark.read.parquet(out)
    // the b4 run alone covers every doc (b16's partial output appends extra
    // rows for its 8 done buckets — distinct doc coverage is the invariant)
    assert(written.select("doc_id").distinct().count() == 250)
  }

  test("full-pipeline resume: extract(pages) → noise → correct, kill-and-resume identical") {
    // the checkpointed docs input is the LAZY extraction plan over raw pages —
    // it is evaluated ONCE into the bucketed stage; group jobs read back only
    // their buckets, and determinism makes the kill+resume output byte-identical
    val pages = graft.gen.HtmlGen.pages(spark, 120).cache()
    val clean = graft.extract.Extract.extractDocs(pages).toDF()
    val noisy = graft.gen.NoiseChannel.noiseDocs(graft.extract.Extract.extractDocs(pages)).toDF()

    val (outA, stateA) = freshDirs()
    intercept[CheckpointedRun.KilledException] {
      CheckpointedRun.run(spark, noisy, clean, NullCorrector, outA, stateA, "x",
        spansCol = "spans", nBuckets = 6, groupSize = 2, failAfterGroups = Some(1))
    }
    CheckpointedRun.run(spark, noisy, clean, NullCorrector, outA, stateA, "x",
      spansCol = "spans", nBuckets = 6, groupSize = 2)

    val (outB, stateB) = freshDirs()
    CheckpointedRun.run(spark, noisy, clean, NullCorrector, outB, stateB, "x",
      spansCol = "spans", nBuckets = 6, groupSize = 2)

    val a = spark.read.parquet(outA).select("doc_id", "spans")
    val b = spark.read.parquet(outB).select("doc_id", "spans")
    assert(CP.spanSequenceViolations(a, b).count() == 0)
    assert(a.count() == 120 && b.count() == 120)
    pages.unpersist()
  }

  test("default stage token: a stage left by a run over a DIFFERENT input is never reused") {
    val (out, state) = freshDirs()
    val docsA = DocGen.docs(spark, 60).toDF()
    val docsB = DocGen.docs(spark, 90).toDF()
    // kill a run over input A — its committed stage survives under out/
    intercept[CheckpointedRun.KilledException] {
      CheckpointedRun.run(spark, docsA, docsA, NullCorrector, out, state, "ra",
        nBuckets = 4, groupSize = 1, failAfterGroups = Some(1))
    }
    // a fresh run over input B with the same outDir/nBuckets must stage B,
    // not filter A's stale 60-doc stage (the empty-token failure mode)
    val m = CheckpointedRun.run(spark, docsB, docsB, NullCorrector, out, state, "rb",
      nBuckets = 4, groupSize = 2)
    val direct = CP.cer(CP.correct(CP.explodeSpans(docsB, "noisy_spans"), NullCorrector), docsB)
    assert(m.n == direct.n && m.nPerfect == direct.nPerfect,
      s"run over B processed ${m.n} rows, expected ${direct.n} — stale stage reused?")
    // and the two inputs fingerprint differently in the first place
    assert(CheckpointedRun.planToken(docsA) != CheckpointedRun.planToken(docsB))
    // a SQL-built input (analyzed tree contains what UnresolvedRelation
    // resolved to) must fingerprint without throwing, stably
    docsA.createOrReplaceTempView("ckpt_token_docs")
    val viaSql = spark.sql("SELECT * FROM ckpt_token_docs")
    assert(CheckpointedRun.planToken(viaSql) ==
      CheckpointedRun.planToken(spark.sql("SELECT * FROM ckpt_token_docs")))
  }

  test("per-bucket metrics: native dl_distance column ≡ kernel, no ScalaUDF in the plan") {
    org.apache.spark.sql.graft.NativeFunctions.register(spark)
    val df = Seq(
      ("abc", "abc"), ("abcd", "abdc"), ("kitten", "sitting"),
      ("", "x"), ("x", ""), ("", ""), ("héllo😀", "hello😀"))
      .toDF("text", "text_clean")
      .withColumn("dist", CheckpointedRun.normalizedDistCol(col("text"), col("text_clean")))
    assert(!df.queryExecution.executedPlan.toString.contains("ScalaUDF"),
      "checkpoint metrics must use the codegen'd expression, not a ScalaUDF")
    df.collect().foreach { r =>
      val (a, b) = (r.getString(0), r.getString(1))
      val want = graft.text.DamerauLevenshtein.normalized(a, b)
      assert(math.abs(r.getDouble(2) - want) < 1e-12, s"($a, $b)")
    }
  }

  test("checkpointed dictionary run produces the same CER as the direct pipeline") {
    val (out, state) = freshDirs()
    val vocab = DictionaryCorrector.trainVocab(docs)
    val bc = DictionaryCorrector.buildModel(spark, vocab, 2L)
    val m = CheckpointedRun.run(spark, docs, docs, DictionaryCorrector.corrector(bc),
      out, state, "dict", nBuckets = 4, groupSize = 2)
    val direct = CP.cer(CP.correct(CP.explodeSpans(docs, "noisy_spans"),
      DictionaryCorrector.corrector(bc)), docs)
    assert(m.n == direct.n && m.nPerfect == direct.nPerfect)
    assert(math.abs(m.sumNormDist - direct.sumNormDist) < 1e-9)
    bc.destroy()
  }

  test("a stage committed by the earlier layout is never read: a resume across the change scores every pair") {
    val (out, state) = freshDirs()
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    // the earlier layout under the same token: input columns only, clean
    // spans in a second stage — committed, so it would be reused by name
    val token = CheckpointedRun.planToken(docs)
    val oldStage = s"$out.staging-b8-$token"
    CheckpointedRun.stageBucketed(spark, docs, oldStage, 8)
    CheckpointedRun.stageCleanSpans(spark, docs, s"$out.staging-clean-b8-$token", 8, "spans")
    intercept[CheckpointedRun.KilledException] {
      CheckpointedRun.run(spark, docs, docs, NullCorrector, out, state, "up",
        nBuckets = 8, groupSize = 3, failAfterGroups = Some(1))
    }
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"${stagingOf(out, 8)}/_SUCCESS")))
    CheckpointedRun.run(spark, docs, docs, NullCorrector, out, state, "up",
      nBuckets = 8, groupSize = 3)
    val total = CheckpointedRun.metrics(spark, state, "up")
    val direct = CP.cer(CP.correct(CP.explodeSpans(docs, "noisy_spans"), NullCorrector), docs)
    assert(total.n == direct.n && total.nPerfect == direct.nPerfect, s"$total vs $direct")
    assert(math.abs(total.sumNormDist - direct.sumNormDist) < 1e-9)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(oldStage)), "old-layout stage not swept")
    assert(spark.read.parquet(out).select("doc_id").distinct().count() == 250)
  }

  test("an empty input stages, commits every bucket and reports zero docs") {
    val (out, state) = freshDirs()
    val empty = docs.filter(lit(false))
    var summary: Option[CheckpointedRun.Summary] = None
    val m = CheckpointedRun.run(spark, empty, empty, NullCorrector, out, state, "e",
      nBuckets = 4, groupSize = 2, onSummary = s => summary = Some(s))
    assert(m.n == 0 && summary.flatMap(_.docsIn).contains(0L), s"$summary")
    assert(CheckpointedRun.doneBuckets(spark, state, "e") == (0 until 4).toSet)
  }

  test("a fresh one-group run submits exactly three Spark jobs: stage exchange, stage write, group") {
    val (out, state) = freshDirs()
    val small = DocGen.docs(spark, 60).toDF()
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    org.apache.spark.ListenerDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      CheckpointedRun.run(spark, small, small, NullCorrector, out, state, "jobs",
        nBuckets = 4, groupSize = 4)
      org.apache.spark.ListenerDrain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    // a re-introduced count, regroup, state write or state re-read shows up here
    assert(jobs.get == 3, s"${jobs.get} jobs")
  }

  test("a resume under the same run id with another lineage fails before it writes a row") {
    val (out, state) = freshDirs()
    intercept[CheckpointedRun.KilledException] {
      CheckpointedRun.run(spark, docs, docs, NullCorrector, out, state, "lin",
        nBuckets = 8, groupSize = 4, failAfterGroups = Some(1))
    }
    val rowsAfterKill = spark.read.parquet(out).count()
    def refused(nBuckets: Int, lineage: String): String =
      intercept[IllegalStateException] {
        CheckpointedRun.run(spark, docs, docs, NullCorrector, out, state, "lin",
          nBuckets = nBuckets, groupSize = 4, lineage = lineage)
      }.getMessage
    // another bucketing: the done buckets 0-3 of 8 hold other docs than
    // buckets 0-3 of 16, so reusing them duplicates some docs and loses others
    val e = refused(16, "")
    assert(e.contains(s"'${CheckpointedRun.StageLayout} buckets=8'") &&
      e.contains(s"'${CheckpointedRun.StageLayout} buckets=16'") && e.contains("--run-id"), e)
    // another corrector, model or curation: the caller's lineage differs
    assert(refused(8, "corrector=dictionary").contains("buckets=8 corrector=dictionary"))
    assert(spark.read.parquet(out).count() == rowsAfterKill, "a refused resume wrote rows")
    assert(CheckpointedRun.doneBuckets(spark, state, "lin") == (0 until 4).toSet)
    // the same lineage resumes, and the output covers every doc once
    CheckpointedRun.run(spark, docs, docs, NullCorrector, out, state, "lin",
      nBuckets = 8, groupSize = 4)
    val written = spark.read.parquet(out)
    assert(written.count() == 250 && written.select("doc_id").distinct().count() == 250)
  }

  test("a corrector that fails to build fails the run with its own exception and leaves no thread") {
    import scala.jdk.CollectionConverters._
    val (out, state) = freshDirs()
    val e = intercept[IllegalStateException] {
      CheckpointedRun.run(spark, docs, docs, throw new IllegalStateException("no vocabulary"),
        out, state, "nocorrector", nBuckets = 4, groupSize = 4)
    }
    assert(e.getMessage == "no vocabulary")
    assert(CheckpointedRun.doneBuckets(spark, state, "nocorrector").isEmpty)
    assert(!Thread.getAllStackTraces.keySet.asScala.exists(t => t.getName == "graft-beside" && t.isAlive))
  }

  test("a resume that reuses the committed stage reports the staged docs, and says it did not stage") {
    val (out, state) = freshDirs()
    intercept[CheckpointedRun.KilledException] {
      CheckpointedRun.run(spark, docs, docs, NullCorrector, out, state, "reuse",
        nBuckets = 4, groupSize = 2, failAfterGroups = Some(1))
    }
    var summary: Option[CheckpointedRun.Summary] = None
    CheckpointedRun.run(spark, docs, docs, NullCorrector, out, state, "reuse",
      nBuckets = 4, groupSize = 2, onSummary = s => summary = Some(s))
    assert(summary.map(s => (s.docsIn, s.stageObserved)).contains((Some(250L), None)), s"$summary")
  }

  test("a bucketed run writes one staged and one output file per bucket split, " +
    "and its staging plan moves each table's spans through one exchange") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.types.{ArrayType, StructType}
    val helper = new AdaptiveSparkPlanHelper {}
    val base = Files.createTempDirectory("ckpt_layout").toFile.getCanonicalPath
    val (inDir, cleanDir) = (s"$base/in", s"$base/clean")
    docs.select(col("doc_id"), col("noisy_spans")).repartition(8).write.parquet(inDir)
    docs.select(col("doc_id"), col("spans")).repartition(8).write.parquet(cleanDir)
    val in = spark.read.parquet(inDir)
    val clean = spark.read.parquet(cleanDir)
    assert(in.rdd.getNumPartitions >= 4 && clean.rdd.getNumPartitions >= 4)
    val (out, state) = (s"$base/out", s"$base/state")
    val nBuckets = 4
    val s = math.max(1, (spark.conf.get("spark.sql.shuffle.partitions").toInt + nBuckets - 1) / nBuckets)

    val writes = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val qel = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (helper.find(qe.executedPlan) {
          case w: DataWritingCommandExec => w.cmd match {
            case i: InsertIntoHadoopFsRelationCommand => i.outputPath.getName.contains(".staging-")
            case _ => false
          }
          case _ => false
        }.nonEmpty) writes.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val broadcast = "spark.sql.autoBroadcastJoinThreshold"
    val broadcastWas = spark.conf.get(broadcast)
    org.apache.spark.ListenerDrain(spark.sparkContext)
    spark.listenerManager.register(qel)
    spark.conf.set(broadcast, "-1")
    try {
      intercept[CheckpointedRun.KilledException] {
        CheckpointedRun.run(spark, in, clean, NullCorrector, out, state, "layout",
          nBuckets = nBuckets, groupSize = 2, failAfterGroups = Some(1))
      }
      org.apache.spark.ListenerDrain(spark.sparkContext)
    } finally {
      spark.conf.set(broadcast, broadcastWas)
      spark.listenerManager.unregister(qel)
    }
    def parts(dir: String): Int = {
      val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(dir), true)
      var n = 0
      while (it.hasNext) if (it.next().getPath.getName.startsWith("part-")) n += 1
      n
    }
    val stagingDir = new java.io.File(base).listFiles.map(_.getPath).filter(_.contains(".staging-")).toSeq
    assert(stagingDir.size == 1, stagingDir)
    // every bucket holds docs, so each bucket split writes one file
    assert(parts(stagingDir.head) == nBuckets * s, s"staged files of ${stagingDir.head}")
    CheckpointedRun.run(spark, in, clean, NullCorrector, out, state, "layout",
      nBuckets = nBuckets, groupSize = 2)
    assert(parts(out) == nBuckets * s, "output files")

    assert(writes.size == 1, s"${writes.size} staging writes")
    val plan = writes.peek().executedPlan
    def carriesSpans(p: SparkPlan) = p.output.exists(_.dataType match {
      case ArrayType(_: StructType, _) => true
      case _ => false
    })
    def reads(p: SparkPlan, dir: String) = helper.collectWithSubqueries(p) {
      case f: FileSourceScanExec
        if f.relation.location.rootPaths.exists(_.toUri.getPath.stripSuffix("/") == dir) => f
    }.nonEmpty
    val exchanges = helper.collectWithSubqueries(plan) { case e: ShuffleExchangeLike => e }
    for (dir <- Seq(inDir, cleanDir)) {
      val moving = exchanges.filter(e => carriesSpans(e) && reads(e, dir))
      assert(moving.size == 1, s"${moving.size} span-carrying exchanges over $dir:\n$plan")
    }
  }

  test("a null-text text span comes out null under the noisy and the dictionary corrector") {
    def t(text: String, off: Int) = Span(Span.KindText, text, "", off)
    val docs = Seq(EqDoc("nulltext", Seq(t(null, 0), t("helo wrld", 1)),
      Seq(t("x", 0), t("hello world", 1)))).toDF()
    val vocab = Map("hello" -> 5L, "world" -> 5L)
    val noisy = spark.sparkContext.broadcast(new NoisyChannelModel(vocab, 1L, 30))
    val dict = spark.sparkContext.broadcast(new DictionaryModel(vocab, 1L))
    Seq("noisy" -> new NoisyChannelCorrector(noisy), "dict" -> DictionaryCorrector.corrector(dict))
      .foreach { case (name, corrector) =>
        val (out, state) = freshDirs()
        val m = CheckpointedRun.run(spark, docs, docs, corrector, out, state, name,
          spansCol = "noisy", cleanSpansCol = "truth", nBuckets = 2, groupSize = 2)
        val spans = spark.read.parquet(out).select("spans").as[Seq[Span]].collect().toSeq.flatten
        assert(spans == Seq(t(null, 0), t("hello world", 1)), name)
        // the null pair counts in rows, not in cer_sum or perfect
        assert(m == graft.model.CerMetrics(2, 1, 0.0), s"$name: $m")
      }
    noisy.destroy(); dict.destroy()
  }
}
