package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.correct.{DictionaryCorrector, NullCorrector}
import graft.gen.DocGen
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
    s"$out.staging-v2-b$n-${CheckpointedRun.defaultStageToken(docs, docs, "noisy_spans", "spans")}"

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
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$out/.staging-v2-b4-${CheckpointedRun.defaultStageToken(docs, docs, "noisy_spans", "spans")}")),
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
    org.apache.spark.sql.graft.DamerauLevenshteinExpr.register(spark)
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

  test("a fresh one-group run submits exactly three Spark jobs: stage, group, state") {
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
    // a re-introduced count, regroup or state re-read shows up here
    assert(jobs.get == 3, s"${jobs.get} jobs")
  }
}
