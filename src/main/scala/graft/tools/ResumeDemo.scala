package graft.tools

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import graft.correct.{DictionaryCorrector => DC}
import graft.gen.DocGen
import graft.pipeline.{CheckpointedRun, CorrectionPipeline => CP}

/** Operational demo of checkpoint/resume: runs the dictionary-correction
  * pipeline with an injected kill, resumes it, and proves the resumed output
  * equals an unkilled control run. `sbt "runMain graft.tools.ResumeDemo [nDocs]"` */
object ResumeDemo {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(400L)
    val spark = SparkSession.builder()
      .master("local[8]").appName("graft-resume-demo")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val docs = DocGen.docs(spark, n).toDF().cache()
    val bc = DC.buildModel(spark, DC.trainVocab(docs), 2L)
    val corrector = DC.corrector(bc)
    val base = Files.createTempDirectory("graft-resume").toString

    // killed run
    try {
      CheckpointedRun.run(spark, docs, docs, corrector, s"$base/a/out", s"$base/a/state", "demo",
        nBuckets = 8, groupSize = 2, lineage = s"gen:n=$n", failAfterGroups = Some(2))
    } catch {
      case _: CheckpointedRun.KilledException =>
        println(s"KILLED after 2 groups; done buckets = ${CheckpointedRun.doneBuckets(spark, s"$base/a/state", "demo").toSeq.sorted}")
    }
    // resume
    CheckpointedRun.run(spark, docs, docs, corrector, s"$base/a/out", s"$base/a/state", "demo",
      nBuckets = 8, groupSize = 2, lineage = s"gen:n=$n")
    // control
    CheckpointedRun.run(spark, docs, docs, corrector, s"$base/b/out", s"$base/b/state", "demo",
      nBuckets = 8, groupSize = 2, lineage = s"gen:n=$n")

    val a = spark.read.parquet(s"$base/a/out").drop("bucket")
    val b = spark.read.parquet(s"$base/b/out").drop("bucket")
    val violations = CP.spanSequenceViolations(a, b).count()
    val m = CheckpointedRun.metrics(spark, s"$base/a/state", "demo")
    println(f"RESUMED: docs=${a.count()} identical_to_control=${violations == 0 && a.count() == b.count()} " +
      f"cer=${m.avgDistance}%.4f pct_perfect=${m.percentPerfect}%.4f")
    spark.stop()
  }
}
