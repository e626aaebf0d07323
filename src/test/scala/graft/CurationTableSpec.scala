package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.gen.DocGen
import graft.pipeline.Sampling

/** [[RunPipeline]]'s curation table: its order, the resume fingerprints it
  * feeds (the bucket lineage the state rows record and the stage token), the
  * rejection of flags nothing reads, and the frame its fold hands to the
  * checkpointed run. */
class CurationTableSpec extends SparkSpec {

  private val table = RunPipeline.curationTable("spans", "parquet")
  private val required = Map("input" -> "/data/in", "output" -> "/data/out")

  /** Two valid values per flag; every stage's flags at the first value
    * activate it. */
  private val values: Map[String, (String, String)] = Map(
    "sample" -> ("0.5", "0.9"),
    "quality-gate" -> ("0.3", "0.3:0.5"),
    "gopher" -> ("50:2", "40:2"),
    "langid-model" -> ("/m/lp1", "/m/lp2"),
    "langid-keep" -> ("en", "en,de"),
    "quality-model" -> ("/m/qm1", "/m/qm2"),
    "quality-model-min" -> ("1", "3"),
    "lm-model" -> ("/m/lm1", "/m/lm2"),
    "lm-min-logprob" -> ("-5.0", "-4.0"),
    "dsir-model" -> ("/m/dsir1", "/m/dsir2"),
    "dsir-k" -> ("10", "20"),
    "dsir-alpha" -> ("0.7", "0.9"),
    "decontam" -> ("/m/eval", "/m/eval:8"),
    "decontam-format" -> ("orc", "jsonl"),
    "pii-scrub" -> ("true", "false"),
    "bloom-dedup" -> ("/m/bloom1", "/m/bloom2"),
    "dedup" -> ("exact", "near-lsh:0.8"),
    "span-dedup" -> ("8", "6"),
    "media-dedup" -> ("dhash:4", "dhash:6"),
    "source-mix" -> ("0.5:0.5", "0.7:0.5"),
    "mix-source-col" -> ("domain", "site"))

  /** What a run persists of its flags: the bucket lineage its state rows
    * record and its stage token. */
  private def keys(args: Map[String, String]): (String, String) = {
    val f = new RunPipeline.RunFlags(required ++ args)
    (f.bucketLineage, f.stageToken)
  }

  test("the table runs the stages in the documented curation order") {
    assert(table.map(_.name) == Seq("sample", "quality-gate", "gopher", "langid",
      "quality-model", "lm", "dsir", "decontam", "pii-scrub", "bloom-dedup", "dedup",
      "span-dedup", "media-dedup", "source-mix"))
    assert(table.filterNot(_.dropsDocs).map(_.name) ==
      Seq("pii-scrub", "span-dedup", "media-dedup"))
    val flags = table.flatMap(_.flags)
    assert(flags.distinct == flags, "a flag belongs to one stage")
  }

  test("every table flag and source field is in both the lineage and the stage token") {
    assert(values.keySet == table.flatMap(_.flags).toSet, "a value pair per table flag")
    val all = values.map { case (k, (v, _)) => k -> v }
    val base = keys(all)
    for ((flag, (_, other)) <- values) {
      val changed = keys(all + (flag -> other))
      assert(changed._1 != base._1, s"--$flag is not in the lineage")
      assert(changed._2 != base._2, s"--$flag is not in the stage token")
    }
    // each stage alone: its flags still reach the fingerprint
    for (s <- table; flag <- s.flags) {
      val alone = s.flags.map(k => k -> values(k)._1).toMap
      val changed = keys(alone + (flag -> values(flag)._2))
      assert(changed != keys(alone), s"--$flag alone")
    }
    for ((flag, v) <- Seq("input" -> "/data/in2", "clean" -> "/data/truth",
        "spans-col" -> "noisy_spans", "clean-spans-col" -> "truth_spans",
        "input-format" -> "orc")) {
      val changed = keys(all + (flag -> v))
      assert(changed._1 != base._1 && changed._2 != base._2, s"--$flag")
    }
    // flags that shape the correction, not the staged rows: lineage only
    for ((flag, v) <- Seq("vocab" -> "/m/vocab", "corrector" -> "null", "min-freq" -> "3")) {
      val changed = keys(all + (flag -> v))
      assert(changed._1 != base._1 && changed._2 == base._2, s"--$flag")
    }
    // flags a resume may change: neither; the export tail's `_spec` records
    // --shards, and CheckpointedRun stamps --buckets on every state row (its
    // refusal is CheckpointSpec's)
    for ((flag, v) <- Seq("group-size" -> "2", "shards" -> "4", "buckets" -> "16"))
      assert(keys(all + (flag -> v)) == base, s"--$flag")
    def exportSpec(args: Map[String, String]) = new RunPipeline.RunFlags(required ++ args).exportSpec
    assert(exportSpec(all + ("shards" -> "4")) != exportSpec(all))
  }

  test("--decontam-format alone changes the stage token") {
    val a = keys(Map("decontam" -> "/m/eval", "decontam-format" -> "parquet"))
    val b = keys(Map("decontam" -> "/m/eval", "decontam-format" -> "jsonl"))
    assert(a._2 != b._2)
    // the default eval format is the input's
    assert(keys(Map("decontam" -> "/m/eval")) == a)
  }

  test("a flag nothing reads fails the run, after the both-or-neither checks") {
    val base = Files.createTempDirectory("curation_table").toString
    DocGen.docs(spark, 20).toDF()
      .select(col("doc_id"), col("noisy_spans").as("spans")).write.parquet(s"$base/in")
    def run(extra: (String, String)*): String = RunPipeline.run(spark, Map(
      "input" -> s"$base/in", "output" -> s"$base/out", "corrector" -> "null",
      "buckets" -> "2", "group-size" -> "2") ++ extra)
    val typo = intercept[IllegalArgumentException](run("quality_gate" -> "0.3"))
    assert(typo.getMessage.contains("--quality_gate"), typo.getMessage)
    // a modifier without its stage is never read either
    for (modifier <- Seq("decontam-format" -> "jsonl", "dsir-alpha" -> "0.7",
        "mix-source-col" -> "domain", "quality-model-min" -> "2", "bloom-bits" -> "64")) {
      val e = intercept[IllegalArgumentException](run(modifier))
      assert(e.getMessage.contains(s"--${modifier._1}"), e.getMessage)
    }
    val pair = intercept[IllegalArgumentException](run("dsir-k" -> "5", "typo" -> "x"))
    assert(pair.getMessage.contains("must be provided together"), pair.getMessage)
    assert(!new java.io.File(s"$base/out").exists, "a rejected run stages nothing")
    assert(run().contains(""""docs_in":20"""))
  }

  test("the command line rejects a dangling flag or a key without --") {
    assert(RunPipeline.parseArgs(Array("--input", "/in", "--output", "/out")) ==
      Map("input" -> "/in", "output" -> "/out"))
    val dangling = intercept[IllegalArgumentException](
      RunPipeline.parseArgs(Array("--input", "/in", "--pii-scrub")))
    assert(dangling.getMessage.contains("--pii-scrub"), dangling.getMessage)
    val bare = intercept[IllegalArgumentException](
      RunPipeline.parseArgs(Array("--input", "/in", "dedup", "exact")))
    assert(bare.getMessage.contains("'dedup'"), bare.getMessage)
  }

  test("curated_crawl flags: the fold's frame has the explicit chain's plan") {
    val base = Files.createTempDirectory("curation_table_plan").toString
    DocGen.docs(spark, 60).toDF()
      .select(col("doc_id"), col("noisy_spans").as("spans")).write.parquet(s"$base/in")
    val flags = new RunPipeline.RunFlags(Map("input" -> s"$base/in", "output" -> s"$base/out",
      "sample" -> "0.95", "quality-gate" -> "0.3", "dedup" -> "exact", "span-dedup" -> "8"))
    def docs0 = graft.sources.CorpusIO.readDocs(spark, s"$base/in", "parquet", "spans")
    val folded = flags.curate(docs0)
    // the chain as RunPipeline spelled it out before the table
    val sampled = Sampling.deterministicSample(docs0, "doc_id", 0.95)
    val gated = RunPipeline.gateDocs(sampled, "spans", "0.3")
    val deduped = RunPipeline.dedupDocs(gated, "spans", "exact")
    val chain = Seq(sampled, gated, deduped, RunPipeline.spanDedupDocs(deduped, "spans", "8"))
    // canonicalization leaves an existence join's flag attribute with its own
    // id, so ids are renumbered in order of first appearance
    def plan(df: org.apache.spark.sql.DataFrame): String = {
      val ids = scala.collection.mutable.Map.empty[String, Int]
      "#\\d+".r.replaceAllIn(df.queryExecution.optimizedPlan.canonicalized.toString,
        m => "#" + ids.getOrElseUpdate(m.matched, ids.size))
    }
    assert(folded.size == 5)
    for ((got, want) <- folded.tail.zip(chain)) assert(plan(got) == plan(want))
  }
}
