package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.gen.DocGen

class RunPipelineSpec extends SparkSpec {
  import spark.implicits._

  test("spark-submit entry point: corrects an input table, resumable, CER beats null floor") {
    val base = Files.createTempDirectory("runpipeline").toString
    val docs = DocGen.docs(spark, 200).toDF()
    // production-shaped input: the NOISY spans are the table's spans column;
    // the clean table is the ground truth
    docs.select(col("doc_id"), col("noisy_spans").as("spans")).write.parquet(s"$base/in")
    docs.select(col("doc_id"), col("spans")).write.parquet(s"$base/truth")

    val out = RunPipeline.run(spark, Map(
      "input" -> s"$base/in", "output" -> s"$base/out", "clean" -> s"$base/truth",
      "buckets" -> "8", "group-size" -> "3", "min-freq" -> "2"))
    assert(out.contains(""""run_id":"run1""""))
    val cer = """"cer":([0-9.]+)""".r.findFirstMatchIn(out).get.group(1).toDouble
    assert(cer < 0.116, s"corrector should beat the ~0.116 null floor: $out")

    val written = spark.read.parquet(s"$base/out")
    assert(written.select("doc_id").distinct().count() == 200)

    // re-submitting the same command is a no-op resume: all buckets done,
    // and the input-count fields are null (nothing staged), not a bogus 0
    val again = RunPipeline.run(spark, Map(
      "input" -> s"$base/in", "output" -> s"$base/out", "clean" -> s"$base/truth",
      "buckets" -> "8", "group-size" -> "3", "min-freq" -> "2"))
    assert(again.contains(""""spans_this_invocation":0"""))
    assert(again.contains(""""docs_in":null"""), again)
    assert(again.contains(""""docs_in_pre":null"""), again)
    assert(again.contains(""""dedup_removed":null"""), again)
  }

  test("non-default --spans-col works without a clean table") {
    val base = Files.createTempDirectory("runpipeline2").toString
    DocGen.docs(spark, 40).toDF()
      .select(col("doc_id"), col("noisy_spans")).write.parquet(s"$base/in")
    val out = RunPipeline.run(spark, Map(
      "input" -> s"$base/in", "output" -> s"$base/out",
      "spans-col" -> "noisy_spans", "buckets" -> "4", "group-size" -> "2"))
    assert(out.contains(""""docs_in":40"""))
    assert(spark.read.parquet(s"$base/out").select("doc_id").distinct().count() == 40)
    // --clean explicitly set to the SAME path must behave identically to
    // omitting it (clean-spans-col keys off clean == input, not flag presence)
    val out2 = RunPipeline.run(spark, Map(
      "input" -> s"$base/in", "output" -> s"$base/out2", "clean" -> s"$base/in",
      "spans-col" -> "noisy_spans", "buckets" -> "4", "group-size" -> "2"))
    assert(out2.contains(""""docs_in":40"""))
  }

  test("metrics line stays valid JSON for hostile run ids (quotes/backslashes escaped)") {
    val base = Files.createTempDirectory("runpipeline3").toString
    DocGen.docs(spark, 10).toDF()
      .select(col("doc_id"), col("noisy_spans").as("spans")).write.parquet(s"$base/in")
    val out = RunPipeline.run(spark, Map(
      "input" -> s"$base/in", "output" -> s"$base/out", "corrector" -> "null",
      "run-id" -> "we\"ird\\id", "buckets" -> "2", "group-size" -> "2"))
    assert(out.contains(""""run_id":"we\"ird\\id""""), out)
    // the whole line must parse as JSON (jackson ships with Spark)
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(out)
    assert(node.get("run_id").asText() == "we\"ird\\id")
    assert(node.get("docs_in").asLong() == 10L)
  }

  test("an out-of-range run-shape flag fails before any Spark work, naming the flag") {
    val base = Files.createTempDirectory("runpipeline-shape").toString
    val docs = DocGen.docs(spark, 10).toDF().select(col("doc_id"), col("noisy_spans").as("spans"))
    docs.write.parquet(s"$base/in")
    val ok = Map("input" -> s"$base/in", "output" -> s"$base/out", "corrector" -> "null",
      "buckets" -> "2", "group-size" -> "2", "shards" -> "2", "pack" -> "64")
    for ((flag, v) <- Seq("buckets" -> "0", "buckets" -> "-2", "group-size" -> "0",
        "shards" -> "0", "pack" -> "0")) {
      val e = intercept[IllegalArgumentException](RunPipeline.run(spark, ok + (flag -> v)))
      assert(e.getMessage.contains(s"--$flag"), e.getMessage)
      assert(new java.io.File(base).list().toSeq == Seq("in"), s"--$flag $v left an output or a stage")
    }
    for ((nBuckets, groupSize, name) <- Seq((0, 1, "nBuckets"), (1, 0, "groupSize"))) {
      val e = intercept[IllegalArgumentException](graft.pipeline.CheckpointedRun.run(spark, docs, docs,
        graft.correct.NullCorrector, s"$base/out", s"$base/state", "shape", spansCol = "spans",
        nBuckets = nBuckets, groupSize = groupSize))
      assert(e.getMessage.contains(name), e.getMessage)
    }
    assert(new java.io.File(base).list().toSeq == Seq("in"))
  }

  test("--stage-telemetry: per-stage null-CER rows match directly-computed populations") {
    import graft.model.Span
    val base = Files.createTempDirectory("runpipeline-tel").toString
    def span(t: String) = Seq(Span(Span.KindText, t, null, 1))
    val cleanTexts = (1 to 40).map(i => i -> s"clean document number $i with shared words")
    def noise(t: String) = t.replaceFirst("e", "3")
    // 40 noisy docs + 10 exact copies under larger ids (dedup fodder)
    val noisy = cleanTexts.map { case (i, t) => (f"d$i%03d", span(noise(t))) } ++
      (1 to 10).map(i => (f"z$i%03d", span(noise(cleanTexts(i - 1)._2))))
    val clean = cleanTexts.map { case (i, t) => (f"d$i%03d", span(t)) } ++
      (1 to 10).map(i => (f"z$i%03d", span(cleanTexts(i - 1)._2)))
    noisy.toDF("doc_id", "spans").write.parquet(s"$base/in")
    clean.toDF("doc_id", "spans").write.parquet(s"$base/truth")

    val out = RunPipeline.run(spark, Map(
      "input" -> s"$base/in", "output" -> s"$base/out", "clean" -> s"$base/truth",
      "corrector" -> "null", "buckets" -> "2", "group-size" -> "2",
      "sample" -> "0.6", "dedup" -> "exact", "stage-telemetry" -> "true"))
    assert(out.contains(""""stage_cer":["""), out)

    val tel = spark.read.parquet(s"$base/out/_telemetry/stage_null_cer")
      .orderBy("stage_no").collect()
    assert(tel.map(_.getString(1)).toSeq == Seq("input", "sample", "dedup"))

    // expected populations, computed directly from the fixture
    val noisyMap = noisy.toMap
    val cleanMap = clean.toMap
    val sampled = graft.pipeline.Sampling.deterministicSample(
        noisy.toDF("doc_id", "spans"), "doc_id", 0.6)
      .select("doc_id").as[String].collect().toSet
    assert(sampled.size < 50 && sampled.nonEmpty)
    val deduped = sampled.groupBy(id => noisyMap(id).head.text).map(_._2.min).toSet
    def expect(ids: Iterable[String]): (Long, Double) = {
      val ds = ids.toSeq.map(id => graft.text.DamerauLevenshtein.normalized(
        noisyMap(id).head.text, cleanMap(id).head.text))
      (ids.size.toLong, ds.sum / ds.size)
    }
    val expected = Seq(expect(noisy.map(_._1)), expect(sampled), expect(deduped))
    tel.zip(expected).foreach { case (row, (n, cer)) =>
      assert(row.getLong(2) == n, s"stage ${row.getString(1)}: docs ${row.getLong(2)} != $n")
      assert(row.getLong(3) == n, s"stage ${row.getString(1)}: one span per doc")
      assert(math.abs(row.getDouble(4) - cer) < 1e-9,
        s"stage ${row.getString(1)}: null_cer ${row.getDouble(4)} != $cer")
      assert(row.getDouble(5) == 0.0, "every noisy span differs from clean")
    }
    // the artifact's JSON array carries the same stages in order
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(out)
    val names = (0 until node.get("stage_cer").size())
      .map(i => node.get("stage_cer").get(i).get("stage").asText())
    assert(names == Seq("input", "sample", "dedup"))
  }

  test("--dedup exact collapses duplicate docs before correction") {
    val base = Files.createTempDirectory("runpipeline4").toString
    val docs = DocGen.docs(spark, 30).toDF()
      .select(col("doc_id"), col("noisy_spans").as("spans"))
    // duplicate every doc under a LARGER id: the min-id original must survive
    val dup = docs.withColumn("doc_id", concat(lit("z"), col("doc_id")))
    docs.union(dup).write.parquet(s"$base/in")
    val out = RunPipeline.run(spark, Map(
      "input" -> s"$base/in", "output" -> s"$base/out", "corrector" -> "null",
      "dedup" -> "exact", "buckets" -> "4", "group-size" -> "2"))
    assert(out.contains(""""docs_in":30"""), out)
    val written = spark.read.parquet(s"$base/out")
    assert(written.select("doc_id").distinct().count() == 30)
    assert(written.filter(col("doc_id").startsWith("z")).count() == 0,
      "a duplicate (non-min id) doc survived dedup")
    // without the flag all 60 flow through
    val out2 = RunPipeline.run(spark, Map(
      "input" -> s"$base/in", "output" -> s"$base/out2", "corrector" -> "null",
      "buckets" -> "4", "group-size" -> "2"))
    assert(out2.contains(""""docs_in":60"""), out2)
  }

  test("--dedup exact passes media-only docs through (empty text is not a duplicate key)") {
    val base = Files.createTempDirectory("runpipeline5").toString
    val textDocs = DocGen.docs(spark, 10).toDF()
      .select(col("doc_id"), col("noisy_spans").as("spans"))
    // three media-only docs with DIFFERENT media refs: not duplicates of
    // each other even though their text content is identically empty
    val mediaOnly = spark.range(3).select(
      concat(lit("m"), col("id")).as("doc_id"),
      array(struct(lit("image").as("kind"), lit("").as("text"),
        concat(lit("media://"), col("id")).as("media_ref"),
        lit(0).cast("int").as("offset"))).as("spans"))
    textDocs.unionByName(mediaOnly).write.parquet(s"$base/in")
    val out = RunPipeline.run(spark, Map(
      "input" -> s"$base/in", "output" -> s"$base/out", "corrector" -> "null",
      "dedup" -> "exact", "buckets" -> "4", "group-size" -> "2"))
    assert(out.contains(""""docs_in":13"""), out)
    val written = spark.read.parquet(s"$base/out")
    assert(written.filter(col("doc_id").startsWith("m")).select("doc_id").distinct().count() == 3,
      "media-only docs were wrongly collapsed by text dedup")
  }

  /** One-text-span docs with 60 per-doc-unique tokens (`w<j>x<id>`), plus a
    * variant under a LARGER id with `nExtra` appended tokens: appending only
    * ADDS word shingles, so shingle-Jaccard(base, +k tokens) = 58/(58+k) —
    * a controlled near-dup similarity dial. */
  private def longDocs(n: Int, tag: String, nExtra: Int) = {
    val toks = (0 until 60).map(j => concat(lit(s"w${j}x"), col("id")))
    val extra = (0 until nExtra).map(j => lit(s"tail$j"))
    spark.range(n).select(
      concat(lit(tag), col("id")).as("doc_id"),
      array(struct(lit("text").as("kind"),
        concat_ws(" ", (toks ++ extra): _*).as("text"),
        lit("").as("media_ref"), lit(0).cast("int").as("offset"))).as("spans"))
  }

  test("--dedup near-lsh collapses NEAR-duplicate docs (not exact copies) end-to-end") {
    val base = Files.createTempDirectory("runpipeline6").toString
    // near-dup under a LARGER id: 3 extra tokens (J = 58/61 ≈ 0.95) — NOT an
    // exact duplicate, so --dedup exact keeps all 40
    longDocs(20, "", 0).union(longDocs(20, "z", 3)).write.parquet(s"$base/in")
    val out = RunPipeline.run(spark, Map(
      "input" -> s"$base/in", "output" -> s"$base/out", "corrector" -> "null",
      "dedup" -> "near-lsh:0.9", "buckets" -> "4", "group-size" -> "2"))
    assert(out.contains(""""docs_in":20"""), out)
    assert(out.contains(""""docs_in_pre":40"""), out)
    assert(out.contains(""""dedup_removed":20"""), out)
    val written = spark.read.parquet(s"$base/out")
    assert(written.select("doc_id").distinct().count() == 20)
    assert(written.filter(col("doc_id").startsWith("z")).count() == 0,
      "a near-duplicate (non-min id) doc survived --dedup near-lsh")
    // exact mode on the same input keeps all 40 (they are not exact dups)
    val out2 = RunPipeline.run(spark, Map(
      "input" -> s"$base/in", "output" -> s"$base/out2", "corrector" -> "null",
      "dedup" -> "exact", "buckets" -> "4", "group-size" -> "2"))
    assert(out2.contains(""""docs_in":40"""), out2)
    assert(out2.contains(""""dedup_removed":0"""), out2)
  }

  test("--dedup near-cc collapses a near-dup CHAIN to one survivor") {
    val base = Files.createTempDirectory("runpipeline7").toString
    // chain per doc at threshold 0.93: base~y (58/61 ≈ 0.951 ✓), y~z (61/64 ≈
    // 0.953 ✓), but base~z (58/64 ≈ 0.906 ✗) — only TRANSITIVE clustering
    // collapses all three to the base doc
    longDocs(8, "", 0).union(longDocs(8, "y", 3)).union(longDocs(8, "z", 6))
      .write.parquet(s"$base/in")
    val out = RunPipeline.run(spark, Map(
      "input" -> s"$base/in", "output" -> s"$base/out", "corrector" -> "null",
      "dedup" -> "near-cc:0.93", "buckets" -> "4", "group-size" -> "2"))
    assert(out.contains(""""docs_in":8"""), out)
    assert(out.contains(""""dedup_removed":16"""), out)
    val written = spark.read.parquet(s"$base/out")
    assert(written.select("doc_id").distinct().count() == 8)
    assert(written.filter(col("doc_id").startsWith("y") || col("doc_id").startsWith("z")).count() == 0)
  }

  test("null corrector passes spans through unchanged") {
    val base = Files.createTempDirectory("runpipeline0").toString
    val docs = DocGen.docs(spark, 50).toDF()
    docs.select(col("doc_id"), col("noisy_spans").as("spans")).write.parquet(s"$base/in")
    RunPipeline.run(spark, Map(
      "input" -> s"$base/in", "output" -> s"$base/out",
      "corrector" -> "null", "buckets" -> "4", "group-size" -> "2"))
    val in = spark.read.parquet(s"$base/in")
    val out = spark.read.parquet(s"$base/out").drop("bucket")
    assert(graft.pipeline.CorrectionPipeline.spanSequenceViolations(out, in).count() == 0)
  }

  test("--sample and --quality-gate curate before correction; resume honors them") {
    val base = Files.createTempDirectory("runpipeline9").toString
    // 30 healthy docs + 30 spam docs ("spam spam spam ..." -> dup_token_ratio
    // ~1) + 2 media-only docs (must pass any gate untouched)
    val healthy = longDocs(30, "", 0)
    val spam = spark.range(30).select(
      concat(lit("spam"), col("id")).as("doc_id"),
      array(struct(lit("text").as("kind"),
        concat_ws(" ", (0 until 40).map(_ => lit("lorem")): _*).as("text"),
        lit("").as("media_ref"), lit(0).cast("int").as("offset"))).as("spans"))
    val media = spark.range(2).select(
      concat(lit("media"), col("id")).as("doc_id"),
      array(struct(lit("media").as("kind"), lit("").as("text"),
        lit("m0").as("media_ref"), lit(0).cast("int").as("offset"))).as("spans"))
    healthy.union(spam).union(media).write.parquet(s"$base/in")

    // gate only (quality floor 0: isolate the dup-token-ratio rule)
    val out = RunPipeline.run(spark, Map(
      "input" -> s"$base/in", "output" -> s"$base/out", "corrector" -> "null",
      "quality-gate" -> "0.0:0.5", "buckets" -> "4", "group-size" -> "2"))
    assert(out.contains(""""docs_in":32"""), out)         // 30 healthy + 2 media
    assert(out.contains(""""docs_in_pre":62"""), out)
    assert(out.contains(""""docs_removed":30"""), out)
    assert(out.contains(""""dedup_removed":null"""), out) // not attributable to dedup
    val written = spark.read.parquet(s"$base/out")
    assert(written.filter(col("doc_id").startsWith("spam")).count() == 0)
    assert(written.filter(col("doc_id").startsWith("media")).count() == 2,
      "media-only docs must pass the gate")

    // sample composes with the gate; membership is the deterministic
    // Sampling gate (row-pure), so the expected survivor set is computable
    val frac = 0.5
    val expectSampled = spark.read.parquet(s"$base/in")
      .where(graft.pipeline.Sampling.gate16(col("doc_id")) < math.round(frac * 65536.0))
    val expectedIds = expectSampled.select("doc_id").collect().map(_.getString(0))
      .filterNot(_.startsWith("spam")).toSet // gate then removes sampled spam
    val out2 = RunPipeline.run(spark, Map(
      "input" -> s"$base/in", "output" -> s"$base/out2", "corrector" -> "null",
      "sample" -> frac.toString, "quality-gate" -> "0.0:0.5",
      "buckets" -> "4", "group-size" -> "2"))
    val written2 = spark.read.parquet(s"$base/out2")
    assert(written2.select("doc_id").distinct().collect().map(_.getString(0)).toSet
      == expectedIds, out2)

    // no-op resume of the curated run: same command, null counts
    val again = RunPipeline.run(spark, Map(
      "input" -> s"$base/in", "output" -> s"$base/out2", "corrector" -> "null",
      "sample" -> frac.toString, "quality-gate" -> "0.0:0.5",
      "buckets" -> "4", "group-size" -> "2"))
    assert(again.contains(""""docs_in":null"""), again)
    assert(again.contains(""""docs_removed":null"""), again)
  }

  test("--gopher drops bullet-heavy and too-short docs; media-only docs pass") {
    val base = Files.createTempDirectory("runpipeline17").toString
    def oneTextDoc(tag: String, n: Int, text: org.apache.spark.sql.Column) = spark.range(n).select(
      concat(lit(tag), col("id")).as("doc_id"),
      array(struct(lit("text").as("kind"), text,
        lit("").as("media_ref"), lit(0).cast("int").as("offset"))).as("spans"))
    // healthy: 40 plain words + the two stopwords the 2-hit floor needs
    val good = oneTextDoc("good", 10, concat_ws(" ",
      (0 until 40).map(j => lit(s"word$j")) ++ Seq(lit("the"), lit("with")): _*).as("text"))
    // every line a bullet → bullet_line_frac 1.0 > 0.9
    val bullets = oneTextDoc("bul", 10, concat_ws("\n",
      (0 until 12).map(j => lit(s"- item$j the with")): _*).as("text"))
    // 3 words < the 10-word floor
    val short = oneTextDoc("short", 10, lit("the with end").as("text"))
    val media = spark.range(2).select(
      concat(lit("media"), col("id")).as("doc_id"),
      array(struct(lit("media").as("kind"), lit("").as("text"),
        lit("m0").as("media_ref"), lit(0).cast("int").as("offset"))).as("spans"))
    good.union(bullets).union(short).union(media).write.parquet(s"$base/in")

    val out = RunPipeline.run(spark, Map(
      "input" -> s"$base/in", "output" -> s"$base/out", "corrector" -> "null",
      "gopher" -> "10:2", "buckets" -> "4", "group-size" -> "2"))
    assert(out.contains(""""docs_in":12"""), out) // 10 good + 2 media
    // the gopher gate is real curation: the pre-curation count and removal
    // delta must be reported (regression — the flag was once missing from
    // the curation predicates, so docs_removed read 0 with --gopher alone)
    assert(out.contains(""""docs_in_pre":32"""), out)
    assert(out.contains(""""docs_removed":20"""), out)
    val written = spark.read.parquet(s"$base/out")
    assert(written.filter(col("doc_id").startsWith("bul")).count() == 0)
    assert(written.filter(col("doc_id").startsWith("short")).count() == 0)
    assert(written.filter(col("doc_id").startsWith("good")).count() == 10)
    assert(written.filter(col("doc_id").startsWith("media")).count() == 2,
      "media-only docs must pass the gopher gate")
  }

  test("--lm-model/--lm-min-logprob drops out-of-distribution docs") {
    import graft.textanalysis.LmScore
    import spark.implicits._
    val base = Files.createTempDirectory("runpipeline10").toString
    val rng = new graft.gen.DetRng(23L)
    val healthyTexts = (0 until 20).map(i => (f"doc$i%02d", DocGen.sentence(rng, 10)))
    val gibberish = (0 until 8).map(i => (f"gib$i%02d",
      (0 until 10).map(j => s"zx${i}q${j}v").mkString(" ")))
    // reference model: trained on the healthy distribution only
    LmScore.saveModel(healthyTexts.toDF("doc_id", "text"), s"$base/lm")

    def spanDocs(rows: Seq[(String, String)]) = rows.toDF("doc_id", "__t").select(
      col("doc_id"), array(struct(lit("text").as("kind"), col("__t").as("text"),
        lit("").as("media_ref"), lit(0).cast("int").as("offset"))).as("spans"))
    spanDocs(healthyTexts ++ gibberish).write.parquet(s"$base/in")

    // pick the threshold between the two score populations (both computed
    // through the same public scorer, so the spec pins filter semantics,
    // not a magic constant)
    val (uni, bi) = LmScore.loadModel(spark, s"$base/lm")
    val scores = LmScore.scoreWith((healthyTexts ++ gibberish).toDF("doc_id", "text"), uni, bi)
      .as[(String, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    val minHealthy = healthyTexts.map(t => scores(t._1)).min
    val maxGib = gibberish.map(t => scores(t._1)).max
    assert(maxGib < minHealthy, s"populations must separate: $maxGib vs $minHealthy")
    val cut = (minHealthy + maxGib) / 2

    val out = RunPipeline.run(spark, Map(
      "input" -> s"$base/in", "output" -> s"$base/out", "corrector" -> "null",
      "lm-model" -> s"$base/lm", "lm-min-logprob" -> cut.toString,
      "buckets" -> "4", "group-size" -> "2"))
    assert(out.contains(""""docs_in":20"""), out)
    assert(out.contains(""""docs_removed":8"""), out)
    assert(out.contains(""""dedup_removed":null"""), out)
    val written = spark.read.parquet(s"$base/out")
    assert(written.filter(col("doc_id").startsWith("gib")).count() == 0)
    assert(written.select("doc_id").distinct().count() == 20)

    // ORC input end-to-end via --input-format (same docs, same contract)
    spanDocs(healthyTexts).write.mode("overwrite").orc(s"$base/in_orc")
    val orcOut = RunPipeline.run(spark, Map(
      "input" -> s"$base/in_orc", "output" -> s"$base/out_orc", "corrector" -> "null",
      "input-format" -> "orc", "buckets" -> "4", "group-size" -> "2"))
    assert(orcOut.contains(""""docs_in":20"""), orcOut)

    // JSONL input end-to-end via --input-format (canonical record, explicit
    // schema on scan — the LLM-corpus interchange boundary)
    graft.sources.CorpusIO.writeDocs(spanDocs(healthyTexts), s"$base/in_jsonl", "jsonl")
    val jsonlOut = RunPipeline.run(spark, Map(
      "input" -> s"$base/in_jsonl", "output" -> s"$base/out_jsonl", "corrector" -> "null",
      "input-format" -> "jsonl", "buckets" -> "4", "group-size" -> "2"))
    assert(jsonlOut.contains(""""docs_in":20"""), jsonlOut)

    // --decontam: docs sharing an 8-gram with the eval table are dropped
    // (the fixture sentences are 10 tokens, so the default 13-gram window
    // would never fire — the :n override is part of what's under test)
    spanDocs(healthyTexts).write.mode("overwrite").parquet(s"$base/in_all")
    // eval = one leaked training doc verbatim
    spanDocs(Seq(("eval00", healthyTexts.head._2))).write.parquet(s"$base/eval")
    val dOut = RunPipeline.run(spark, Map(
      "input" -> s"$base/in_all", "output" -> s"$base/out_dc", "corrector" -> "null",
      "decontam" -> s"$base/eval:8", "buckets" -> "4", "group-size" -> "2"))
    assert(dOut.contains(""""docs_in":19"""), dOut)  // the leaked doc dropped
    val dcWritten = spark.read.parquet(s"$base/out_dc")
    assert(dcWritten.filter(col("doc_id") === healthyTexts.head._1).count() == 0)

    // URI-shaped eval paths survive the :n parsing (colon inside the path is
    // NOT an n override — only a numeric suffix is); n stays 13, which never
    // fires on these 10-token docs, so all 20 pass through
    val colonDir = s"$base/ev:al"
    spanDocs(Seq(("eval01", healthyTexts.head._2))).write.parquet(colonDir)
    val uOut = RunPipeline.run(spark, Map(
      "input" -> s"$base/in_all", "output" -> s"$base/out_uri", "corrector" -> "null",
      "decontam" -> colonDir, "buckets" -> "4", "group-size" -> "2"))
    assert(uOut.contains(""""docs_in":20"""), uOut)

    // --pii-scrub: text spans redacted, media spans untouched
    val piiDocs = Seq(
      ("p0", "mail me at alice@example.org or 10.0.0.7"),
      ("p1", "clean text with no addresses at all")).toDF("doc_id", "__t").select(
      col("doc_id"), array(
        struct(lit("text").as("kind"), col("__t").as("text"),
          lit("").as("media_ref"), lit(0).cast("int").as("offset")),
        struct(lit("media").as("kind"), lit("alice@example.org").as("text"),
          lit("m9").as("media_ref"), lit(1).cast("int").as("offset"))).as("spans"))
    piiDocs.write.parquet(s"$base/in_pii")
    RunPipeline.run(spark, Map(
      "input" -> s"$base/in_pii", "output" -> s"$base/out_pii", "corrector" -> "null",
      "pii-scrub" -> "true", "buckets" -> "2", "group-size" -> "2"))
    val piiOut = spark.read.parquet(s"$base/out_pii")
      .select(col("doc_id"), explode(col("spans")).as("s"))
      .select(col("doc_id"), col("s.kind"), col("s.text")).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap
    assert(piiOut(("p0", "text")) == "mail me at [EMAIL] or [IP]")
    assert(piiOut(("p1", "text")) == "clean text with no addresses at all")
    assert(piiOut(("p0", "media")) == "alice@example.org",
      "media spans must pass the scrub untouched")

    // with a SEPARATE --clean table, the truth side is scrubbed too: the
    // null corrector then scores CER 0 (placeholder vs placeholder), not
    // per-character errors against raw addresses
    piiDocs.write.parquet(s"$base/truth_pii")
    val piiCer = RunPipeline.run(spark, Map(
      "input" -> s"$base/in_pii", "output" -> s"$base/out_pii2", "corrector" -> "null",
      "clean" -> s"$base/truth_pii", "pii-scrub" -> "true",
      "buckets" -> "2", "group-size" -> "2"))
    assert(piiCer.contains(""""cer":0.0000"""), piiCer)

    // --lm-model alone must FAIL LOUDLY, not silently skip the filter
    val e = intercept[IllegalArgumentException] {
      RunPipeline.run(spark, Map(
        "input" -> s"$base/in", "output" -> s"$base/out3", "corrector" -> "null",
        "lm-model" -> s"$base/lm", "buckets" -> "4", "group-size" -> "2"))
    }
    assert(e.getMessage.contains("provided together"), e.getMessage)
  }

  test("media dedup rewrites near-dup media_refs in place, spans otherwise untouched") {
    import graft.model.{Doc, Span}
    val docs = Seq(
      Doc("d1", Seq(Span("text", "hello world", null, 0),
        Span("media", null, "img_dup", 1), Span("text", "tail", null, 2))),
      Doc("d2", Seq(Span("media", null, "img_canon", 0),
        Span("media", null, "img_other", 1))),
      Doc("d3", Seq(Span("text", "no media here", null, 0)))).toDF()
    val mapping = Seq(("img_dup", "img_canon")).toDF("media_ref", "canon_ref")
    val out = RunPipeline.rewriteMediaRefs(docs, "spans", mapping)
      .as[Doc].collect().map(d => d.doc_id -> d.spans).toMap
    assert(out("d1") == Seq(Span("text", "hello world", null, 0),
      Span("media", null, "img_canon", 1), Span("text", "tail", null, 2)))
    assert(out("d2") == Seq(Span("media", null, "img_canon", 0),
      Span("media", null, "img_other", 1)), "unmapped refs pass through")
    assert(out("d3") == Seq(Span("text", "no media here", null, 0)))

    // end-to-end: the flag runs green on the synthetic corpus (whose
    // deterministic media payloads are ref-derived, so distinct refs never
    // collide — the rewrite is the identity there) and lands in the lineage
    val base = java.nio.file.Files.createTempDirectory("runpipeline_media").toString
    graft.gen.DocGen.docs(spark, 40).toDF().write.parquet(s"$base/in")
    val json = RunPipeline.run(spark, Map(
      "input" -> s"$base/in", "output" -> s"$base/out", "corrector" -> "null",
      "media-dedup" -> "dhash:4", "buckets" -> "2", "group-size" -> "2"))
    assert(json.contains(""""cer":0.0000"""), json)
    val inSpans = spark.read.parquet(s"$base/in").as[Doc].collect()
      .map(d => d.doc_id -> d.spans).toMap
    val outSpans = spark.read.parquet(s"$base/out").as[Doc].collect()
      .map(d => d.doc_id -> d.spans).toMap
    assert(outSpans == inSpans, "identity rewrite on the collision-free synth corpus")
    // all three modalities at once: still the identity on the synthetic
    // corpus (audio envelopes and video cell grids are independent per ref)
    val json3 = RunPipeline.run(spark, Map(
      "input" -> s"$base/in", "output" -> s"$base/out_all", "corrector" -> "null",
      "media-dedup" -> "dhash:4+ahash:8+vhash:6", "buckets" -> "2", "group-size" -> "2"))
    assert(json3.contains(""""cer":0.0000"""), json3)
    val outAll = spark.read.parquet(s"$base/out_all").as[Doc].collect()
      .map(d => d.doc_id -> d.spans).toMap
    assert(outAll == inSpans, "identity rewrite across modalities on the synth corpus")
    intercept[IllegalArgumentException] {
      RunPipeline.run(spark, Map(
        "input" -> s"$base/in", "output" -> s"$base/out2", "corrector" -> "null",
        "media-dedup" -> "phash", "buckets" -> "2", "group-size" -> "2"))
    }
  }

  test("span dedup cuts repeated text spans, keeps first occurrence and media spans") {
    import graft.model.{Doc, Span}
    val boiler = "subscribe to our newsletter for updates"
    val docs = Seq(
      Doc("d1", Seq(Span("text", "unique article body one", null, 0),
        Span("text", boiler, null, 1))),
      Doc("d2", Seq(Span("text", boiler, null, 0),
        Span("media", null, "img_1", 1),
        Span("text", "another unique body", null, 2))),
      Doc("d3", Seq(Span("text", "ok", null, 0), // 1 token: immune
        Span("text", "ok", null, 1))))
      .toDF()
    val base = java.nio.file.Files.createTempDirectory("runpipeline_span").toString
    docs.write.parquet(s"$base/in")
    val json = RunPipeline.run(spark, Map(
      "input" -> s"$base/in", "output" -> s"$base/out", "corrector" -> "null",
      "span-dedup" -> "3", "buckets" -> "2", "group-size" -> "2"))
    assert(json.contains("span-dedup=3") || json.nonEmpty, json)
    val out = spark.read.parquet(s"$base/out").as[Doc].collect()
      .map(d => d.doc_id -> d.spans).toMap
    // the boiler span repeats: winner is (d1, 1) < (d2, 0); d2's copy is cut
    assert(out("d1") == Seq(Span("text", "unique article body one", null, 0),
      Span("text", boiler, null, 1)), out("d1").toString)
    assert(out("d2") == Seq(Span("media", null, "img_1", 1),
      Span("text", "another unique body", null, 2)),
      "losing span cut, media span and offsets untouched: " + out("d2"))
    assert(out("d3") == Seq(Span("text", "ok", null, 0), Span("text", "ok", null, 1)),
      "sub-minTokens spans are immune: " + out("d3"))
  }

  test("--quality-model drops low-scoring text docs, media-only docs pass") {
    import graft.textanalysis.QualityClassifier
    val base = Files.createTempDirectory("runpipeline_qm").toString
    val rng = new graft.gen.DetRng(41L)
    val goodTexts = (0 until 20).map(i => (f"doc$i%02d", DocGen.sentence(rng, 12)))
    val spamTexts = (0 until 8).map(i => (f"spam$i%02d",
      (0 until 12).map(j => s"wq${i}xz${j}k").mkString(" ")))
    // train on a DISJOINT labeled slice drawn from the same two distributions
    // (the production shape: the classifier generalizes via shared vocabulary,
    // not doc identity)
    val labeled = ((0 until 20).map(i => (f"pos$i%02d", DocGen.sentence(rng, 12), 1)) ++
      (0 until 20).map(i => (f"neg$i%02d",
        (0 until 12).map(j => s"wq${i % 8}xz${j}k").mkString(" "), 0)))
      .toDF("doc_id", "text", "label")
    val dim = 4096
    val model = QualityClassifier.countDiffModel(labeled, dim)
    QualityClassifier.saveCountDiffModel(model, dim, s"$base/qm")

    // pick the threshold between the two score populations through the same
    // public scorer (pins filter semantics, not a magic constant — hashed
    // features at any dim carry collision noise around 0)
    val scores = QualityClassifier.countDiffScores(
        (goodTexts ++ spamTexts).toDF("doc_id", "text"), model, dim)
      .select("doc_id", "score_raw").as[(String, Long)].collect().toMap
    val minGood = goodTexts.map(t => scores(t._1)).min
    val maxSpam = spamTexts.map(t => scores(t._1)).max
    assert(maxSpam < minGood, s"populations must separate: $maxSpam vs $minGood")
    val cut = (minGood + maxSpam) / 2

    def spanDocs(rows: Seq[(String, String)]) = rows.toDF("doc_id", "__t").select(
      col("doc_id"), array(struct(lit("text").as("kind"), col("__t").as("text"),
        lit("").as("media_ref"), lit(0).cast("int").as("offset"))).as("spans"))
    val mediaOnly = Seq(("media00",
      Seq(graft.model.Span("media", null, "media://77", 0)))).toDF("doc_id", "spans")
    spanDocs(goodTexts ++ spamTexts).unionByName(mediaOnly).write.parquet(s"$base/in")

    val out = RunPipeline.run(spark, Map(
      "input" -> s"$base/in", "output" -> s"$base/out", "corrector" -> "null",
      "quality-model" -> s"$base/qm", "quality-model-min" -> cut.toString,
      "buckets" -> "4", "group-size" -> "2"))
    assert(out.contains(""""docs_in":21"""), out)
    assert(out.contains(""""docs_removed":8"""), out)
    val written = spark.read.parquet(s"$base/out")
    assert(written.filter(col("doc_id").startsWith("spam")).count() == 0)
    assert(written.filter(col("doc_id") === "media00").count() == 1,
      "media-only docs pass the model gate")
    assert(written.select("doc_id").distinct().count() == 21)

    // a threshold above every achievable score drops ALL text docs
    val strict = RunPipeline.run(spark, Map(
      "input" -> s"$base/in", "output" -> s"$base/out_strict", "corrector" -> "null",
      "quality-model" -> s"$base/qm", "quality-model-min" -> "1000000000",
      "buckets" -> "4", "group-size" -> "2"))
    assert(strict.contains(""""docs_in":1"""), strict)
  }

  test("--dsir-model/--dsir-k resamples the text-doc budget toward the target; media passes") {
    import graft.textanalysis.Dsir
    val base = Files.createTempDirectory("runpipeline_dsir").toString
    // small closed vocabulary so the target model genuinely COVERS the
    // in-distribution docs' grams (a thin target over an open vocabulary
    // alpha-floors good and spam alike — DSIR then rightly penalizes
    // whatever is merely raw-common, which is not what this test pins)
    val goodV = Seq("theorem", "proof", "lemma", "analysis", "measure", "bound")
    def vocabDoc(i: Long, v: Seq[String]): String =
      (0 until 12).map(j => v(((i * 31 + j * 7) % v.size).toInt)).mkString("the ", " the ", "")
    val goodTexts = (0 until 20).map(i => (f"doc$i%02d", vocabDoc(i.toLong, goodV)))
    val spamTexts = (0 until 8).map(i => (f"spam$i%02d",
      (0 until 12).map(j => s"wq${i}xz${j}k").mkString(" ")))
    // target model trained on a DISJOINT slice of the same distribution —
    // the production shape (the trusted corpus is not the crawl)
    val target = (100 until 130).map(i => (f"tgt$i%02d", vocabDoc(i.toLong, goodV)))
      .toDF("doc_id", "text")
    val dim = 4096
    Dsir.saveModel(target, dim, s"$base/dsir")

    def spanDocs(rows: Seq[(String, String)]) = rows.toDF("doc_id", "__t").select(
      col("doc_id"), array(struct(lit("text").as("kind"), col("__t").as("text"),
        lit("").as("media_ref"), lit(0).cast("int").as("offset"))).as("spans"))
    val mediaOnly = Seq(("media00",
      Seq(graft.model.Span("media", null, "media://77", 0)))).toDF("doc_id", "spans")
    spanDocs(goodTexts ++ spamTexts).unionByName(mediaOnly).write.parquet(s"$base/in")

    // budget = exactly the in-distribution half: the logw separation
    // (tens of nats over 12-token docs) dominates the bounded Gumbel
    // noise, so the resample keeps every good doc and no spam
    val out = RunPipeline.run(spark, Map(
      "input" -> s"$base/in", "output" -> s"$base/out", "corrector" -> "null",
      "dsir-model" -> s"$base/dsir", "dsir-k" -> "20",
      "buckets" -> "4", "group-size" -> "2"))
    assert(out.contains(""""docs_in":21"""), out)
    val written = spark.read.parquet(s"$base/out")
    assert(written.filter(col("doc_id").startsWith("spam")).count() == 0)
    assert(written.filter(col("doc_id") === "media00").count() == 1,
      "media-only docs pass the DSIR resample")
    assert(written.select("doc_id").distinct().count() == 21)

    // a model without a budget (or vice versa) fails loudly, not silently
    assertThrows[IllegalArgumentException](RunPipeline.run(spark, Map(
      "input" -> s"$base/in", "output" -> s"$base/out2", "corrector" -> "null",
      "dsir-model" -> s"$base/dsir")))
  }

  test("--langid-model/--langid-keep drops wrong-language docs; media passes") {
    import graft.textanalysis.LangProfile
    val base = Files.createTempDirectory("runpipeline_langid").toString
    def enDoc(i: Int) = s"the quick brown fox number $i jumps over the lazy dog again"
    def zzDoc(i: Int) = s"zxq qzx xqz number $i zzzz qqqq xxxx zxqzxq qzxqzx zxqqzx"
    val labeled = ((0 until 15).map(i => (s"tr_en$i", enDoc(i), "en")) ++
      (0 until 15).map(i => (s"tr_zz$i", zzDoc(i), "zz")))
      .toDF("doc_id", "text", "lang")
    LangProfile.save(LangProfile.train(labeled, k = 200), s"$base/lp")

    def spanDocs(rows: Seq[(String, String)]) = rows.toDF("doc_id", "__t").select(
      col("doc_id"), array(struct(lit("text").as("kind"), col("__t").as("text"),
        lit("").as("media_ref"), lit(0).cast("int").as("offset"))).as("spans"))
    val mediaOnly = Seq(("media00",
      Seq(graft.model.Span("media", null, "media://5", 0)))).toDF("doc_id", "spans")
    val in = (0 until 12).map(i => (f"en$i%02d", enDoc(100 + i))) ++
      (0 until 6).map(i => (f"zz$i%02d", zzDoc(100 + i)))
    spanDocs(in).unionByName(mediaOnly).write.parquet(s"$base/in")

    val out = RunPipeline.run(spark, Map(
      "input" -> s"$base/in", "output" -> s"$base/out", "corrector" -> "null",
      "langid-model" -> s"$base/lp", "langid-keep" -> "en",
      "buckets" -> "4", "group-size" -> "2"))
    assert(out.contains(""""docs_in":13"""), out) // 12 en + 1 media
    val written = spark.read.parquet(s"$base/out")
    assert(written.filter(col("doc_id").startsWith("zz")).count() == 0)
    assert(written.filter(col("doc_id").startsWith("en")).count() == 12)
    assert(written.filter(col("doc_id") === "media00").count() == 1,
      "media-only docs pass the language gate")
    // keep without a model (or vice versa) fails loudly
    assertThrows[IllegalArgumentException](RunPipeline.run(spark, Map(
      "input" -> s"$base/in", "output" -> s"$base/out2", "corrector" -> "null",
      "langid-keep" -> "en")))
  }

  test("--bloom-dedup/--bloom-out: cross-batch incremental dedup accumulates") {
    val base = Files.createTempDirectory("runpipeline_bloom").toString
    def spanDocs(rows: Seq[(String, String)]) = rows.toDF("doc_id", "__t").select(
      col("doc_id"), array(struct(lit("text").as("kind"), col("__t").as("text"),
        lit("").as("media_ref"), lit(0).cast("int").as("offset"))).as("spans"))
    val mediaOnly = Seq(("media00",
      Seq(graft.model.Span("media", null, "media://9", 0)))).toDF("doc_id", "spans")

    // batch 1: 10 docs, sketch written fresh
    val b1 = (0 until 10).map(i => (f"b1d$i%02d", s"batch one document number $i"))
    spanDocs(b1).write.parquet(s"$base/in1")
    RunPipeline.run(spark, Map(
      "input" -> s"$base/in1", "output" -> s"$base/out1", "corrector" -> "null",
      "bloom-out" -> s"$base/sketch1", "bloom-bits" -> "65536",
      "buckets" -> "4", "group-size" -> "2"))

    // batch 2: 4 re-crawls of batch 1 (one with whitespace/case drift —
    // still a normalized duplicate), 6 fresh docs, 1 media-only doc
    val b2 = (0 until 3).map(i => (f"b2r$i%02d", s"batch one document number $i")) ++
      Seq(("b2r03", "  Batch ONE  document number 3 ")) ++
      (0 until 6).map(i => (f"b2f$i%02d", s"batch two fresh document $i"))
    spanDocs(b2).unionByName(mediaOnly).write.parquet(s"$base/in2")
    val out2 = RunPipeline.run(spark, Map(
      "input" -> s"$base/in2", "output" -> s"$base/out2", "corrector" -> "null",
      "bloom-dedup" -> s"$base/sketch1", "bloom-out" -> s"$base/sketch2",
      "buckets" -> "4", "group-size" -> "2"))
    val w2 = spark.read.parquet(s"$base/out2")
    assert(w2.filter(col("doc_id").startsWith("b2r")).count() == 0,
      "every re-crawl must drop (no false negatives)")
    assert(w2.filter(col("doc_id").startsWith("b2f")).count() == 6)
    assert(w2.filter(col("doc_id") === "media00").count() == 1,
      "media-only docs pass the bloom gate")
    assert(out2.contains(""""docs_in":7"""), out2) // 6 fresh + 1 media

    // batch 3 against the ACCUMULATED sketch: re-crawls of both batches drop
    val b3 = Seq(("b3r00", "batch one document number 5"),
      ("b3r01", "batch two fresh document 2"),
      ("b3f00", "a third batch genuinely new document"))
    spanDocs(b3).write.parquet(s"$base/in3")
    RunPipeline.run(spark, Map(
      "input" -> s"$base/in3", "output" -> s"$base/out3", "corrector" -> "null",
      "bloom-dedup" -> s"$base/sketch2",
      "buckets" -> "4", "group-size" -> "2"))
    val w3 = spark.read.parquet(s"$base/out3").select("doc_id").distinct()
      .as[String].collect().toSet
    assert(w3 == Set("b3f00"), s"got $w3")
  }

  test("--source-mix keeps exactly the temperatureMix rows; missing column fails fast") {
    val base = Files.createTempDirectory("runpipeline_mix").toString
    // 3 sources with skewed natural sizes riding as an EXTRA input column
    val docs = DocGen.docs(spark, 120).toDF()
      .select(col("doc_id"), col("noisy_spans").as("spans"))
      .withColumn("source",
        when(col("doc_id") < "doc000000080", "crawl")
          .when(col("doc_id") < "doc000000110", "news").otherwise("wiki"))
    docs.write.parquet(s"$base/in")

    val expected = graft.pipeline.Sampling.temperatureMix(
        docs, "source", "doc_id", alpha = 0.5, budgetFraction = 0.5)
      .select("doc_id").as[String].collect().toSet
    assert(expected.nonEmpty && expected.size < 120)

    val out = RunPipeline.run(spark, Map(
      "input" -> s"$base/in", "output" -> s"$base/out", "corrector" -> "null",
      "source-mix" -> "0.5:0.5", "buckets" -> "4", "group-size" -> "2"))
    assert(out.contains(s""""docs_in":${expected.size}"""), out)
    val written = spark.read.parquet(s"$base/out")
      .select("doc_id").distinct().as[String].collect().toSet
    assert(written == expected, "pipeline mix must equal the operator applied directly")

    // no `source` column on the plain corpus: loud failure, not an identity
    DocGen.docs(spark, 10).toDF()
      .select(col("doc_id"), col("noisy_spans").as("spans")).write.parquet(s"$base/in2")
    val e = intercept[IllegalArgumentException] {
      RunPipeline.run(spark, Map(
        "input" -> s"$base/in2", "output" -> s"$base/out2", "corrector" -> "null",
        "source-mix" -> "0.5:0.5", "buckets" -> "2", "group-size" -> "2"))
    }
    assert(e.getMessage.contains("--mix-source-col"), e.getMessage)
  }

  test("--decontam spec parse: n bounded to 1..100, URI ports stay in the path") {
    assert(RunPipeline.parseDecontamSpec("/data/eval") == ("/data/eval", 13))
    assert(RunPipeline.parseDecontamSpec("/data/eval:8") == ("/data/eval", 8))
    assert(RunPipeline.parseDecontamSpec("s3a://bucket/eval:100") == ("s3a://bucket/eval", 100))
    // a bare authority URI: the port must NOT become the gram order
    assert(RunPipeline.parseDecontamSpec("hdfs://host:9000") == ("hdfs://host:9000", 13))
    assert(RunPipeline.parseDecontamSpec("/data/eval:0") == ("/data/eval:0", 13))
    assert(RunPipeline.parseDecontamSpec("/data/eval:101") == ("/data/eval:101", 13))
  }

  test("--bpe-train trains over the corrected corpus; --bpe-encode consumes it same-run") {
    import graft.textanalysis.Bpe
    val base = Files.createTempDirectory("runpipeline_bpetrain").toString
    DocGen.docs(spark, 50).toDF()
      .select(col("doc_id"), col("noisy_spans").as("spans")).write.parquet(s"$base/in")
    val out = RunPipeline.run(spark, Map(
      "input" -> s"$base/in", "output" -> s"$base/out", "corrector" -> "null",
      "buckets" -> "2", "group-size" -> "2",
      "bpe-train" -> "8", "bpe-encode" -> s"$base/out/_export/bpe_model"))
    assert(out.contains(""""export":"written""""), out)
    val corrected = spark.read.parquet(s"$base/out").drop("bucket")
    val tagged = corrected.withColumn("__txt", concat_ws(" ",
      transform(filter(col("spans"), sp => sp.getField("kind") === "text"),
        sp => sp.getField("text"))))
    // flag ≡ operator: the persisted table is exactly trainMergesLocal's
    val want = Bpe.trainMergesLocal(tagged, 8, textCol = "__txt")
    assert(want.length == 8)
    assert(Bpe.loadMerges(spark, s"$base/out/_export/bpe_model") == want)
    // the same-run encode used the freshly trained merges
    val wantTok = Bpe.encodeDocs(tagged, want, textCol = "__txt")
      .as[(String, Seq[String])].collect().toMap
    val gotTok = spark.read.parquet(s"$base/out/_export/tokens")
      .as[(String, Seq[String])].collect().toMap
    assert(gotTok == wantTok)
  }

  test("training export: --shards/--pack/--span-corrupt/--bpe-encode ≡ operators, resume no-op") {
    import graft.pipeline.{Packing, Sampling, SpanCorruption}
    import graft.textanalysis.Bpe
    val base = Files.createTempDirectory("runpipeline_export").toString
    val docs = DocGen.docs(spark, 60).toDF()
    docs.select(col("doc_id"), col("noisy_spans").as("spans")).write.parquet(s"$base/in")
    docs.select(col("doc_id"), col("spans")).write.parquet(s"$base/truth")
    // a tiny persisted BPE tokenizer for --bpe-encode
    val trainTxt = docs.select(col("doc_id"),
      concat_ws(" ", transform(col("spans"), sp => sp.getField("text"))).as("text"))
    Bpe.saveMerges(spark, Bpe.trainMerges(trainTxt, numMerges = 6), s"$base/bpe")

    val args = Map(
      "input" -> s"$base/in", "output" -> s"$base/out", "clean" -> s"$base/truth",
      "buckets" -> "4", "group-size" -> "2", "corrector" -> "null",
      "shards" -> "3:s1", "pack" -> "16", "span-corrupt" -> "0.1:3",
      "bpe-encode" -> s"$base/bpe")
    val out = RunPipeline.run(spark, args)
    assert(out.contains(""""export":"written""""), out)

    // the corrected output and its export text key, exactly as the pipeline
    // derives them
    val corrected = spark.read.parquet(s"$base/out").drop("bucket")
    val tagged = corrected.withColumn("__txt", concat_ws(" ",
      transform(filter(col("spans"), sp => sp.getField("kind") === "text"),
        sp => sp.getField("text"))))

    // --shards ≡ Sampling.shardAssignment (+ manifest counts)
    val wantAssign = Sampling.shardAssignment(tagged, 3, "s1")
      .as[(String, Int, Long)].collect().toSet
    val gotShards = spark.read.parquet(s"$base/out/_export/shards")
    assert(gotShards.select($"doc_id", $"shard".cast("int"), $"pos")
      .as[(String, Int, Long)].collect().toSet == wantAssign)
    // every input column survives the shard sink
    assert(corrected.columns.toSet.subsetOf(gotShards.columns.toSet))
    val gotManifest = spark.read.parquet(s"$base/out/_export/manifest")
      .as[(Long, Long, Long)].collect().toSet
    assert(gotManifest == Sampling.shardManifest(tagged, 3, "s1", textCol = "__txt")
      .as[(Long, Long, Long)].collect().toSet)
    assert(gotManifest.toSeq.map(_._2).sum == 60L)

    // --pack ≡ per-shard Packing.packSequences over (pos, __txt)
    val assign = Sampling.shardAssignment(tagged, 3, "s1")
    val wantPack = Packing.packSequences(
        assign.join(tagged.select($"doc_id", $"__txt"), Seq("doc_id")),
        16, idCol = "pos", textCol = "__txt", partitionCols = Seq("shard"))
      .join(assign.select($"doc_id", $"shard", $"pos"), Seq("shard", "pos"))
      .select($"doc_id", $"shard", $"pos", $"n_tokens", $"tok_start")
      .as[(String, Int, Long, Long, Long)].collect().toSet
    assert(spark.read.parquet(s"$base/out/_export/pack")
      .select($"doc_id", $"shard".cast("int"), $"pos", $"n_tokens", $"tok_start")
      .as[(String, Int, Long, Long, Long)].collect().toSet == wantPack)

    // --span-corrupt ≡ SpanCorruption.corrupt
    val wantCorrupt = SpanCorruption.corrupt(tagged, 0.1, 3, textCol = "__txt")
      .as[(String, String, String)].collect().toSet
    assert(spark.read.parquet(s"$base/out/_export/corrupt")
      .as[(String, String, String)].collect().toSet == wantCorrupt)

    // --bpe-encode ≡ Bpe.encodeDocs under the persisted merges
    val wantTokens = Bpe.encodeDocs(tagged, Bpe.loadMerges(spark, s"$base/bpe"),
        textCol = "__txt")
      .as[(String, Seq[String])].collect().toMap
    assert(spark.read.parquet(s"$base/out/_export/tokens")
      .as[(String, Seq[String])].collect().toMap == wantTokens)

    // resume with the identical command: the export tail is a NO-OP — the
    // artifact files on disk are untouched (same names, sizes, mtimes)
    def listing(): Set[(String, Long, Long)] = {
      val root = java.nio.file.Paths.get(s"$base/out/_export")
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(root).iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .filterNot(_.getFileName.toString == "_spec")
        .map(p => (p.toString, java.nio.file.Files.size(p),
          java.nio.file.Files.getLastModifiedTime(p).toMillis)).toSet
    }
    val before = listing()
    val again = RunPipeline.run(spark, args)
    assert(again.contains(""""export":"skipped""""), again)
    assert(listing() == before, "resume must not rewrite export artifacts")

    // a changed export spec REBUILDS (different shard count)
    val changed = RunPipeline.run(spark, args + ("shards" -> "2:s1"))
    assert(changed.contains(""""export":"written""""), changed)
    assert(spark.read.parquet(s"$base/out/_export/shards")
      .select($"shard".cast("int")).distinct().count() == 2)

    // --pack without --shards fails fast
    val e = intercept[Exception] {
      RunPipeline.run(spark, Map(
        "input" -> s"$base/in", "output" -> s"$base/out2", "corrector" -> "null",
        "buckets" -> "2", "group-size" -> "2", "pack" -> "16"))
    }
    assert(e.getMessage.contains("--pack requires --shards"))
  }

  test("docs_in_pre rides the staging write: dedup's self-join and span dedup's join-back count each row once") {
    val base = Files.createTempDirectory("runpipeline_pre").toString
    val docs = DocGen.docs(spark, 60).toDF().select(col("doc_id"), col("noisy_spans").as("spans"))
    // 10 exact copies under new ids, and a boilerplate span in every doc
    val boiler = struct(lit("text").as("kind"),
      lit("read more about our newsletter and the latest offers today").as("text"),
      lit("").as("media_ref"), lit(100).as("offset"))
    docs.unionByName(docs.limit(10).withColumn("doc_id", concat(col("doc_id"), lit("_copy"))))
      .withColumn("spans", concat(col("spans"), array(boiler)))
      .repartition(3).write.parquet(s"$base/in")
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    def run(): String = RunPipeline.run(spark, Map(
      "input" -> s"$base/in", "output" -> s"$base/out", "corrector" -> "noisy",
      "dedup" -> "exact", "span-dedup" -> "5", "buckets" -> "4", "group-size" -> "4"))
    val out = run()
    assert(out.contains(""""docs_in_pre":70"""), out)
    assert(out.contains(""""docs_in":60"""), out)
    assert(out.contains(""""docs_removed":10"""), out)
    // a no-op resume: the state read is its one job; it builds no corrector,
    // so no vocabulary job
    org.apache.spark.ListenerDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    val again = try {
      val line = run()
      org.apache.spark.ListenerDrain(spark.sparkContext)
      line
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(again.contains(""""docs_in_pre":null"""), again)
    assert(jobs.get == 1, s"${jobs.get} jobs in a no-op resume")
  }
}
