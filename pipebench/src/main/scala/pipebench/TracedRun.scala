package pipebench

import scala.collection.mutable

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType, StructType}

import graft.correct.{DictionaryCorrector, NoisyChannelCorrector, NoisyChannelModel}
import graft.pipeline.{CheckpointedRun, CorrectionPipeline}
import graft.pipeline.CheckpointedRun.StateRow
import graft.model.Span

/**
 * The traced run: the job `RunPipeline.run` submits for a workload, made
 * from the engine's public layer calls in the order `RunPipeline` and
 * `CheckpointedRun` make them, with a span around each call. Each layer's
 * result is materialized (cached and counted, or written) inside its span,
 * so its time is not paid by the next layer; that is the price of per-layer
 * attribution, and shows as tracing overhead.
 */
object TracedRun {

  final case class Result(metrics: Map[String, Double], reported: Reported,
                          oovTokens: Seq[String])

  def run(spark: SparkSession, w: Workload, noisyDir: String, cleanDir: String,
          outDir: String, stateDir: String, runId: String, tr: Tracer): Result = {
    import spark.implicits._
    val m = mutable.LinkedHashMap.empty[String, Double]
    val cached = mutable.ArrayBuffer.empty[org.apache.spark.sql.Dataset[_]]
    def keep[D <: org.apache.spark.sql.Dataset[_]](d: D): D = { cached += d; d.cache(); d }
    val tokenFreq = mutable.HashMap.empty[String, Long]
    var docsIn = 0L

    tr.span("run") {
      val docs0 = tr.span("sources") {
        val d = keep(graft.sources.CorpusIO.readDocs(spark, noisyDir))
        m("sources.docs") = d.count().toDouble
        d
      }
      var nIn = m("sources.docs")
      val docs = w.curation.foldLeft(docs0) { (in, stage) =>
        val key = s"curation.${stage.name}"
        val out = tr.span(key) { keep(Curation(stage, in)) }
        val nOut = tr.span(key) { out.count().toDouble }
        m(s"$key.docs_in") = nIn
        m(s"$key.docs_out") = nOut
        nIn = nOut
        out
      }
      val cleanDocs = graft.sources.CorpusIO.readDocs(spark, cleanDir)
      val vocab = tr.span("model.vocab") {
        val v = keep(DictionaryCorrector.trainVocab(cleanDocs, "spans", splitFilter = None)
          .filter(col("freq") >= Check.MinFreq))
        m("model.vocab_size") = v.count().toDouble
        v
      }
      val bc = tr.span("model.build") { NoisyChannelModel.fromVocabDf(spark, vocab, Check.MinFreq) }
      tr.span("model.trie") { bc.value.trie; () }
      m("model.broadcast_bytes") = org.apache.spark.SparkEnv.get.serializer.newInstance()
        .serialize(bc.value).remaining().toDouble
      val corrector = new NoisyChannelCorrector(bc)

      org.apache.spark.sql.graft.DamerauLevenshteinExpr.register(spark)
      val done = tr.span("checkpoint.done") { CheckpointedRun.doneBuckets(spark, stateDir, runId) }
      val groups = (0 until Harness.Buckets).filterNot(done).grouped(Harness.GroupSize).toSeq
      val stagingDir = s"$outDir.staging-traced"
      val cleanStagingDir = s"$outDir.staging-clean-traced"
      tr.span("checkpoint.stage") { CheckpointedRun.stageBucketed(spark, docs, stagingDir, Harness.Buckets) }
      val staged = spark.read.schema(docs.schema.add("bucket", IntegerType)).parquet(stagingDir)
      docsIn = tr.span("checkpoint.stage") { staged.count() }
      tr.span("checkpoint.stage_clean") {
        CheckpointedRun.stageCleanSpans(spark, cleanDocs, cleanStagingDir, Harness.Buckets, "spans")
      }
      val cleanStaged = spark.read.schema(new StructType()
          .add("doc_id", StringType).add("offset", IntegerType)
          .add("text_clean", StringType).add("bucket", IntegerType))
        .parquet(cleanStagingDir)

      groups.foreach { group => tr.span("group") {
        val exploded = tr.span("explode") {
          val e = keep(CorrectionPipeline.explodeSpans(
            staged.filter(col("bucket").isin(group: _*)).drop("bucket"), "spans"))
          m("explode.spans") = m.getOrElse("explode.spans", 0.0) + e.count()
          e
        }
        tr.span("trace.token_stats") {
          exploded.filter(col("kind") === Span.KindText)
            .select(explode(split(trim(col("text")), "\\s+")).as("t"))
            .filter(length(col("t")) > 0)
            .groupBy(col("t")).count().collect()
            .foreach(r => tokenFreq(r.getString(0)) = tokenFreq.getOrElse(r.getString(0), 0L) + r.getLong(1))
        }
        val corrected = tr.span("kernel") {
          val c = keep(CorrectionPipeline.correct(exploded, corrector)); c.count(); c
        }
        val assembled = tr.span("reassembly") {
          val a = keep(CorrectionPipeline.reassembleSalted(corrected)
            .withColumn("bucket", CheckpointedRun.bucketOf(Harness.Buckets)))
          a.count(); a
        }
        tr.span("sink") {
          assembled.write.mode(SaveMode.Append).partitionBy("bucket").parquet(outDir)
        }
        val stateRows = tr.span("cer") {
          val clean = cleanStaged.filter(col("bucket").isin(group: _*))
            .select(col("doc_id"), col("offset"), col("text_clean"))
          val perBucket = corrected.toDF()
            .filter(col("kind") === "text")
            .join(clean, Seq("doc_id", "offset"))
            .withColumn("bucket", CheckpointedRun.bucketOf(Harness.Buckets))
            .withColumn("dist", CheckpointedRun.normalizedDistCol(col("text"), col("text_clean")))
            .groupBy(col("bucket"))
            .agg(count(lit(1)).as("rows"), sum(col("dist")).as("cer_sum"),
              sum(when(col("dist") === 0.0, 1L).otherwise(0L)).as("perfect"))
            .collect()
            .map(r => StateRow(runId, r.getInt(0), "done", r.getLong(1), r.getDouble(2), r.getLong(3), ""))
          val covered = perBucket.map(_.bucket).toSet
          perBucket.toSeq ++ group.filterNot(covered).map(b => StateRow(runId, b, "done", 0L, 0.0, 0L, ""))
        }
        m("cer.pairs") = m.getOrElse("cer.pairs", 0.0) + stateRows.map(_.rows).sum
        tr.span("checkpoint.state") {
          spark.createDataset(stateRows).write.mode(SaveMode.Append).parquet(stateDir)
        }
        m("checkpoint.state_rows") = m.getOrElse("checkpoint.state_rows", 0.0) + stateRows.size
        Seq(exploded, corrected, assembled).foreach(_.unpersist())
      } }
      tr.span("checkpoint.stage") { CheckpointedRun.cleanupStages(spark, outDir) }
      m("kernel.memo_entries") = bc.value.memo.mappingCount().toDouble
      val oov = tokenFreq.keysIterator.filterNot(bc.value.contains).toVector.sorted
      m("kernel.oov_distinct_tokens") = oov.size.toDouble
      m("kernel.tokens") = tokenFreq.valuesIterator.sum.toDouble
      m("kernel.distinct_tokens") = tokenFreq.size.toDouble
      cached.foreach(_.unpersist())
      val total = CheckpointedRun.metrics(spark, stateDir, runId)
      Result(m.toMap, Reported(docsIn, total.n, total.avgDistance, total.percentPerfect), oov)
    }
  }
}
