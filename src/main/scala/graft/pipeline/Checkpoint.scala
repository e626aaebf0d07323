package graft.pipeline

import java.util.concurrent.{CompletableFuture, ExecutionException, TimeUnit}

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.expressions.RowOrdering
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.util.AccumulatorV2
import graft.correct.Corrector
import graft.model.{CerMetrics, Span}
import graft.text.DamerauLevenshtein

/**
 * Checkpointed, resumable correction run (SURVEY.md §7 step 6; reference
 * analogs: Lightning checkpoint/resume `train.py:75-82,99` and the
 * interrupt-safe partial eval loops `dictionary_corrector.py:218-237`).
 *
 * Work is keyed by a stable hash bucket of `doc_id` (`pmod(hash(doc_id))`,
 * the function of Spark's own hash partitioning, and the same partitioning
 * an Iceberg table would be bucket-partitioned by at production scale).
 * Buckets are processed in groups; each group is one Spark job whose parquet
 * commit is atomic (job-level output committer), and the group's state rows
 * `(run_id, bucket, status, rows, cer_sum, perfect, lineage)` are written
 * from the driver only AFTER the group's data commit. Resume therefore
 * re-derives remaining work as an anti-join of buckets against the state
 * table: a killed run reprocesses at most the one uncommitted group, and
 * because every upstream stage is deterministic (hash-seeded
 * generator/channel), the resumed output is byte-identical to an unkilled
 * run (tested). A resume whose lineage differs from the committed rows' is
 * refused: their buckets hold rows of another run.
 *
 * Dataflow of [[run]]:
 *
 *   state rows (read once) → the corrector starts building on a thread of
 *   its own → stage [[StagedDoc]] rows once, through one exchange on
 *   `doc_id` whose every partition holds one bucket: each input doc with the
 *   clean table's text spans of the same `doc_id` (left join on a plain
 *   projection, or the same row's spans) → per group, ONE narrow job: pruned
 *   read → text spans corrected in place ([[Corrector.correctDocs]]) → spans
 *   sorted by offset ([[CorrectionPipeline.sortSpans]]) → each corrected
 *   text span scored against the clean texts at its offset into a
 *   [[BucketCer]] accumulator → write `(doc_id, spans, bucket)` → state rows
 *   from the accumulator.
 *
 * No explode, shuffle, cache or metrics join in the group job. The
 * explode → correct → reassemble composition in [[CorrectionPipeline]] is
 * the equivalence witness (CheckpointEquivalenceSpec).
 */
object CheckpointedRun {

  final case class StateRow(run_id: String, bucket: Int, status: String,
                            rows: Long, cer_sum: Double, perfect: Long, lineage: String)

  /** A clean text span of a staged doc: the `clean` array's element. */
  final case class CleanText(offset: Int, text: String)

  /** A staged row: the input doc's spans, the clean table's text spans of
    * the same `doc_id` (null when the clean table has no such doc), and the
    * doc's bucket. */
  final case class StagedDoc(doc_id: String, spans: Seq[Span], clean: Seq[CleanText], bucket: Int)

  /** A corrected output row, before its spans are sorted. */
  final case class BucketDoc(doc_id: String, spans: Seq[Span], bucket: Int)

  /** What one [[run]] saw of the whole run: the docs it staged (None when
    * nothing remained to do), the totals of every committed bucket — the
    * state rows read at the start plus the ones this invocation committed —
    * and, when this invocation wrote the stage, the metrics its query
    * observed by name: the caller's `Dataset.observe(name, ...)` on the
    * input ride the staging write. A metric is absent when the optimizer
    * proved its input empty and dropped it. */
  final case class Summary(docsIn: Option[Long], total: CerMetrics,
                           stageObserved: Option[Map[String, Row]] = None)

  /** The name of the staged-doc count observed on the staging write. */
  private val StagedDocs = "graft_staged_docs"

  /** Injected-failure hook for kill-and-resume tests. */
  final class KilledException(msg: String) extends RuntimeException(msg)

  /** The layout of a stage: it names the stage directory and heads the
    * lineage every state row records, so neither a stage nor the committed
    * buckets of an earlier layout are reused. `v3`: buckets by [[bucketOf]]'s
    * `hash`, written from an exchange whose every partition holds one bucket
    * (`v2` bucketed by `xxhash64`, written from the input's splits). */
  val StageLayout = "staging-v3"

  /** The bucket of a doc: `pmod(hash(doc_id), nBuckets)`, which is the
    * partition Spark's `HashPartitioning` on `doc_id` gives it among
    * `nBuckets` partitions, and among any multiple of `nBuckets` partitions
    * up to `mod nBuckets`. */
  def bucketOf(nBuckets: Int) = pmod(hash(col("doc_id")), lit(nBuckets)).cast("int")

  /** Run `write`, a write of `dir`, and return the metrics its query
    * observed. They come from the query itself, found by its output path:
    * Spark's `Observation` completes on the first query that carries it,
    * and turning a Dataset into an RDD counts as one, with zero metrics
    * because nothing ran; curation stages do that to frames derived from
    * the input while the plan is built. Listener events arrive after the
    * query returns, so this waits for the write's, a bounded time. */
  private def observedWrite(spark: SparkSession, dir: String)(write: => Unit): Map[String, Row] = {
    val target = { val p = new Path(dir); p.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(p) }
    // the write command sits inside the adaptive plan
    def writesTarget(qe: QueryExecution) = new AdaptiveSparkPlanHelper {}.find(qe.executedPlan) {
      case w: DataWritingCommandExec => w.cmd match {
        case i: InsertIntoHadoopFsRelationCommand => i.outputPath == target
        case _ => false
      }
      case _ => false
    }.isDefined
    val metrics = new CompletableFuture[Map[String, Row]]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (writesTarget(qe)) { metrics.complete(qe.observedMetrics); () }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try { write; metrics.get(5, TimeUnit.MINUTES) } finally spark.listenerManager.unregister(listener)
  }

  /** Exchange partitions per bucket in a bucketed write:
    * `⌈spark.sql.shuffle.partitions / nBuckets⌉`, at least 1, so a write
    * over few buckets still runs as many tasks as a shuffle does. */
  private def splitsPerBucket(spark: SparkSession, nBuckets: Int): Int =
    math.max(1, (spark.conf.get("spark.sql.shuffle.partitions").toInt + nBuckets - 1) / nBuckets)

  /** `docs` through one exchange on `doc_id` into `nBuckets × s` partitions
    * ([[splitsPerBucket]]): partition `p` holds only bucket `p mod nBuckets`,
    * so each bucket is written by at most `s` tasks. */
  private def clustered(docs: DataFrame, nBuckets: Int): DataFrame =
    docs.repartition(nBuckets * splitsPerBucket(docs.sparkSession, nBuckets), col("doc_id"))

  /** Write clustered rows with their bucket, partitioned by it. Each task
    * sorts its rows by `(bucket, doc_id)`, then by every other orderable
    * column, so rows that share a `doc_id` keep one order whatever order
    * the shuffle fetched them in. */
  private def writeBucketed(rows: DataFrame, dir: String, nBuckets: Int): Unit = {
    val withBucket = rows.withColumn("bucket", bucketOf(nBuckets))
    val rest = rows.schema.filter(f => f.name != "doc_id" && RowOrdering.isOrderable(f.dataType))
    withBucket.sortWithinPartitions(col("bucket") +: col("doc_id") +: rest.map(f => col(f.name)): _*)
      .write.mode(SaveMode.Overwrite).partitionBy("bucket").parquet(dir)
  }

  /** Fingerprint of a frame's CANONICALIZED analyzed plan + schema — the
    * default stage token. Canonicalization normalizes expression ids, so the
    * same rebuilt plan fingerprints identically on resume (stage reused),
    * while a different source/shape with the same outDir/nBuckets gets a
    * different staging directory instead of silently reusing stale rows.
    * The ANALYZED plan, not the raw parsed one: canonicalizing an
    * unresolved tree (`spark.sql(...)` inputs contain UnresolvedRelation)
    * throws on `.output`, and the resolved tree also distinguishes what a
    * table name actually resolved to. */
  def planToken(df: DataFrame): String = {
    val s = df.queryExecution.analyzed.canonicalized.toString + "\n" + df.schema.treeString
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).take(6).map(b => f"$b%02x").mkString
  }

  /** The stage token [[run]] uses when the caller passes none: [[planToken]]
    * of the input columns the stage is built from, so another source OR
    * another spans column gets its own stage. */
  def defaultStageToken(docs: DataFrame, cleanDocs: DataFrame, spansCol: String,
                        cleanSpansCol: String): String =
    if (cleanDocs eq docs) planToken(docs.select(col("doc_id"), col(spansCol), col(cleanSpansCol)))
    else planToken(docs.select(col("doc_id"), col(spansCol))) +
      planToken(cleanDocs.select(col("doc_id"), col(cleanSpansCol)))

  /** Normalized DL distance as a NATIVE column expression — the column form
    * of [[graft.text.DamerauLevenshtein.normalized]] (same equality shortcut
    * and empty-`clean` guard) built on the codegen'd `dl_distance`
    * expression instead of a ScalaUDF, so per-bucket metrics stay inside the
    * whole-stage-codegen span with no per-row serde. Requires
    * [[org.apache.spark.sql.graft.NativeFunctions.register]]
    * (idempotent). `length()` counts code points (UTF8String.numChars),
    * matching the kernel's codePointCount. [[run]] scores with the
    * row-level twin [[normalizedDist]]. */
  def normalizedDistCol(noisy: Column, clean: Column): Column =
    when(noisy === clean, 0.0)
      .when(length(clean) === 0, 1.0) // unequal (first branch) + empty clean
      .otherwise(
        call_function("dl_distance", noisy, clean).cast("double") / length(clean))

  /** [[normalizedDistCol]] on plain strings, branch for branch; NaN where the
    * column is null (a null text on either side, unless the clean text is
    * empty). */
  def normalizedDist(noisy: String, clean: String): Double =
    if (noisy != null && noisy == clean) 0.0
    else if (clean != null && clean.isEmpty) 1.0
    else if (noisy == null || clean == null) Double.NaN
    else DamerauLevenshtein.normalized(noisy, clean)

  private def committed(spark: SparkSession, dir: String): Boolean = {
    val marker = new org.apache.hadoop.fs.Path(dir, "_SUCCESS")
    marker.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(marker)
  }

  /** Write `docs` + bucket column partitioned by `bucket`, exactly once, at
    * most `s` files per bucket ([[clustered]]): skipped when a committed
    * (_SUCCESS) stage already exists — a stage interrupted mid-write has no
    * marker and is overwritten on resume. */
  def stageBucketed(spark: SparkSession, docs: DataFrame, stagingDir: String, nBuckets: Int): Unit =
    if (!committed(spark, stagingDir)) writeBucketed(clustered(docs, nBuckets), stagingDir, nBuckets)

  /** Stage the clean tables's exploded TEXT spans `(doc_id, offset,
    * text_clean)` partitioned by bucket. [[run]] no longer calls it (the
    * clean texts ride in the input stage); the traced benchmark run does. */
  def stageCleanSpans(spark: SparkSession, cleanDocs: DataFrame, stagingDir: String,
                      nBuckets: Int, cleanSpansCol: String): Unit =
    if (!committed(spark, stagingDir)) {
      CorrectionPipeline.explodeSpans(cleanDocs, cleanSpansCol)
        .filter(col("kind") === graft.model.Span.KindText)
        .select(col("doc_id"), col("offset"), col("text").as("text_clean"))
        .withColumn("bucket", bucketOf(nBuckets))
        .write.mode(SaveMode.Overwrite).partitionBy("bucket").parquet(stagingDir)
    }

  /** The `done` state rows of this run (empty when there is no state yet). */
  private def doneRows(spark: SparkSession, stateDir: String, runId: String): Seq[StateRow] = {
    val path = new Path(stateDir)
    if (!path.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(path)) Nil
    else {
      import spark.implicits._
      spark.read.schema(Encoders.product[StateRow].schema)
        .parquet(stateDir).as[StateRow]
        .filter(s => s.run_id == runId && s.status == "done")
        .collect().toSeq
    }
  }

  /** [[StateRow]] as parquet, the types Spark writes for its encoder. */
  private val StateSchema = MessageTypeParser.parseMessageType(
    """message state_row {
      |  optional binary run_id (STRING);
      |  required int32 bucket;
      |  optional binary status (STRING);
      |  required int64 rows;
      |  required double cer_sum;
      |  required int64 perfect;
      |  optional binary lineage (STRING);
      |}""".stripMargin)

  /** Append `rows` to the state table as one parquet file written on the
    * driver, with no Spark job: under a hidden name first, which Spark's
    * reader skips, then renamed into `stateDir`, so a reader sees the whole
    * file or none of it. */
  private def appendState(spark: SparkSession, stateDir: String, rows: Seq[StateRow]): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val name = s"part-${java.util.UUID.randomUUID()}.parquet"
    val tmp = new Path(stateDir, s".$name.tmp")
    val groups = new SimpleGroupFactory(StateSchema)
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(tmp, conf))
      .withType(StateSchema).withConf(conf).build()
    try rows.foreach { r =>
      val g = groups.newGroup().append("bucket", r.bucket).append("rows", r.rows)
        .append("cer_sum", r.cer_sum).append("perfect", r.perfect)
      Seq("run_id" -> r.run_id, "status" -> r.status, "lineage" -> r.lineage)
        .foreach { case (k, v) => if (v != null) g.append(k, v) }
      w.write(g)
    } finally w.close()
    if (!tmp.getFileSystem(conf).rename(tmp, new Path(stateDir, name)))
      throw new java.io.IOException(s"could not rename $tmp into $stateDir")
  }

  private def totalOf(rows: Seq[StateRow]): CerMetrics =
    rows.foldLeft(CerMetrics(0L, 0L, 0.0))((t, r) => t + CerMetrics(r.rows, r.perfect, r.cer_sum))

  /** Buckets already committed for this run. */
  def doneBuckets(spark: SparkSession, stateDir: String, runId: String): Set[Int] =
    doneRows(spark, stateDir, runId).map(_.bucket).toSet

  /** The staged layout of [[run]]: `(doc_id, spans, clean)`, where `spans`
    * is the input's `spansCol` and `clean: array<struct<offset, text>>` holds
    * the clean table's text spans of the same `doc_id`. A separate clean
    * table comes in by a left join on a plain projection (no explode, no
    * aggregate, so the stage keeps the input's split count and Spark picks
    * broadcast or shuffle); when `cleanDocs eq docs`, `clean` is a
    * projection of the same row's `cleanSpansCol`. Clean spans with a null
    * offset, and every clean span of a null `doc_id`, are left out: they
    * never match an equi-join key. */
  private def stagedDocs(docs: DataFrame, cleanDocs: DataFrame, spansCol: String,
                         cleanSpansCol: String): DataFrame = {
    def cleanTexts(spans: Column): Column =
      transform(filter(spans, s => s("kind") === Span.KindText && s("offset").isNotNull),
        s => struct(s("offset").as("offset"), s("text").as("text")))
    if (cleanDocs eq docs)
      docs.select(col("doc_id"), col(spansCol).as("spans"),
        when(col("doc_id").isNotNull, cleanTexts(col(cleanSpansCol))).as("clean"))
    else
      docs.select(col("doc_id"), col(spansCol).as("spans"))
        .join(cleanDocs.select(col("doc_id"), cleanTexts(col(cleanSpansCol)).as("clean")),
          Seq("doc_id"), "left")
  }

  /** `(rows, perfect, cer_sum)` pair sums per bucket, accumulated inside a
    * group job's write. That job is one narrow result stage, so Spark
    * applies each successful task's update exactly once. Sums are kept per
    * (bucket, partition) and added in partition order by [[byBucket]], so
    * they do not depend on the order in which tasks finish. */
  private final class BucketCer extends AccumulatorV2[(Int, Int, Double), Map[(Int, Int), CerMetrics]] {
    private val sums = scala.collection.mutable.HashMap.empty[(Int, Int), CerMetrics]
    override def isZero: Boolean = sums.isEmpty
    override def copy(): BucketCer = { val c = new BucketCer; c.sums ++= sums; c }
    override def reset(): Unit = sums.clear()
    /** One pair of `bucket` scored in `partition`; NaN for a null distance,
      * which counts as a row but adds to neither sum. */
    override def add(v: (Int, Int, Double)): Unit = {
      val (bucket, partition, dist) = v
      val m = sums.getOrElse((bucket, partition), CerMetrics(0L, 0L, 0.0))
      sums((bucket, partition)) =
        if (dist.isNaN) m.copy(n = m.n + 1)
        else CerMetrics(m.n + 1, m.nPerfect + (if (dist == 0.0) 1 else 0), m.sumNormDist + dist)
    }
    override def merge(other: AccumulatorV2[(Int, Int, Double), Map[(Int, Int), CerMetrics]]): Unit =
      other.value.foreach { case (k, m) => sums(k) = sums.get(k).fold(m)(_ + m) }
    override def value: Map[(Int, Int), CerMetrics] = sums.toMap
    def byBucket: Map[Int, CerMetrics] =
      sums.toSeq.sortBy(_._1).groupMapReduce(_._1._1)(_._2)(_ + _)
  }

  /**
   * The group job's transform over staged rows ([[stagedDocs]] plus
   * `bucket`): drops docs with an empty or null span array (explode drops
   * them too), corrects text spans in place, scores every corrected text
   * span against each clean text at its offset into `cer` (duplicate clean
   * offsets count once per pair, as the `(doc_id, offset)` inner join does),
   * and sorts each doc's spans by offset. Returns `(doc_id, spans, bucket)`
   * with no shuffle.
   */
  private def correctStaged(staged: DataFrame, corrector: Corrector, cer: BucketCer): DataFrame = {
    val spark = staged.sparkSession
    import spark.implicits._
    staged.filter(size(col("spans")) > 0).as[StagedDoc]
      .mapPartitions { docs =>
        val partition = TaskContext.getPartitionId()
        corrector.correctDocs[StagedDoc](docs, _.spans, (d, s) => d.copy(spans = s)).map { d =>
          if (d.clean != null && d.clean.nonEmpty) {
            val byOffset = d.clean.groupBy(_.offset)
            d.spans.foreach { s =>
              if (s.kind == Span.KindText) byOffset.get(s.offset).foreach(_.foreach { c =>
                cer.add((d.bucket, partition, normalizedDist(s.text, c.text)))
              })
            }
          }
          BucketDoc(d.doc_id, d.spans, d.bucket)
        }
      }
      .select(col("doc_id"), CorrectionPipeline.sortSpans(col("spans")).as("spans"), col("bucket"))
  }

  /** `body` on a thread of its own under the caller's session and local
    * properties, the way Spark's `SQLExecution.withThreadLocalCaptured` runs
    * work beside a query, minus the SQL execution ids, so its queries are
    * not taken for part of one of the caller's. Its Spark jobs carry a tag
    * of their own: [[close]] cancels any that still run, then joins the
    * thread, so neither outlives the caller's `try`. */
  private final class Beside[T](spark: SparkSession, body: => T) extends AutoCloseable {
    private val sc = spark.sparkContext
    private val tag = s"graft-beside-${java.util.UUID.randomUUID()}"
    private val result = new CompletableFuture[T]()
    // the new thread inherits a copy of the caller's local properties
    private val thread = new Thread(() => {
      SparkSession.setActiveSession(spark)
      Seq("spark.sql.execution.id", "spark.sql.execution.root.id")
        .foreach(sc.setLocalProperty(_, null))
      sc.addJobTag(tag)
      try result.complete(body) catch { case t: Throwable => result.completeExceptionally(t) }
      ()
    }, "graft-beside")
    thread.setDaemon(true)
    thread.start()

    /** The body's value, or the exception it threw. */
    def get(): T = try result.get() catch { case e: ExecutionException => throw e.getCause }

    override def close(): Unit = {
      if (!result.isDone) sc.cancelJobsWithTag(tag)
      thread.join()
    }
  }

  /**
   * Run (or resume) the correction pipeline over `docs`.
   *
   * @param docs        input table `(doc_id, <spansCol>, ...)` — noisy spans in
   * @param cleanDocs   clean table for CER metrics (may be the same table)
   * @param corrector   built only when work remains, on a thread of its own
   *                    while the stage is written (a vocabulary trained from
   *                    the clean table overlaps the staging job); its
   *                    failure is the run's
   * @param lineage     what the committed rows derive from besides the
   *                    layout and the bucketing; the state rows record it
   *                    after [[StageLayout]] and `nBuckets`, and a resume of
   *                    a run whose rows carry another lineage is refused
   * @param failAfterGroups  test hook: throw KilledException after N groups commit
   * @param onSummary   invoked once, at the end, with the docs staged and
   *                    the whole run's totals (see [[Summary]])
   * @return per-run metrics summed over the buckets THIS invocation processed
   */
  def run(spark: SparkSession,
          docs: DataFrame,
          cleanDocs: DataFrame,
          corrector: => Corrector,
          outDir0: String,
          stateDir: String,
          runId: String,
          spansCol: String = "noisy_spans",
          nBuckets: Int = 16,
          groupSize: Int = 4,
          lineage: String = "",
          cleanSpansCol: String = "spans",
          stageToken: String = "",
          failAfterGroups: Option[Int] = None,
          onSummary: Summary => Unit = _ => ()): CerMetrics = {
    // normalize: stage dirs are SIBLINGS of outDir by string concatenation —
    // a trailing slash would nest them inside the output and break the
    // prefix-based cleanup sweep
    val outDir = outDir0.stripSuffix("/")
    // the state table is read once: it gives both the remaining work and
    // the totals of the buckets committed before this invocation
    val prior = doneRows(spark, stateDir, runId)
    val stamped = s"$StageLayout buckets=$nBuckets $lineage".trim
    prior.map(_.lineage).find(_ != stamped).foreach { other =>
      throw new IllegalStateException(s"run '$runId' in $stateDir has buckets committed " +
        s"under lineage '$other', not this run's '$stamped'; use a new --run-id or output")
    }
    val remaining = (0 until nBuckets).filterNot(prior.map(_.bucket).toSet)
    val groups = remaining.grouped(groupSize).toSeq
    var totals = CerMetrics(0, 0, 0.0)
    if (groups.isEmpty) {
      cleanupStages(spark, outDir)
      onSummary(Summary(None, totalOf(prior)))
      return totals
    }

    val model = new Beside(spark, corrector)
    try {
      // Stage the bucketed input ONCE, partitioned by bucket. The bucket
      // predicate is a derived column (pmod(hash(doc_id))) that can never
      // push down to the original source, so filtering `docs` directly would
      // re-read and re-derive the ENTIRE upstream plan once per group — at
      // 100 TB that multiplies total work by the group count. Staging turns
      // each group job into a partition-pruned read of only its buckets, and
      // the clean texts ride in the same rows, so no group job joins.
      // The stage is committed atomically (_SUCCESS) and the upstream plan is
      // deterministic, so a resumed run reuses or identically rewrites it.
      // nBuckets and the stage token are part of the directory name: a resume
      // with a DIFFERENT bucketing must not filter a stage built under the old
      // one (it would silently drop every bucket id the old stage never
      // produced), and a resume against a DIFFERENT input or clean table must
      // not reuse the previous source's staged rows. Callers may pass an
      // explicit token (RunPipeline fingerprints its paths); by DEFAULT the
      // token is a fingerprint of the input plans and spans columns, so a
      // stage left by a killed run over a different source with the same
      // outDir/nBuckets is never silently reused. [[StageLayout]] in the name
      // keeps a stage of an earlier layout from being read as this one. All
      // stages under this outDir are deleted once every bucket is committed.
      val token = if (stageToken.nonEmpty) stageToken
                  else defaultStageToken(docs, cleanDocs, spansCol, cleanSpansCol)
      val stagingDir = s"$outDir.$StageLayout-b$nBuckets-$token"
      // docs_in is observed on the staging write itself; a committed stage
      // reused on resume is counted instead (parquet footers only). The
      // input goes through the bucket exchange before a separate clean table
      // joins it, so a shuffled join reuses that partitioning and no second
      // exchange moves the input's spans.
      val writeStage = !committed(spark, stagingDir)
      val input = clustered(if (writeStage) docs.observe(StagedDocs, count(lit(1))) else docs, nBuckets)
      val stageFrame = stagedDocs(input, if (cleanDocs eq docs) input else cleanDocs,
        spansCol, cleanSpansCol)
      val observed =
        if (writeStage) Some(observedWrite(spark, stagingDir)(writeBucketed(stageFrame, stagingDir, nBuckets)))
        else None
      // staged reads carry EXPLICIT schemas: a legitimately-empty stage (an
      // aggressive curation config dropping every doc) writes a directory
      // with no part files, and schema inference would fail the whole run
      val staged = spark.read
        .schema(stageFrame.schema.add("bucket", org.apache.spark.sql.types.IntegerType))
        .parquet(stagingDir)
      val docsIn = observed.fold(staged.count())(m => m.get(StagedDocs).fold(0L)(_.getLong(0)))
      val c = model.get()

      groups.zipWithIndex.foreach { case (group, gi) =>
        failAfterGroups.foreach(k => if (gi >= k) throw new KilledException(s"injected kill before group $gi"))

        // data commit (atomic at job level) with the per-bucket metrics
        // accumulated inside the same job
        val cer = new BucketCer
        spark.sparkContext.register(cer, "checkpoint.cer")
        correctStaged(staged.filter(col("bucket").isin(group: _*)), c, cer)
          .write.mode(SaveMode.Append).partitionBy("bucket").parquet(outDir)
        // buckets with zero text spans still get a done-marker
        val perBucket = cer.byBucket
        val stateRows = group.map { b =>
          val m = perBucket.getOrElse(b, CerMetrics(0L, 0L, 0.0))
          StateRow(runId, b, "done", m.n, m.sumNormDist, m.nPerfect, stamped)
        }
        appendState(spark, stateDir, stateRows)
        totals = totals + totalOf(stateRows)
      }
      // every bucket is committed — the stages are dead weight now (a kill
      // before this point leaves them for the resume to reuse). Sweeping all
      // `<outDir>.staging*` siblings also reclaims stages abandoned under a
      // different bucketing/token or layout, and covers the resume-after-kill-
      // between-last-commit-and-cleanup path (groups.isEmpty calls this too).
      cleanupStages(spark, outDir)
      onSummary(Summary(Some(docsIn), totalOf(prior) + totals, observed))
      totals
    } finally model.close()
  }

  /** Delete every staging directory belonging to `outDir`. */
  def cleanupStages(spark: SparkSession, outDir0: String): Unit = {
    val out = new org.apache.hadoop.fs.Path(outDir0.stripSuffix("/"))
    val fs = out.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parent = out.getParent
    if (parent != null && fs.exists(parent)) {
      val prefix = s"${out.getName}.staging"
      fs.listStatus(parent).foreach { st =>
        if (st.getPath.getName.startsWith(prefix)) { fs.delete(st.getPath, true); () }
      }
    }
  }

  /** Aggregate metrics for a completed run from its state table. [[run]]
    * reports the same totals through its [[Summary]] without this second
    * read; the traced benchmark run and the specs call it. */
  def metrics(spark: SparkSession, stateDir: String, runId: String): CerMetrics =
    totalOf(doneRows(spark, stateDir, runId))
}
