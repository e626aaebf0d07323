package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Corpus artifact sinks/scans (SURVEY.md §2.1 S2, S5, S8, S9, S10) — the
 * file formats the reference materializes between pipeline stages, as
 * schema-enforced Spark readers/writers.
 */
object CorpusIO {

  /** S2 — plain-text corpus: one sentence per line, UTF-8
    * (`to_plain_text.py:42-46`). */
  def writePlainText(df: DataFrame, textCol: String, path: String): Unit =
    df.select(col(textCol)).write.mode("overwrite").text(path)

  def readPlainText(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path).withColumnRenamed("value", "text")

  /** S5 — split index CSV `(byte_index_clean, byte_index_messy, split)`
    * becomes `(doc_id, offset, split)` in the columnar model (byte offsets
    * vanish, SURVEY.md S6). The reference asserts the header on read
    * (`corrector_dataset.py:25`); here the explicit schema + FAILFAST is the
    * assertion — a header/type mismatch fails the read, not the query. */
  val splitSchema: StructType = StructType(Seq(
    StructField("doc_id", StringType),
    StructField("offset", IntegerType),
    StructField("split", StringType)))

  def writeSplitCsv(df: DataFrame, path: String): Unit =
    df.select(col("doc_id"), col("offset"), col("split"))
      .write.mode("overwrite").option("header", true).csv(path)

  def readSplitCsv(spark: SparkSession, path: String): DataFrame =
    spark.read
      .schema(splitSchema)
      .option("header", true)
      .option("enforceSchema", false) // verify the file header against the schema
      .option("mode", "FAILFAST")
      .csv(path)

  /** S8 — vocabulary model artifact (`dictionary_corrector.py:157-172`
    * `json.dumps(self.__dict__)`): stored columnar as (token, freq) plus the
    * min_frequency hyperparameter; the reference's key-set assertion on load
    * (:168-171) becomes a schema equality check. */
  val vocabSchema: StructType = StructType(Seq(
    StructField("token", StringType, nullable = false),
    StructField("freq", LongType, nullable = false),
    StructField("min_frequency", LongType, nullable = false)))

  def saveVocab(vocabDf: DataFrame, minFrequency: Long, path: String): Unit =
    vocabDf.select(col("token"), col("freq").cast("long").as("freq"),
        lit(minFrequency).as("min_frequency"))
      .write.mode("overwrite").parquet(path)

  /** Load + assert the artifact shape; returns (vocabDf, minFrequency). */
  def loadVocab(spark: SparkSession, path: String): (DataFrame, Long) = {
    val df = spark.read.parquet(path)
    val got = df.schema.fields.map(f => (f.name, f.dataType)).toSeq
    val want = vocabSchema.fields.map(f => (f.name, f.dataType)).toSeq
    require(got == want, s"vocab model schema mismatch: got $got, want $want")
    val mf = df.select(col("min_frequency")).head().getLong(0)
    (df.select(col("token"), col("freq")), mf)
  }

  /** S9 — eval-examples CSV `(text_in, text_out, text_correct,
    * edit_distance)` (`eval.py:39-42,49-60`). */
  def writeEvalCsv(df: DataFrame, path: String): Unit =
    df.select(col("text_in"), col("text_out"), col("text_correct"), col("edit_distance"))
      .write.mode("overwrite").option("header", true).csv(path)

  /** S10 — hyperparameters as a single-row JSON document
    * (`tune_hyperparameters.py:115-117` / `data_functions.py:79-82`). */
  def saveHyperparams(spark: SparkSession, params: Map[String, Double], path: String): Unit = {
    val cols = params.toSeq.sortBy(_._1).map { case (k, v) => lit(v).as(k) }
    spark.range(1).select(cols: _*).coalesce(1).write.mode("overwrite").json(path)
  }

  def loadHyperparams(spark: SparkSession, path: String): Map[String, Double] = {
    val row = spark.read.json(path).head()
    row.schema.fieldNames.map(n => n -> row.getAs[Any](n).toString.toDouble).toMap
  }

  /** Interleaved-docs table sink in a chosen columnar format. `parquet` is
    * the default everywhere; `orc` is the drop-in alternative some lakes
    * standardize on — both carry the nested spans struct, column pruning,
    * and predicate pushdown, so the rest of the engine is format-agnostic.
    *
    * Non-empty `partCols` routes the layout by those low-cardinality
    * columns (lang, source, split) so per-partition consumers — per-
    * language corrector models, per-source audits — read ONLY their
    * partition's bytes (storage-enforced pruning; CorpusIOSpec asserts
    * `PartitionFilters` reach the scan). At 100 TB the partition columns
    * ARE the data-layout index; never partition by a high-cardinality key
    * (doc_id would create one directory per doc). */
  def writeDocs(df: DataFrame, path: String, format: String = "parquet",
                partCols: Seq[String] = Seq.empty): Unit = {
    require(Set("parquet", "orc", "jsonl")(format), s"unsupported docs format: $format")
    require(partCols.forall(df.columns.contains),
      s"partition columns ${partCols.mkString(",")} must exist in ${df.columns.mkString(",")}")
    val w = df.write.mode("overwrite").format(if (format == "jsonl") "json" else format)
    (if (partCols.nonEmpty) w.partitionBy(partCols: _*) else w).save(path)
  }

  /** The canonical interleaved-docs record for the JSONL interchange
    * boundary — exactly the input-contract shape `(doc_id, spans:
    * array<struct<kind, text, media_ref, offset:int32>>)`. */
  def docsJsonSchema(spansCol: String = "spans"): StructType = StructType(Seq(
    StructField("doc_id", StringType),
    StructField(spansCol, ArrayType(StructType(Seq(
      StructField("kind", StringType),
      StructField("text", StringType),
      StructField("media_ref", StringType),
      StructField("offset", IntegerType)))))))

  /** The data schema Spark's parquet inference gives `path` with
    * `mergeSchema` off, read on the driver from the same single footer: the
    * first data file in path order, hidden files and `_`-prefixed names
    * skipped as Spark's file index skips them. As Spark does, the Spark
    * schema the writer stored in the footer wins, else the parquet schema
    * is converted under the session's settings. Spark's inference reads
    * that footer inside a one-task job; this reads it with no job. None
    * when the path does not exist or holds no data file, or the stored
    * schema does not parse, so Spark's own read takes over. Partition
    * columns are not in the footer: Spark's file index discovers them from
    * the directory names either way. */
  private def parquetFooterSchema(spark: SparkSession, path: String): Option[StructType] = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    def hidden(name: String) = (name.startsWith("_") && !name.contains("=")) || name.startsWith(".")
    def leaves(st: FileStatus): Seq[FileStatus] =
      if (!st.isDirectory) Seq(st)
      else fs.listStatus(st.getPath).toSeq.filterNot(c => hidden(c.getPath.getName)).flatMap(leaves)
    if (!fs.exists(root)) None
    else leaves(fs.getFileStatus(root)).sortBy(_.getPath.toString).headOption.flatMap { first =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(first, conf))
      val meta = try reader.getFooter.getFileMetaData finally reader.close()
      Option(meta.getKeyValueMetaData.get(ParquetReadSupport.SPARK_METADATA_KEY)) match {
        case Some(json) => scala.util.Try(DataType.fromJson(json)).toOption.collect {
          case st: StructType => st
        }
        case None => Some(new ParquetToSparkSchemaConverter(spark.sessionState.conf).convert(meta.getSchema))
      }
    }
  }

  /** Scan an interleaved-docs table, asserting the contract — `doc_id`
    * plus a spans column that is an `array<struct<...kind, text...>>` —
    * STRUCTURALLY, before anything downstream dereferences span fields
    * (a name-only check would let a scalar `spans` column fail later with
    * an opaque AnalysisException deep in the pipeline). A parquet table is
    * read with the schema of one footer read on the driver
    * ([[parquetFooterSchema]]), so the scan submits no schema-inference job. */
  def readDocs(spark: SparkSession, path: String, format: String = "parquet",
               spansCol: String = "spans"): DataFrame = {
    require(Set("parquet", "orc", "jsonl")(format), s"unsupported docs format: $format")
    // JSONL (the LLM-corpus interchange format: one JSON doc per line)
    // reads with the EXPLICIT canonical schema — schema inference would
    // cost a full extra pass over 100 TB and silently widen offset to
    // int64; columns beyond the contract are deliberately not carried
    // across this boundary (use parquet/orc for engine-internal tables)
    val df = format match {
      case "jsonl" => spark.read.schema(docsJsonSchema(spansCol)).json(path)
      case "parquet" =>
        parquetFooterSchema(spark, path).fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))
      case _ => spark.read.format(format).load(path)
    }
    require(df.columns.contains("doc_id") && df.columns.contains(spansCol),
      s"docs table at $path must have (doc_id, $spansCol), got ${df.columns.mkString(",")}")
    import org.apache.spark.sql.types.{ArrayType, StructType}
    val ok = df.schema(spansCol).dataType match {
      case ArrayType(st: StructType, _) =>
        Set("kind", "text").subsetOf(st.fieldNames.toSet)
      case _ => false
    }
    require(ok, s"docs table at $path: column $spansCol must be " +
      s"array<struct<kind, text, ...>>, got ${df.schema(spansCol).dataType.simpleString}")
    df
  }
}
