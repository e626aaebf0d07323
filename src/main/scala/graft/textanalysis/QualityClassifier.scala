package graft.textanalysis

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Model-based quality filtering — the "quality classifier" stage of web
 * corpus recipes (CCNet's fastText langid+quality gate, GPT-3's
 * logistic-regression filter over WebText-vs-CommonCrawl, LLaMA's
 * "classify pages used as references by Wikipedia"): a linear classifier
 * over HASHED bag-of-words features (feature hashing, Weinberger et al.
 * ICML'09 — a fixed `dim`-slot table instead of a corpus-sized vocabulary,
 * so the model is bounded and the feature map is stateless), trained by
 * full-batch gradient descent on a labeled corpus (positives = a trusted
 * reference corpus, negatives = raw crawl sample), then applied as a
 * per-document keep/drop gate.
 *
 * Two scoring paths:
 *
 *  - [[train]]/[[scoreDocs]] — the PRODUCTION path: T logistic-regression
 *    GD steps; per step the gradient is two relational aggregations
 *    (doc-margin join + per-feature residual sum) and one driver update of
 *    the `<= dim+1`-double weight vector (the vocab-collect discipline:
 *    bounded by construction, never corpus-sized).
 *  - [[countDiffModel]]/[[countDiffScores]] — the INTEGER-EXACT first
 *    gradient step from w = 0: there `sigmoid(0) = 1/2` for every doc, so
 *    the gradient direction is `diff_f = sum_pos(c_f) - sum_neg(c_f)` — all
 *    integer arithmetic, bit-identical on any engine and any partitioning,
 *    hence the DuckDB-oracle surface (`q_qclf`) and a deterministic
 *    baseline gate (`keep = score_raw > 0`). [[train]] with `steps = 1`
 *    reproduces exactly `lr/2 * diff_f` (spec-asserted bit-equal: residuals
 *    are ±1/2 and half-integer sums are exact in doubles).
 *
 * Scale shape: features reduce to `(id, f, c)` triples scan-side — text
 * never shuffles; the model is `<= dim` rows, broadcast everywhere it is
 * joined; training cost is `steps × (2 hash-agg shuffles of (id, f, c)
 * volume)`. FP note: GD margins/gradients are floating-point sums whose
 * partition fold order is not fixed — deterministic only to rounding (the
 * spec compares against a driver-side reference at 1e-8), which is why the
 * oracle rides the integer path.
 */
object QualityClassifier {

  /** 16-bit md5 of a token folded into `dim` hash slots — the
    * engine-portable feature map (same family as `Sampling.gate16`). */
  def featureId(token: Column, dim: Int): Column =
    (conv(substring(md5(token), 1, 4), 16, 10).cast("long") % dim).cast("int")

  /** Hashed unigram counts of the normalized text: `(idCol, f, c)` — one
    * explode + one hash agg; empty docs yield no rows. Round 7: tokenize +
    * feature-hash in one codegen'd `hashed_grams(text, dim, 1)` kernel
    * call per row instead of a string explode followed by a per-token
    * md5 → substring → conv chain (bit-equal counts, equivalence spec in
    * QualityClassifierSpec via [[featureTableColumns]]). */
  def featureTable(docs: DataFrame, dim: Int,
                   idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(dim >= 2 && dim <= 65536, s"dim out of [2, 65536]: $dim")
    // round 7 second pass: the (id, f) groups never cross documents, so the
    // count happens INSIDE the kernel (`hashed_gram_counts`) and the explode
    // emits the aggregated (f, c) rows directly — the hashed_grams explode +
    // corpus-wide (id, f) Exchange + hash aggregation become one scan-side
    // call (same row set; witness [[featureTableColumns]])
    org.apache.spark.sql.graft.NativeFunctions.register(docs.sparkSession)
    graft.pipeline.Fanout.fanout(
        docs.select(col(idCol), col(textCol)), col(idCol))
      .select(col(idCol), explode(call_function("hashed_gram_counts",
        col(textCol), lit(dim), lit(1))).as("__fc"))
      .select(col(idCol), col("__fc.f").as("f"), col("__fc.c").as("c"))
  }

  /** Pure-Column witness of [[featureTable]] (the pre-kernel form). */
  private[graft] def featureTableColumns(docs: DataFrame, dim: Int,
                                                idCol: String = "doc_id",
                                                textCol: String = "text"): DataFrame = {
    val toks = graft.dedup.Dedup.normalizeText(col(textCol))
    docs.select(col(idCol), explode(split(toks, " ")).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(col(idCol), featureId(col("token"), dim).as("f"))
      .agg(count(lit(1)).as("c"))
  }

  /**
   * The integer-exact count-difference model: per feature slot,
   * `diff = sum of counts in positive docs - sum in negative docs` —
   * exactly the (negated, 2/lr-scaled) first GD gradient from w = 0.
   * `labelCol` must be 0/1-valued. Output `(f, diff)`, `<= dim` rows.
   */
  def countDiffModel(labeled: DataFrame, dim: Int,
                     idCol: String = "doc_id", textCol: String = "text",
                     labelCol: String = "label"): DataFrame = {
    val ft = featureTable(labeled, dim, idCol, textCol)
    ft.join(labeled.select(col(idCol), col(labelCol).cast("int").as("__y")), idCol)
      .groupBy(col("f"))
      .agg(sum(when(col("__y") === 1, col("c")).otherwise(-col("c")))
        .cast("long").as("diff"))
  }

  /**
   * Score `docs` with a count-difference model: integer dot product
   * `score_raw = sum_f c_f * diff_f` (BIGINT — exact, order-independent)
   * and the gate `keep = score_raw > 0`. Docs with no tokens (or none of
   * the model's features) score 0 and are dropped by the gate — the
   * conservative default for a quality filter. Output
   * `(idCol, score_raw, keep)`, one row per input doc.
   */
  def countDiffScores(docs: DataFrame, model: DataFrame, dim: Int,
                      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val ft = featureTable(docs, dim, idCol, textCol)
    val sc = ft.join(broadcast(model), "f")
      .groupBy(col(idCol))
      .agg(sum(col("c") * col("diff")).cast("long").as("__raw"))
    docs.select(col(idCol))
      .join(sc, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("__raw"), lit(0L)).as("score_raw"),
        (coalesce(col("__raw"), lit(0L)) > 0L).as("keep"))
  }

  /** Persist a count-diff model: `dir/diff` = the `(f, diff)` table,
    * `dir/meta` = one row `(dim)`. The dim travels WITH the model — scoring
    * with a different hash-table size than training silently scrambles every
    * feature, so the pair is stored and loaded as a unit. */
  def saveCountDiffModel(model: DataFrame, dim: Int, dir: String): Unit = {
    val spark = model.sparkSession
    import spark.implicits._
    model.select(col("f"), col("diff")).write.mode("overwrite").parquet(s"$dir/diff")
    Seq(dim).toDF("dim").coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
  }

  /** Load a persisted count-diff model, asserting the layout. Returns
    * `(model, dim)` for [[countDiffScores]]. */
  def loadCountDiffModel(spark: org.apache.spark.sql.SparkSession,
                         dir: String): (DataFrame, Int) = {
    val model = spark.read.parquet(s"$dir/diff")
    require(model.columns.toSet == Set("f", "diff"),
      s"quality model $dir/diff must have (f, diff), got ${model.columns.mkString(",")}")
    val meta = spark.read.parquet(s"$dir/meta")
    require(meta.columns.toSet == Set("dim"),
      s"quality model $dir/meta must have (dim), got ${meta.columns.mkString(",")}")
    val dims = meta.select(col("dim").cast("int")).collect().map(_.getInt(0))
    require(dims.length == 1, s"quality model $dir/meta must hold exactly one row")
    (model, dims.head)
  }

  /**
   * Full-batch logistic-regression training over hashed features:
   * `steps` gradient steps at learning rate `lr` (per-doc-averaged
   * gradient, optional L2 at `l2`), weights and bias start at 0. Returns
   * the learned weight vector as `(weights[dim], bias)`. Each step runs
   * two relational aggregations; only the `<= dim+1`-double gradient ever
   * reaches the driver. The feature table is localCheckpoint-ed once —
   * it is consumed 2 x steps times, far past the recompute break-even.
   */
  def train(labeled: DataFrame, dim: Int, steps: Int, lr: Double,
            l2: Double = 0.0,
            idCol: String = "doc_id", textCol: String = "text",
            labelCol: String = "label"): (Array[Double], Double) = {
    require(steps >= 1, s"steps must be >= 1, got $steps")
    val spark = labeled.sparkSession
    val ft = featureTable(labeled, dim, idCol, textCol).localCheckpoint()
    val lbl = labeled.select(col(idCol), col(labelCol).cast("double").as("__y"))
      .localCheckpoint()
    val nDocs = labeled.count().toDouble
    val weights = Array.fill(dim)(0.0)
    var bias = 0.0
    for (_ <- 0 until steps) {
      val wdf = spark.createDataFrame(
        spark.sparkContext.parallelize(
          weights.toIndexedSeq.zipWithIndex.collect {
            case (w, f) if w != 0.0 => org.apache.spark.sql.Row(f, w)
          }, 1),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("f",
            org.apache.spark.sql.types.IntegerType, nullable = false),
          org.apache.spark.sql.types.StructField("w",
            org.apache.spark.sql.types.DoubleType, nullable = false))))
      // residual r = sigmoid(margin + bias) - y, one row per LABELED doc —
      // docs with no features still carry a residual (they drive the bias)
      val margins = ft.join(broadcast(wdf), Seq("f"), "left")
        .groupBy(col(idCol))
        .agg(sum(col("c") * coalesce(col("w"), lit(0.0))).as("__m"))
      val resid = lbl.join(margins, Seq(idCol), "left")
        .select(col(idCol),
          (lit(1.0) / (lit(1.0) + exp(-(coalesce(col("__m"), lit(0.0)) + bias)))
            - col("__y")).as("__r"))
      // per-feature gradient (doc-averaged) + bias gradient, one collect
      val grad = ft.join(resid, idCol)
        .groupBy(col("f"))
        .agg((sum(col("__r") * col("c")) / nDocs).as("g"))
        .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
      val biasGrad = resid.agg((sum(col("__r")) / nDocs).as("g"))
        .head().getDouble(0)
      var f = 0
      while (f < dim) {
        weights(f) -= lr * (grad.getOrElse(f, 0.0) + l2 * weights(f))
        f += 1
      }
      bias -= lr * biasGrad
    }
    (weights, bias)
  }

  /** Score docs with a trained FP model: `sigmoid(bias + sum c_f * w_f)`.
    * The weight vector rides in as a broadcast `(f, w)` table (zero slots
    * omitted); docs with no features score `sigmoid(bias)`. Output
    * `(idCol, score)`. */
  def scoreDocs(docs: DataFrame, weights: Array[Double], bias: Double,
                idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val dim = weights.length
    val wdf = weights.toIndexedSeq.zipWithIndex
      .collect { case (w, f) if w != 0.0 => (f, w) }.toDF("f", "w")
    val ft = featureTable(docs, dim, idCol, textCol)
    val sc = ft.join(broadcast(wdf), "f")
      .groupBy(col(idCol))
      .agg(sum(col("c") * col("w")).as("__m"))
    docs.select(col(idCol))
      .join(sc, Seq(idCol), "left")
      .select(col(idCol),
        (lit(1.0) / (lit(1.0) + exp(-(coalesce(col("__m"), lit(0.0)) + bias))))
          .as("score"))
  }
}
