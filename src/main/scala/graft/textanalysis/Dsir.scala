package graft.textanalysis

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Portable
import graft.pipeline.Sampling

/**
 * DSIR — Data Selection via Importance Resampling (Xie et al., NeurIPS
 * 2023): select raw-corpus documents whose hashed-n-gram distribution looks
 * like a trusted TARGET corpus, by importance weighting between two
 * bag-of-ngrams models. Completes the engine's quality-filter family:
 * heuristic rules (Gopher), discriminative classifier (QualityClassifier),
 * LM perplexity (LmScore), and now distribution matching — the paper's
 * point being that a classifier gate keeps "high quality by vote" docs
 * while importance RESAMPLING reproduces the target's distribution
 * (diversity included) instead of piling up near-duplicates of its mode.
 *
 * Method:
 *
 *  1. features = hashed unigram+bigram counts (feature hashing into `dim`
 *     slots, the [[QualityClassifier.featureId]] 16-bit-md5 family — the
 *     paper's 10k-bucket hashed n-grams);
 *  2. two multinomial bucket models, target p̂ and raw q̂, each add-α
 *     smoothed: `p_f = (c_f + α) / (N + α·dim)`;
 *  3. per raw doc, log importance weight
 *     `log w(x) = Σ_f c_f(x) · (ln p_f − ln q_f)`;
 *  4. sample k docs WITHOUT replacement with probability ∝ w(x) via the
 *     Gumbel top-k trick: `key = log w + Gumbel(0,1)`, take the k largest.
 *     The Gumbel draw is DETERMINISTIC per row (inverse-CDF of the
 *     [[Sampling.gate16]] md5 uniform), so the selected set is reproducible
 *     across runs, partitionings, and engines — the same discipline as
 *     every other sampler here.
 *
 * Scale shape: text reduces to `(id, f, c)` triples scan-side and never
 * shuffles; both models are `<= dim` rows and broadcast; totals arrive via
 * `crossJoin(broadcast(1-row agg))` (no driver action); the top-k is
 * `orderBy.limit` = TakeOrderedAndProject (per-partition heaps + driver
 * merge of k rows, no global sort shuffle). The per-doc fold adds the
 * log-ratio terms IN FEATURE-ID ORDER (sorted collect + `aggregate`, the
 * q_lm_score discipline) so the FP sum is partition-order-independent —
 * bounded by a doc's distinct feature count, with plain `sum()` as the
 * documented 100 TB relaxation.
 *
 * FP/oracle note: α defaults to 0.5 so `α` and `α·dim` are exact dyadic
 * doubles; the oracle (`q_dsir`) mirrors the exact op order (quotient
 * inside `ln`, subtract, multiply by the integer count, ordered fold) and
 * compares at [[Portable.round4]].
 */
object Dsir {

  val DefaultAlpha = 0.5

  /** Hashed unigram+bigram counts of the normalized text: `(idCol, f, c)` —
    * one tokenize, one explode over the concatenated gram array, one hash
    * agg; empty docs yield no rows. Unigrams never contain a space, so the
    * two gram orders collide only by hash (which is the point of hashing).
    * The token array is bound once via `let` — inlining it would re-run the
    * tokenizer per gram inside the HOF lambda. */
  def featureTable(docs: DataFrame, dim: Int,
                   idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(dim >= 2 && dim <= 65536, s"dim out of [2, 65536]: $dim")
    // round 7: gram construction + 16-bit-md5 feature hashing in ONE
    // codegen'd kernel call per row instead of the interpreted gram-array
    // HOF followed by a per-gram md5 expression chain; second pass: the
    // (id, f) groups never cross documents, so the count also happens
    // inside the kernel (`hashed_gram_counts`) and the explode emits the
    // aggregated (f, c) rows directly — no corpus-wide (id, f) Exchange
    // (same row set; equivalence spec in DsirSpec, witness form at
    // [[featureTableColumns]])
    org.apache.spark.sql.graft.NativeFunctions.register(docs.sparkSession)
    docs.select(col(idCol), explode(call_function("hashed_gram_counts",
        col(textCol), lit(dim), lit(2))).as("__fc"))
      .select(col(idCol), col("__fc.f").as("f"), col("__fc.c").as("c"))
  }

  /** Pure-Column witness of [[featureTable]] (the pre-kernel form). */
  private[graft] def featureTableColumns(docs: DataFrame, dim: Int,
                                                idCol: String = "doc_id",
                                                textCol: String = "text"): DataFrame = {
    val toks = filter(graft.dedup.Dedup.tokens(col(textCol)), t => length(t) > 0)
    val grams = graft.dedup.Dedup.let(toks) { t =>
      concat(t,
        when(size(t) >= 2,
          transform(sequence(lit(0), size(t) - 2),
            i => concat_ws(" ", element_at(t, i + 1), element_at(t, i + 2))))
          .otherwise(array().cast("array<string>")))
    }
    docs.select(col(idCol), explode(grams).as("gram"))
      .groupBy(col(idCol), QualityClassifier.featureId(col("gram"), dim).as("f"))
      .agg(count(lit(1)).as("c"))
  }

  /** Per-bucket feature totals of a corpus: `(f, c)`, `<= dim` rows — the
    * persisted form of a DSIR bag-of-ngrams model. */
  def bucketCounts(docs: DataFrame, dim: Int,
                   idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    featureTable(docs, dim, idCol, textCol)
      .groupBy(col("f")).agg(sum(col("c")).cast("long").as("c"))

  /**
   * Per-doc log importance weight of every `raw` doc against a TARGET
   * bucket-count table (`(f, c)` as produced by [[bucketCounts]] /
   * [[loadModel]]): `(idCol, n_feats, logw)`, one row per input doc. The
   * raw-side model q̂ is self-trained from `raw` itself (the paper's
   * setup: q is the distribution the data actually comes from). Docs with
   * no tokens carry no evidence and get `logw = 0` (weight 1) — they
   * compete in [[resample]] on Gumbel noise alone.
   */
  def importanceWeights(raw: DataFrame, targetCounts: DataFrame, dim: Int,
                        alpha: Double = DefaultAlpha,
                        idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame = {
    require(alpha > 0.0, s"add-alpha smoothing needs alpha > 0, got $alpha")
    // ft feeds the raw-model agg AND the term join, so the plan rebuilds
    // the tokenize→gram-explode→hash-agg chain once per consumer. An
    // explicit localCheckpoint of ft was MEASURED SLOWER at sf0.1 (q_dsir
    // 2.22 → 2.96 s best-of-3, tools/QueryProbe): unlike LmScore's token
    // arrays, the (id, f, c) surface is ~docs × distinct-features rows and
    // materializing it costs more than the narrow codegen'd rebuild —
    // recompute is the measured trade (see measure-before-materialize)
    val ft = featureTable(raw, dim, idCol, textCol)
    val p = targetCounts.select(col("f"), col("c").cast("long").as("__cp"))
    val q = ft.groupBy(col("f")).agg(sum(col("c")).cast("long").as("__cq"))
    val totals = p.agg(sum(col("__cp")).cast("long").as("__np"))
      .crossJoin(q.agg(sum(col("__cq")).cast("long").as("__nq")))
    val ad = lit(alpha * dim)
    val terms = ft
      .join(broadcast(p), Seq("f"), "left")
      .join(broadcast(q), Seq("f"), "left")
      .crossJoin(broadcast(totals))
      .withColumn("__term", col("c") * (
        log((coalesce(col("__cp"), lit(0L)).cast("double") + alpha) /
            (col("__np").cast("double") + ad)) -
        log((coalesce(col("__cq"), lit(0L)).cast("double") + alpha) /
            (col("__nq").cast("double") + ad))))
    val w = terms.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_feats"),
        aggregate(
          transform(array_sort(collect_list(struct(col("f"), col("__term")))),
            x => x("__term")),
          lit(0.0), (a, x) => a + x).as("logw"))
    raw.select(col(idCol)).join(w, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_feats"), lit(0L)).as("n_feats"),
        coalesce(col("logw"), lit(0.0)).as("logw"))
  }

  /** [[importanceWeights]] with the target model trained in the same run
    * from a target-corpus DataFrame. */
  def importanceWeightsFrom(raw: DataFrame, target: DataFrame, dim: Int,
                            alpha: Double = DefaultAlpha,
                            idCol: String = "doc_id",
                            textCol: String = "text"): DataFrame =
    importanceWeights(raw, bucketCounts(target, dim, idCol, textCol),
      dim, alpha, idCol, textCol)

  /** Deterministic per-row Gumbel(0,1) draw + log-weight = the Gumbel
    * top-k sampling key. `u = (gate16(id) + 0.5) / 65536` is strictly
    * inside (0,1) at both grid ends, so `-ln(-ln u)` is always finite
    * (range ≈ [-2.47, 11.78] on the 16-bit grid). */
  def gumbelKey(logw: Column, id: Column): Column =
    logw + -log(-log((Sampling.gate16(id).cast("double") + 0.5d) / 65536.0d))

  /**
   * Gumbel top-k importance resampling: the k raw docs sampled without
   * replacement with probability ∝ exp(logw), as
   * `(idCol, logw, gumbel_key)` — both values [[Portable.round4]]-rounded,
   * selection ordered by `(gumbel_key DESC, idCol)` ON THE ROUNDED key so
   * the boundary is engine-portable (ties broken by id).
   */
  def resample(raw: DataFrame, targetCounts: DataFrame, k: Int, dim: Int,
               alpha: Double = DefaultAlpha,
               idCol: String = "doc_id",
               textCol: String = "text"): DataFrame = {
    require(k >= 1, s"resample size k must be >= 1, got $k")
    importanceWeights(raw, targetCounts, dim, alpha, idCol, textCol)
      .select(col(idCol), Portable.round4(col("logw")).as("logw"),
        Portable.round4(gumbelKey(col("logw"), col(idCol))).as("gumbel_key"))
      .orderBy(col("gumbel_key").desc, col(idCol))
      .limit(k)
  }

  /** Persist a target model: `dir/counts` = the `(f, c)` bucket table,
    * `dir/meta` = one row `(dim)` — the dim travels WITH the model (the
    * [[QualityClassifier.saveCountDiffModel]] rule: scoring with a
    * different hash-table size silently scrambles every feature). */
  def saveModel(target: DataFrame, dim: Int, dir: String,
                idCol: String = "doc_id", textCol: String = "text"): Unit = {
    val spark = target.sparkSession
    import spark.implicits._
    bucketCounts(target, dim, idCol, textCol)
      .write.mode("overwrite").parquet(s"$dir/counts")
    Seq(dim).toDF("dim").coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
  }

  /** Load a persisted target model, asserting the layout. Returns
    * `(counts, dim)` for [[importanceWeights]] / [[resample]]. */
  def loadModel(spark: SparkSession, dir: String): (DataFrame, Int) = {
    val counts = spark.read.parquet(s"$dir/counts")
    require(counts.columns.toSet == Set("f", "c"),
      s"DSIR model $dir/counts must have (f, c), got ${counts.columns.mkString(",")}")
    val meta = spark.read.parquet(s"$dir/meta")
    require(meta.columns.toSet == Set("dim"),
      s"DSIR model $dir/meta must have (dim), got ${meta.columns.mkString(",")}")
    val dims = meta.select(col("dim").cast("int")).collect().map(_.getInt(0))
    require(dims.length == 1, s"DSIR model $dir/meta must hold exactly one row")
    (counts, dims.head)
  }
}
