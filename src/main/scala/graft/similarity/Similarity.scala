package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Portable

/**
 * Similarity search over an embedding column (`array<float>`) — the
 * approximate-nearest-neighbor layer of the training-data pipeline, over the
 * `embeddings`-shaped table `(vec_id, embedding, ...)`.
 *
 * Two paths:
 *  - [[bruteForceTopK]] — exact cosine top-k via a broadcast cross join.
 *    The correctness baseline; also the right plan whenever the query set is
 *    small (queries broadcast, corpus streamed — one narrow scan, no shuffle
 *    of the corpus, ranking via bounded-heap partial aggregation so the
 *    exchange carries at most k ids+sims per (partition, query)).
 *  - [[lshTopK]] — random-hyperplane LSH: 1-bit signatures from deterministic
 *    pseudo-hyperplanes, candidates = bucket-join on band keys, exact
 *    re-ranking only within candidates. At 100 TB the corpus is scanned once
 *    to produce (band_key, vec) rows; the join shuffles candidates only —
 *    corpus never crosses the network more than once, and bucket skew is
 *    AQE-handled.
 *
 * All similarity math is double-precision Column expressions
 * (`zip_with` + `aggregate`), codegen'd, no UDFs.
 */
object Similarity {

  /** Dot product of two array columns (double). Left-to-right fold — the
    * deterministic summation order makes results reproducible run-to-run. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity; 0 when either side has zero norm. Pure-Column HOF
    * form — portable, but the lambdas evaluate INTERPRETED per element; hot
    * paths use [[cosineNative]] (bit-identical, equivalence-tested). */
  def cosine(a: Column, b: Column): Column = {
    val denom = l2Norm(a) * l2Norm(b)
    when(denom === 0.0, 0.0).otherwise(dot(a, b) / denom)
  }

  /** [[cosine]] as the native codegen'd kernel
    * ([[org.apache.spark.sql.graft.CosineKernel]]): one static call per pair
    * with the same left-to-right fold order, zero-norm and null semantics.
    * Every similarity operator below uses this — the cosine IS the inner
    * loop of brute-force ANN and of candidate re-ranking. */
  def cosineNative(s: org.apache.spark.sql.SparkSession, a: Column, b: Column): Column = {
    org.apache.spark.sql.graft.NativeFunctions.register(s)
    call_function("cosine_sim", a, b)
  }

  /**
   * Exact top-k by cosine: for each query row, the k nearest corpus rows.
   * Queries are broadcast (small dimension); scoring is a single narrow scan
   * of the corpus, and ranking is a partial/final bounded-heap aggregation
   * ([[TopKBySim]]) — the exchange carries at most k (id, sim) rows per
   * (map partition, query), never the scored cross product and never the
   * vectors. Ranking is deterministic — rounded similarity desc, then corpus
   * id asc — so results are stable across partitionings and engines (ties at
   * full float precision are engine-dependent; rounding before ranking
   * removes that).
   */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     roundTo: Int = 4): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
    // NOTE: a Fanout.fanout of the corpus side was MEASURED SLOWER at sf0.1
    // (q_ann_topk 0.24 -> 0.34 s warm): the native cosine over the probe
    // corpus is ~10 ms of work — the extra exchange+stage cost more than
    // the parallelism bought. The serial-scan hazard is real only when the
    // per-row kernel work outweighs one stage (see semDedupPairs/pqEncode).
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id").cast("long").as("neighbor_id"),
        Portable.roundAt(cosineNative(queries.sparkSession, col("q_vec"), col("c_vec")), roundTo).as("sim"))
    TopKBySim.rank(scored, k)
  }

  /** Deterministic pseudo-hyperplane component for (plane, dim), computed
    * DRIVER-SIDE: a value in [-1, 1) derived from md5 of "plane<p>:<i>" —
    * reproducible everywhere, no RNG state. Same value the previous
    * expression form computed per row; hoisting it to a plan literal removes
    * nPlanes × dim md5 evaluations from EVERY corpus row. */
  def planeValue(plane: Int, i: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"plane$plane:$i".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.substring(0, 8)
    (java.lang.Long.parseLong(hex, 16).toDouble / (1L << 32).toDouble) * 2.0 - 1.0
  }

  /** Sign-bit signature of a `dim`-dimensional vector against `nPlanes`
    * pseudo-hyperplanes (embedded as plan literals — zero per-row hashing).
    * A vector whose length differs from `dim` is zero-padded/truncated: the
    * `coalesce` turns the nulls `zip_with` pads mismatched lengths with into
    * zero contributions instead of null-poisoning the whole projection (which
    * would give every mismatched vector the identical all-zero signature and
    * collapse LSH buckets). */
  def lshSignature(vec: Column, nPlanes: Int, dim: Int): Column =
    array((0 until nPlanes).map { p =>
      val plane = array((0 until dim).map(i => lit(planeValue(p, i))): _*)
      val proj = aggregate(
        zip_with(vec, plane, (x, w) => coalesce(x.cast("double") * w, lit(0.0))),
        lit(0.0), (acc, x) => acc + x)
      when(proj >= 0.0, 1).otherwise(0)
    }: _*)

  /** Band keys over the sign signature (same banding idea as MinHash-LSH):
    * vectors agreeing on all bits of any band become candidates. Pure-Column
    * form — hot paths use [[lshBandKeysNative]] (bit-identical,
    * equivalence-tested). */
  def lshBandKeys(vec: Column, nBands: Int, bitsPerBand: Int, dim: Int): Column = {
    val sig = lshSignature(vec, nBands * bitsPerBand, dim)
    transform(sequence(lit(0), lit(nBands - 1)),
      b => concat(lit("b"), b, lit(":"),
        array_join(slice(sig, b * bitsPerBand + 1, lit(bitsPerBand)), "")))
  }

  /** [[lshBandKeys]] as the native codegen'd kernel
    * ([[org.apache.spark.sql.graft.LshBandKernel]]): one static call per row
    * instead of nPlanes interpreted `aggregate(zip_with(...))` folds — the
    * scan-side cost of every LSH path. */
  def lshBandKeysNative(s: org.apache.spark.sql.SparkSession, vec: Column,
                        nBands: Int, bitsPerBand: Int, dim: Int): Column = {
    org.apache.spark.sql.graft.NativeFunctions.register(s)
    call_function("lsh_band_keys", vec, lit(nBands), lit(bitsPerBand), lit(dim))
  }

  /** Embedding dimensionality peeked from the first row (1 if empty — the
    * plans over an empty table produce no rows regardless). */
  private def dimOf(vecs: DataFrame, vecCol: String): Int = {
    val h = vecs.select(size(col(vecCol)).as("d")).head(1)
    if (h.isEmpty) 1 else h(0).getInt(0)
  }

  /**
   * Approximate top-k: candidates from LSH bucket collisions, exact cosine
   * re-rank within candidates. Recall < 1 by construction; increase
   * bands / lower bitsPerBand to raise it (measured against
   * [[bruteForceTopK]] in SimilaritySpec).
   */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              nBands: Int = 8, bitsPerBand: Int = 4,
              idCol: String = "vec_id", vecCol: String = "embedding",
              roundTo: Int = 4): DataFrame = {
    val dim = dimOf(corpus, vecCol)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"),
      explode(lshBandKeysNative(queries.sparkSession, col(vecCol), nBands, bitsPerBand, dim)).as("band_key"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"),
      explode(lshBandKeysNative(queries.sparkSession, col(vecCol), nBands, bitsPerBand, dim)).as("band_key"))
    // Score on the (narrow) bucket-join output, THEN dedup across colliding
    // bands on (ids, sim) only — the distinct exchange never carries vectors
    // (a pair's sim is identical in every band, so the 3-column distinct is
    // exact; the duplicate sim computation per extra band is narrow CPU).
    val scored = c.join(broadcast(q), Seq("band_key"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id").cast("long").as("neighbor_id"),
        Portable.roundAt(cosineNative(queries.sparkSession, col("q_vec"), col("c_vec")), roundTo).as("sim"))
      .distinct()
    TopKBySim.rank(scored, k)
  }

  /**
   * IVF (inverted-file) coarse quantizer: deterministic seed centroids (the
   * first `nCentroids` corpus rows by id) refined by `iterations` Lloyd
   * steps. Assignment is SHUFFLE-FREE: the centroids are collected (they are
   * broadcast-small by construction), unit-normalized driver-side, and
   * embedded as literal arrays; each corpus row computes its argmax dot
   * product in one narrow projection — `argmax_c cos(v, c) = argmax_c v·ĉ`,
   * so neither the corpus nor any expanded copy of it ever crosses an
   * exchange. Re-centering is a posexplode + per-(centroid, dim) average —
   * partially aggregated map-side, so its exchange carries only
   * nCentroids × dim rows per partition. Returns (centroids,
   * corpus-with-centroid_id).
   *
   * Scale shape: the corpus is scanned once per iteration and once for final
   * assignment, all narrow; the index table is the corpus bucketed by
   * `centroid_id` (at production scale: write partitioned by it, so probes
   * prune partitions).
   */
  /** (centroid_id, unit centroid) pairs sorted by id — ids stay explicit
    * because a Lloyd step can empty a centroid, leaving gaps. The collect is
    * broadcast-small by construction (nCentroids rows). */
  private def unitCentroids(c: DataFrame): Array[(Int, Array[Double])] =
    c.select(col("centroid_id"), col("centroid")).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
      .map { case (id, v) =>
        val n = math.sqrt(v.map(x => x * x).sum)
        (id, if (n == 0.0) v else v.map(_ / n))
      }

  /** Assign every row of `df` to its nearest centroid — SHUFFLE-FREE: the
    * unit centroids are embedded as literal arrays and each row computes its
    * argmax dot product in one narrow projection (`argmax_c cos(v, c) =
    * argmax_c v·ĉ`); ties go to the FIRST (lowest-id) centroid via
    * array_position — the same (csim desc, centroid_id asc) rule a windowed
    * form would use, without the window's full shuffle. */
  private def assignWithCentroids(df: DataFrame, centroids: DataFrame,
                                  vecCol: String): DataFrame = {
    val cents = unitCentroids(centroids)
    // single-literal embedding (round 7): the former array(array(lit...))
    // construction carried nCentroids·dim Literal leaves through every
    // analyzer/optimizer pass — at the √-rule's centroid counts that is a
    // plan-sized-by-data hazard; typedLit is ONE node with the same value
    val centLit = typedLit(cents.map { case (_, v) => v.toSeq }.toSeq)
    val idLit = typedLit(cents.map(_._1).toSeq)
    val dots = transform(centLit, cv =>
      aggregate(zip_with(col(vecCol), cv, (x, y) => x.cast("double") * y),
        lit(0.0), (acc, x) => acc + x))
    df
      .withColumn("__dots", dots)
      .withColumn("centroid_id",
        element_at(idLit,
          array_position(col("__dots"), array_max(col("__dots"))).cast("int")))
      .drop("__dots")
  }

  def ivfIndex(corpus: DataFrame, nCentroids: Int, iterations: Int = 1,
               idCol: String = "vec_id", vecCol: String = "embedding"): (DataFrame, DataFrame) = {
    var centroids = corpus.orderBy(col(idCol)).limit(nCentroids)
      .select(col(idCol).as("tmp_id"), col(vecCol).cast("array<double>").as("centroid"))
      .withColumn("centroid_id",
        row_number().over(Window.orderBy(col("tmp_id"))).cast("int") - 1)
      .select(col("centroid_id"), col("centroid"))

    def assign(c: DataFrame): DataFrame = assignWithCentroids(corpus, c, vecCol)

    var it = 0
    while (it < iterations) {
      val assigned = assign(centroids)
      centroids = assigned
        .select(col("centroid_id"), posexplode(col(vecCol)).as(Seq("dim", "x")))
        .groupBy(col("centroid_id"), col("dim"))
        .agg(avg(col("x")).as("m"))
        .groupBy(col("centroid_id"))
        .agg(transform(sort_array(collect_list(struct(col("dim"), col("m")))),
          s => s("m")).as("centroid"))
      it += 1
    }
    (centroids, assign(centroids))
  }

  /** IVF approximate top-k: probe the `nProbes` nearest centroids per query,
    * exact cosine re-rank within the probed buckets only. */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              nCentroids: Int = 16, nProbes: Int = 2, iterations: Int = 1,
              idCol: String = "vec_id", vecCol: String = "embedding",
              roundTo: Int = 4): DataFrame = {
    val (centroids, assigned) = ivfIndex(corpus, nCentroids, iterations, idCol, vecCol)
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("csim").desc, col("centroid_id").asc)
    val probes = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
      .join(broadcast(centroids), lit(true))
      .withColumn("csim", cosineNative(queries.sparkSession, col("q_vec"), col("centroid")))
      .withColumn("crank", row_number().over(wProbe))
      .filter(col("crank") <= nProbes)
      .select(col("query_id"), col("q_vec"), col("centroid_id"))
    val scored = assigned
      .select(col("centroid_id"), col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"))
      .join(broadcast(probes), Seq("centroid_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id").cast("long").as("neighbor_id"),
        Portable.roundAt(cosineNative(queries.sparkSession, col("q_vec"), col("c_vec")), roundTo).as("sim"))
    TopKBySim.rank(scored, k)
  }

  /**
   * Embedding-cosine near-duplicate pairs within one table: all (a < b) pairs
   * with rounded cosine ≥ threshold. Exact all-pairs form for bounded inputs;
   * the scale path is the same predicate over [[lshTopK]]-style candidates.
   */
  def cosineNearDupPairs(vecs: DataFrame, threshold: Double,
                         idCol: String = "vec_id", vecCol: String = "embedding",
                         roundTo: Int = 4): DataFrame = {
    val a = vecs.select(col(idCol).as("id_a"), col(vecCol).as("vec_a"))
    val b = vecs.select(col(idCol).as("id_b"), col(vecCol).as("vec_b"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("sim", Portable.roundAt(cosineNative(vecs.sparkSession, col("vec_a"), col("vec_b")), roundTo))
      .filter(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), col("sim"))
  }

  /**
   * Scale path of [[cosineNearDupPairs]]: candidate pairs from
   * random-hyperplane LSH bucket collisions, exact cosine + threshold
   * verification on the candidates only — the all-pairs O(n²) space never
   * materializes. The corpus crosses the network once as (band_key, id, vec)
   * rows; the post-verification dedup runs on (ids, sim) with no vectors.
   * Recall < 1 by construction (high-similarity pairs collide with
   * probability 1-(1-(1-θ/π)^bits)^bands); raise `nBands` to increase it —
   * measured against the exact form in SimilaritySpec.
   */
  def cosineNearDupPairsApprox(vecs: DataFrame, threshold: Double,
                               nBands: Int = 8, bitsPerBand: Int = 4,
                               idCol: String = "vec_id", vecCol: String = "embedding",
                               roundTo: Int = 4): DataFrame = {
    val banded = vecs.select(col(idCol), col(vecCol),
      explode(lshBandKeysNative(vecs.sparkSession, col(vecCol),
        nBands, bitsPerBand, dimOf(vecs, vecCol))).as("band_key"))
    val a = banded.select(col("band_key"), col(idCol).as("id_a"), col(vecCol).as("vec_a"))
    val b = banded.select(col("band_key"), col(idCol).as("id_b"), col(vecCol).as("vec_b"))
    a.join(b, Seq("band_key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        Portable.roundAt(cosineNative(vecs.sparkSession, col("vec_a"), col("vec_b")), roundTo).as("sim"))
      .filter(col("sim") >= threshold)
      .distinct()
  }

  // ---- persisted IVF index (the production ANN path) ----

  /**
   * Write the IVF index to `dir`: the assigned corpus PARTITIONED BY
   * `centroid_id` (each centroid is its own parquet directory, so a probe
   * reads only the probed partitions — partition pruning, not a full scan)
   * plus the small centroid table. This is the structure that makes IVF pay
   * off at 100 TB: query cost scales with `nProbes / nCentroids` of the
   * corpus bytes, enforced by the storage layout rather than a filter the
   * scan might not push.
   */
  def ivfWrite(corpus: DataFrame, dir: String, nCentroids: Int = 16,
               iterations: Int = 1,
               idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val (centroids, assigned) = ivfIndex(corpus, nCentroids, iterations, idCol, vecCol)
    assigned.write.mode("overwrite").partitionBy("centroid_id").parquet(s"$dir/corpus")
    centroids.write.mode("overwrite").parquet(s"$dir/centroids")
  }

  /**
   * Incrementally append a batch to a persisted IVF index: the batch is
   * assigned against the EXISTING centroid table (one broadcast-small read +
   * one shuffle-free narrow scan of the batch — no re-clustering, no touch
   * of the already-indexed corpus) and appended into the
   * `centroid_id`-partitioned corpus directory, where subsequent probes see
   * it through the same partition pruning. This is the production ingest
   * path: index cost per batch is O(batch), not O(corpus).
   *
   * WHEN TO REBUILD instead of append: assignment quality assumes the
   * centroids still describe the data. Rebuild ([[ivfWrite]]) when the
   * embedding distribution drifts — operationally, when the fraction of new
   * vectors landing in one centroid grows far beyond `1/nCentroids`
   * (skewing partition sizes and probe cost), or the mean batch-to-assigned-
   * centroid similarity trends down across appends. Centroids are
   * immutable between rebuilds by design: moving them would invalidate the
   * partition layout of everything already written.
   */
  def ivfAppend(newBatch: DataFrame, dir: String,
                idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val centroids = newBatch.sparkSession.read.parquet(s"$dir/centroids")
    assignWithCentroids(newBatch, centroids, vecCol)
      .write.mode("append").partitionBy("centroid_id").parquet(s"$dir/corpus")
  }

  /**
   * Top-k over a persisted IVF index: rank centroids per query from the
   * broadcast centroid table, collect the UNION of probed centroid ids
   * (metadata-scale — at most `nCentroids` values, never corpus rows), and
   * read only those partitions of the indexed corpus. The partition filter
   * is visible in the plan as `PartitionFilters: [centroid_id IN ...]`
   * (asserted in SimilaritySpec).
   */
  def ivfTopKFromIndex(queries: DataFrame, dir: String, k: Int,
                       nProbes: Int = 2,
                       idCol: String = "vec_id", vecCol: String = "embedding",
                       roundTo: Int = 4): DataFrame = {
    val spark = queries.sparkSession
    val centroids = spark.read.parquet(s"$dir/centroids")
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("csim").desc, col("centroid_id").asc)
    // localCheckpoint: the probe subplan (query scan × centroids + window)
    // is consumed TWICE — once for the probed-id collect, once inside the
    // scored join — and would otherwise be evaluated twice
    val probes = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
      .join(broadcast(centroids), lit(true))
      .withColumn("csim", cosineNative(spark, col("q_vec"), col("centroid")))
      .withColumn("crank", row_number().over(wProbe))
      .filter(col("crank") <= nProbes)
      .select(col("query_id"), col("q_vec"), col("centroid_id"))
      .localCheckpoint(true)
    // union of probed centroids: bounded by nCentroids (metadata, not data)
    val probedIds = probes.select(col("centroid_id")).distinct()
      .collect().map(_.get(0).toString.toInt).toSeq
    val indexed = spark.read.parquet(s"$dir/corpus")
      .filter(col("centroid_id").isin(probedIds: _*))
    val scored = indexed
      .select(col("centroid_id").cast("int").as("centroid_id"),
        col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"))
      .join(broadcast(probes), Seq("centroid_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id").cast("long").as("neighbor_id"),
        Portable.roundAt(cosineNative(spark, col("q_vec"), col("c_vec")), roundTo).as("sim"))
    TopKBySim.rank(scored, k)
  }

  // ---- SemDeDup: cluster-scoped semantic dedup ----

  /**
   * SemDeDup pairs (Abbas et al. 2023, "SemDeDup: Data-efficient learning
   * at web-scale through semantic deduplication"): semantic near-duplicate
   * pairs, CLUSTER-SCOPED — the IVF coarse quantizer ([[ivfIndex]]) assigns
   * every embedding to a centroid and only WITHIN-cluster pairs pay the
   * exact cosine, the paper's move that makes all-pairs semantic dedup
   * tractable at web scale (pair volume is Σ cluster² instead of corpus²;
   * semantic duplicates land in the same cluster by construction, so
   * in-cluster recall is the operating assumption — a near-dup pair split
   * across a cluster boundary is deliberately not flagged, the documented
   * recall trade, same family as the LSH candidate gap). Output
   * `(id_a, id_b, centroid_id, sim)` with id_a < id_b and sim ≥ threshold.
   *
   * Scale shape: assignment is shuffle-free (centroid literals); the pair
   * join shuffles (centroid_id, id, vec) once and is bounded per cluster.
   * `iterations = 0` keeps the deterministic seed centroids (the
   * oracle-restatable form); production raises it for tighter clusters.
   *
   * CLUSTER SIZING is the load-bearing knob: pair volume is Σ clusterᵢ², so
   * `nCentroids` must GROW with the corpus — the paper runs ~100k clusters
   * on web scale. `nCentroids = 0` (the default) applies the √-rule
   * [[autoCentroids]]: ⌈√(n/2)⌉ centroids ⇒ expected cluster size ≈ √(2n)
   * and expected pair volume ≈ O(n^1.5) instead of n² (at n = 2·10¹⁰
   * embeddings that is ~10⁵ centroids — the paper's operating point). A
   * skewed hot cluster still pays its own square — that residual skew is
   * what AQE skew-join splitting absorbs at run time (spec-asserted
   * correct under a 50%-hot-cluster fixture in SimilaritySpec).
   */
  def semDedupPairs(vecs: DataFrame, threshold: Double,
                    nCentroids: Int = 0, iterations: Int = 0,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    roundTo: Int = 4): DataFrame =
    semDedupPairsImpl(vecs, threshold, nCentroids, iterations, idCol, vecCol,
      roundTo, fan = true)

  /** `fan = true` conditionally fans the scan out before the shuffle-free
    * assign (no-op at scale; measured q_semdedup_pairs 0.71 → 0.48 s warm
    * at sf0.1). [[semDedup]] passes `fan = false`: its CC gate executes the
    * pairs plan TWICE (bounded-edge count + edge collect), and the fanned
    * plan measured SLOWER there (q_semdedup 1.10 → 1.55 s warm) — the
    * exchange is paid per execution while the single-scan parallelism win
    * is not. */
  private def semDedupPairsImpl(vecs: DataFrame, threshold: Double,
                                nCentroids: Int, iterations: Int,
                                idCol: String, vecCol: String,
                                roundTo: Int, fan: Boolean): DataFrame = {
    val nc = if (nCentroids > 0) nCentroids else autoCentroids(vecs.count())
    val in = if (fan) graft.pipeline.Fanout.fanout(vecs, col(idCol)) else vecs
    val (_, assigned) = ivfIndex(in, nc, iterations, idCol, vecCol)
    val a = assigned.select(col("centroid_id"), col(idCol).as("id_a"), col(vecCol).as("vec_a"))
    val b = assigned.select(col("centroid_id"), col(idCol).as("id_b"), col(vecCol).as("vec_b"))
    a.join(b, Seq("centroid_id"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("sim",
        Portable.roundAt(cosineNative(vecs.sparkSession, col("vec_a"), col("vec_b")), roundTo))
      .filter(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"),
        col("centroid_id").cast("long").as("centroid_id"), col("sim"))
  }

  /**
   * The SemDeDup ACTION: ids that survive collapsing every connected
   * semantic-duplicate group (within-cluster cosine ≥ threshold, transitive
   * closure) to its min-id representative — the embedding-space sibling of
   * `Dedup.dedupNearCC`'s survivor rule. Returns the surviving `idCol` rows.
   */
  /** The SemDeDup √-rule: ⌈√(n/2)⌉ clusters (the k-means rule of thumb),
    * clamped to [1, 2¹⁷]. Keeps expected within-cluster pair volume
    * ~O(n^1.5); at web scale (n ≈ 10¹⁰) it lands at the SemDeDup paper's
    * ~10⁵ clusters. Costs one `count()` when applied implicitly. */
  def autoCentroids(n: Long): Int =
    math.max(1L, math.min(1L << 17, math.ceil(math.sqrt(n / 2.0)).toLong)).toInt

  def semDedup(vecs: DataFrame, threshold: Double,
               nCentroids: Int = 0, iterations: Int = 0,
               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val pairs = semDedupPairsImpl(vecs, threshold, nCentroids, iterations,
        idCol, vecCol, roundTo = 4, fan = false)
      .select(col("id_a"), col("id_b"))
    val losers = graft.dedup.ConnectedComponents.run(pairs, "id_a", "id_b")
      .filter(col("id") =!= col("component"))
      .select(col("id").as(idCol))
    vecs.join(losers, Seq(idCol), "left_anti").select(col(idCol))
  }
}
