package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Portable

/**
 * Product quantization (PQ) for embedding vectors — Jégou, Douze, Schmid,
 * "Product Quantization for Nearest Neighbor Search" (TPAMI 2011): split
 * each D-dim vector into `m` contiguous subvectors, learn a `ksub`-centroid
 * codebook PER SUBSPACE (k-means), and store each vector as `m` byte codes
 * — D·4 bytes → m bytes (e.g. 64-dim float32 → 8 bytes at m=8), the
 * compression regime BEYOND [[Quantize]]'s SQ8 (4×): effective codebook
 * size ksub^m with only m·ksub stored centroids. Search is ADC (asymmetric
 * distance computation): the query stays FLOAT, one `m × ksub` lookup
 * table of partial dot products per query, and each corpus vector scores
 * as `Σ_j lut[j][code_j]` = `q · reconstruct(x)` — the IVF-PQ recipe of
 * billion-scale ANN systems, re-expressed relationally.
 *
 * Scale shape: codebooks are `m · ksub` rows — driver-small by construction
 * (the unitCentroids discipline of [[Similarity.ivfIndex]]) and embedded as
 * LITERAL arrays, so encode and ADC scoring are SHUFFLE-FREE narrow
 * projections over the corpus scan; training is `iterations` relational
 * passes, each one hash agg keyed by (subspace, code, dim) — ALL m
 * subspaces train in the same pass, not m jobs; ranking is the bounded-heap
 * [[TopKBySim]] partial aggregation (≤ k rows per map partition per
 * query). At 100 TB the corpus-side table is (id, m bytes) — the entire
 * point: a brute-force ADC rescan is ~D·4/m times less scan bandwidth than
 * the float corpus.
 *
 * Determinism/oracle: seeding takes the FIRST `ksub` vectors in `idCol`
 * order (codes 0..ksub-1); assignment is argmin L2² with ties to the
 * LOWEST code; a Lloyd step that empties a code KEEPS the previous
 * centroid (dense codebooks — codes stay valid array indices, no gaps);
 * per-row folds (L2², dots, the Σ_j over subspaces) run in fixed index
 * order, so results are bit-identical across partitionings, and the
 * `iterations = 0` form is restated verbatim in DuckDB (`q_pq_topk`).
 */
object Pq {

  /** Subvector slices of a vector column: `array<array<double>>`, outer
    * index = subspace 0..m-1. Requires `dim % m == 0` per row (checked at
    * the API entry against the first vector, and null-safe per row). */
  private def subvecs(vec: Column, m: Int, subDim: Int): Column =
    transform(sequence(lit(0), lit(m - 1)),
      j => transform(slice(vec, j * subDim + 1, lit(subDim)), x => x.cast("double")))

  private def vecDim(emb: DataFrame, vecCol: String): Int = {
    val row = emb.select(size(col(vecCol)).as("d")).limit(1).collect()
    require(row.nonEmpty, "PQ needs a non-empty vector table")
    row.head.getInt(0)
  }

  /** Driver-side codebook image: `cb(j)(code) = centroid` — `m · ksub`
    * entries, broadcast-small by construction. */
  private def collectCodebooks(codebooks: DataFrame, m: Int, ksub: Int): Array[Array[Array[Double]]] = {
    val cb = Array.ofDim[Array[Double]](m, ksub)
    codebooks.select(col("m"), col("code"), col("centroid")).collect().foreach { r =>
      cb(r.getInt(0))(r.getInt(1)) = r.getSeq[Double](2).toArray
    }
    for (j <- 0 until m; c <- 0 until ksub)
      require(cb(j)(c) != null, s"codebook hole at subspace $j code $c — dense (m, code) grid required")
    cb
  }

  /**
   * Train per-subspace codebooks: `(m, code, centroid: array<double>)`,
   * dense over `m × ksub`. Seed = the first `ksub` vectors in `idCol`
   * order, sliced per subspace; then `iterations` Lloyd steps — each step
   * assigns every (vector, subspace) to its nearest code (scan-side, the
   * codebooks ride as literals) and re-centers every non-empty (subspace,
   * code) cell in ONE aggregation keyed by (m, code, dim); emptied cells
   * keep their previous centroid.
   */
  def pqTrain(emb: DataFrame, m: Int, ksub: Int, iterations: Int = 1,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(m >= 1 && ksub >= 1 && ksub <= 127, s"need 1 <= ksub <= 127 (byte codes), got m=$m ksub=$ksub")
    require(iterations >= 0, s"iterations must be >= 0, got $iterations")
    val d = vecDim(emb, vecCol)
    require(d % m == 0, s"vector dim $d must divide into m=$m subspaces")
    val subDim = d / m
    val spark = emb.sparkSession

    var codebooks = emb.orderBy(col(idCol)).limit(ksub)
      .withColumn("code",
        (row_number().over(Window.orderBy(col(idCol))) - 1).cast("int"))
      .select(col("code"), posexplode(subvecs(col(vecCol), m, subDim)).as(Seq("m", "centroid")))
      .select(col("m").cast("int").as("m"), col("code"), col("centroid"))

    var it = 0
    while (it < iterations) {
      val assigned = encodeExploded(emb, codebooks, m, ksub, subDim, idCol, vecCol)
      val means = assigned
        .select(col("m"), col("code"), posexplode(col("sub")).as(Seq("dim", "x")))
        .groupBy(col("m"), col("code"), col("dim"))
        .agg(avg(col("x")).as("mu"))
        .groupBy(col("m"), col("code"))
        .agg(transform(sort_array(collect_list(struct(col("dim"), col("mu")))),
          s => s("mu")).as("new_centroid"))
      // dense re-center: emptied (m, code) cells keep the previous centroid
      // so codes remain valid array indices everywhere downstream
      codebooks = codebooks.join(means, Seq("m", "code"), "left")
        .select(col("m"), col("code"),
          coalesce(col("new_centroid"), col("centroid")).as("centroid"))
        .localCheckpoint() // truncate the per-iteration lineage (tiny table)
      it += 1
    }
    // iterations = 0 returns the raw seed plan otherwise, and every
    // consumer collects the codebook table (encode, scoring, decode) —
    // materialize the m·ksub rows once instead of re-running the
    // seed window+explode per collect (round 7; the >0 path is already
    // checkpointed by its last iteration)
    if (iterations == 0) codebooks.localCheckpoint() else codebooks
  }

  /** Per-(vector, subspace) assignment rows `(idCol, m, code, sub)` —
    * the shared kernel of the Lloyd step and [[pqEncode]]. Scan-side: the
    * codebook rides as a literal nested array; argmin L2² per subspace in
    * one fixed-order fold, ties to the lowest code. */
  /** Codebook image as ONE nested-array literal — a single plan node.
    * The former `array(array(array(lit...)))` construction built
    * m·ksub·subDim Literal leaves plus every CreateArray above them
    * (~1,000 expression nodes at the default 8×16×8), which the analyzer
    * and optimizer walked on every rule pass — measured as the dominant
    * cold cost of the PQ queries (round 7). Values identical (constant
    * folding produced this same Literal eventually; now it starts as one). */
  private def cbLiteral(cb: Array[Array[Array[Double]]]): Column =
    typedLit(cb.map(_.map(_.toSeq).toSeq).toSeq)

  private def encodeExploded(emb: DataFrame, codebooks: DataFrame,
                             m: Int, ksub: Int, subDim: Int,
                             idCol: String, vecCol: String): DataFrame = {
    val cb = collectCodebooks(codebooks, m, ksub)
    val cbLit = cbLiteral(cb)
    emb
      .select(col(idCol), posexplode(subvecs(col(vecCol), m, subDim)).as(Seq("m", "sub")))
      .withColumn("__d2s",
        graft.dedup.Dedup.let(element_at(cbLit, col("m") + 1)) { cents =>
          transform(cents, c =>
            aggregate(zip_with(col("sub"), c, (x, y) => (x - y) * (x - y)),
              lit(0.0), (acc, x) => acc + x))
        })
      .withColumn("code",
        (array_position(col("__d2s"), array_min(col("__d2s"))) - 1).cast("int"))
      .select(col(idCol), col("m").cast("int").as("m"), col("code"), col("sub"))
  }

  /** PQ codes of every vector: `(idCol, codes: array<tinyint>)` with
    * `codes(j)` = the nearest codebook entry of subspace j. One narrow
    * scan — the stored form: m bytes per vector. Round 7 second pass: the
    * `pq_encode` kernel computes the whole code array per row (codebook as
    * one flat literal), replacing the posexplode → interpreted argmin →
    * groupBy(id) sorted-collect chain — the per-row HOF folds AND the
    * corpus-wide regroup Exchange (witness: [[pqEncodeGrouped]],
    * equivalence spec in PqSpec; a null vector keeps its row as m null
    * codes via the coalesce, exactly the witness's
    * posexplode-of-null-slices shape). */
  def pqEncode(emb: DataFrame, codebooks: DataFrame, m: Int, ksub: Int,
               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val d = vecDim(emb, vecCol)
    require(d % m == 0, s"vector dim $d must divide into m=$m subspaces")
    org.apache.spark.sql.graft.NativeFunctions.register(emb.sparkSession)
    val cb = collectCodebooks(codebooks, m, ksub)
    val cbFlat = typedLit(cb.flatten.flatten.toSeq)
    val mNulls = typedLit(Seq.fill[Option[Byte]](m)(None))
    graft.pipeline.Fanout.fanout(emb, col(idCol))
      .select(col(idCol), coalesce(
        call_function("pq_encode",
          col(vecCol).cast("array<double>"), cbFlat, lit(m), lit(ksub)),
        mNulls).as("codes"))
  }

  /** The exploded + regrouped restatement of [[pqEncode]] (the pre-kernel
    * shape) — kept as the equivalence witness. */
  private[graft] def pqEncodeGrouped(emb: DataFrame, codebooks: DataFrame, m: Int, ksub: Int,
                                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val d = vecDim(emb, vecCol)
    require(d % m == 0, s"vector dim $d must divide into m=$m subspaces")
    encodeExploded(emb, codebooks, m, ksub, d / m, idCol, vecCol)
      .groupBy(col(idCol))
      .agg(transform(sort_array(collect_list(struct(col("m"), col("code")))),
        s => s("code").cast("byte")).as("codes"))
  }

  /** Reconstruction `x̂` from codes: `(idCol, vec_hat: array<double>)` —
    * the concatenated codebook centroids the codes name. */
  def pqDecode(codes: DataFrame, codebooks: DataFrame, m: Int, ksub: Int,
               idCol: String = "vec_id"): DataFrame = {
    val cb = collectCodebooks(codebooks, m, ksub)
    val cbLit = cbLiteral(cb)
    codes.select(col(idCol),
      flatten(transform(col("codes"),
        (code, j) => element_at(element_at(cbLit, j + 1), code.cast("int") + 1)))
        .as("vec_hat"))
  }

  /** Per-query ADC lookup tables `(query_id, __lut, __qn)`:
    * `__lut[(j·ksub)+c+1] = q_sub_j · cb[j][c]` (partial dots, flat layout)
    * and the query norm — one narrow pass over the queries; the codebooks
    * ride as literals. */
  private def queryLuts(queries: DataFrame, cb: Array[Array[Array[Double]]],
                        m: Int, subDim: Int,
                        idCol: String, vecCol: String): DataFrame = {
    val cbLit = cbLiteral(cb)
    queries
      .select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
      .withColumn("__lut",
        graft.dedup.Dedup.let(subvecs(col("__qv"), m, subDim)) { qs =>
          flatten(transform(cbLit, (cents, j) =>
            transform(cents, c =>
              aggregate(zip_with(element_at(qs, j + 1), c, (x, y) => x * y),
                lit(0.0), (acc, x) => acc + x))))
        })
      .withColumn("__qn",
        sqrt(aggregate(transform(col("__qv"), x => x.cast("double") * x.cast("double")),
          lit(0.0), (acc, x) => acc + x)))
      .select(col("query_id"), col("__lut"), col("__qn"))
  }

  /** ADC score + rank over pre-joined candidate rows
    * `(query_id, neighbor_id, codes, __lut, __qn)`: both Σ_j fold in
    * subspace order (deterministic); asymmetric cosine
    * `Σ lut / (|q|·sqrt(Σ n2))` floor-rounded; [[TopKBySim]] ranking
    * (sim desc, neighbor id asc). Round 7 second pass: the whole score is
    * one codegen'd `pq_adc_sim` call per candidate row instead of two
    * interpreted transform+aggregate folds (witness [[adcScoreRankHof]],
    * equivalence spec in PqSpec — same fold order, same lazy zero-denom
    * rule, rounding unchanged outside the kernel). */
  private def adcScoreRank(joined: DataFrame, n2Flat: Column,
                           k: Int, ksub: Int, roundTo: Int): DataFrame = {
    org.apache.spark.sql.graft.NativeFunctions.register(joined.sparkSession)
    val scored = joined
      .select(col("query_id"), col("neighbor_id"),
        Portable.roundAt(
          call_function("pq_adc_sim",
            col("codes"), col("__lut"), n2Flat, col("__qn"), lit(ksub)),
          roundTo).as("sim"))
    TopKBySim.rank(scored, k)
  }

  /** The interpreted-HOF restatement of [[adcScoreRank]] (the pre-kernel
    * shape) — kept as the equivalence witness. */
  private def adcScoreRankHof(joined: DataFrame, n2Flat: Column,
                              k: Int, ksub: Int, roundTo: Int): DataFrame = {
    val scored = joined
      .withColumn("__dot",
        aggregate(transform(col("codes"),
            (code, j) => element_at(col("__lut"), j * ksub + code.cast("int") + 1)),
          lit(0.0), (acc, x) => acc + x))
      .withColumn("__cn2",
        aggregate(transform(col("codes"),
            (code, j) => element_at(n2Flat, j * ksub + code.cast("int") + 1)),
          lit(0.0), (acc, x) => acc + x))
      .select(col("query_id"), col("neighbor_id"),
        Portable.roundAt(
          when(col("__qn") * sqrt(col("__cn2")) === 0.0, 0.0)
            .otherwise(col("__dot") / (col("__qn") * sqrt(col("__cn2")))),
          roundTo).as("sim"))
    TopKBySim.rank(scored, k)
  }

  /** [[pqTopK]] over the witness encode + witness scorer — the full HOF
    * path PqSpec compares the kernel path against. */
  private[graft] def pqTopKHof(queries: DataFrame, codes: DataFrame, codebooks: DataFrame,
                               k: Int, m: Int, ksub: Int,
                               idCol: String = "vec_id", vecCol: String = "embedding",
                               roundTo: Int = 4): DataFrame = {
    val d = vecDim(queries, vecCol)
    require(d % m == 0, s"query dim $d must divide into m=$m subspaces")
    val cb = collectCodebooks(codebooks, m, ksub)
    val q = queryLuts(queries, cb, m, d / m, idCol, vecCol)
    adcScoreRankHof(
      codes.select(col(idCol).cast("long").as("neighbor_id"), col("codes"))
        .join(broadcast(q), col("query_id") =!= col("neighbor_id")),
      n2Lut(cb), k, ksub, roundTo)
  }

  /** Query-independent flat LUT of partial squared centroid norms,
    * same `(j·ksub)+c+1` layout as the dot LUT (one literal node — see
    * [[cbLiteral]]). */
  private def n2Lut(cb: Array[Array[Array[Double]]]): Column =
    typedLit(cb.flatMap(sub => sub.map(c => c.map(x => x * x).sum)).toSeq)

  /**
   * ADC top-k: for each float query, rank PQ-encoded corpus vectors by the
   * asymmetric cosine `q · x̂ / (|q|·|x̂|)` computed ENTIRELY from two
   * per-query lookup tables — `lut[j][c] = q_sub_j · cb[j][c]` (partial
   * dots) and `n2[j][c] = |cb[j][c]|²` (partial squared norms, query-
   * independent) — so scoring touches only the m byte codes per corpus
   * row: `Σ_j lut[j][code_j] / (|q| · sqrt(Σ_j n2[j][code_j]))`, both Σ_j
   * folded in subspace order (deterministic). Output
   * `(query_id, rank, neighbor_id, sim)`; ties broken by neighbor id
   * ([[TopKBySim]] rule); self-pairs excluded.
   */
  def pqTopK(queries: DataFrame, codes: DataFrame, codebooks: DataFrame,
             k: Int, m: Int, ksub: Int,
             idCol: String = "vec_id", vecCol: String = "embedding",
             roundTo: Int = 4): DataFrame = {
    val d = vecDim(queries, vecCol)
    require(d % m == 0, s"query dim $d must divide into m=$m subspaces")
    val cb = collectCodebooks(codebooks, m, ksub)
    val q = queryLuts(queries, cb, m, d / m, idCol, vecCol)
    adcScoreRank(
      codes.select(col(idCol).cast("long").as("neighbor_id"), col("codes"))
        .join(broadcast(q), col("query_id") =!= col("neighbor_id")),
      n2Lut(cb), k, ksub, roundTo)
  }

  /**
   * IVF-PQ: the two levers composed — the IVF coarse quantizer
   * ([[Similarity.ivfIndex]]) restricts each query's scan to its `nProbes`
   * nearest cells (partition pruning), and within the probed cells corpus
   * vectors are only m byte PQ codes scored by ADC (bandwidth). The
   * standard billion-scale recipe (FAISS `IVFx,PQy`), here in its
   * non-residual form: PQ encodes the RAW vectors, so with
   * `nProbes = nCentroids` the result is EXACTLY [[pqTopK]]
   * (spec-asserted) — the probe count trades recall for scan volume and
   * nothing else. A query may return fewer than k rows when its probed
   * cells hold fewer candidates (the IVF candidate-gap, same family as
   * LSH).
   */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                nCentroids: Int, nProbes: Int, m: Int, ksub: Int,
                ivfIterations: Int = 1, pqIterations: Int = 1,
                idCol: String = "vec_id", vecCol: String = "embedding",
                roundTo: Int = 4): DataFrame = {
    require(nProbes >= 1 && nProbes <= nCentroids,
      s"need 1 <= nProbes ($nProbes) <= nCentroids ($nCentroids)")
    val spark = queries.sparkSession
    val d = vecDim(queries, vecCol)
    require(d % m == 0, s"query dim $d must divide into m=$m subspaces")
    val (centroids, assigned) = Similarity.ivfIndex(corpus, nCentroids, ivfIterations, idCol, vecCol)
    val codebooks = pqTrain(corpus, m, ksub, pqIterations, idCol, vecCol)
    val codes = pqEncode(corpus, codebooks, m, ksub, idCol, vecCol)
      .join(assigned.select(col(idCol), col("centroid_id")), idCol)
    // per query: the nProbes nearest cells (the ivfTopK probe rule —
    // centroid cosine desc, centroid_id asc)
    val wProbe = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("__csim").desc, col("centroid_id").asc)
    val probes = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
      .join(broadcast(centroids), lit(true))
      .withColumn("__csim", Similarity.cosineNative(spark, col("__qv"), col("centroid")))
      .withColumn("__crank", row_number().over(wProbe))
      .filter(col("__crank") <= nProbes)
      .select(col("query_id"), col("centroid_id"))
    val cb = collectCodebooks(codebooks, m, ksub)
    val q = queryLuts(queries, cb, m, d / m, idCol, vecCol)
    // the probe table broadcasts (queries × nProbes rows) and the cell
    // filter rides INTO the codes scan before any scoring work
    adcScoreRank(
      codes.join(broadcast(probes), Seq("centroid_id"))
        .select(col("query_id"), col(idCol).cast("long").as("neighbor_id"), col("codes"))
        .join(broadcast(q), Seq("query_id"))
        .filter(col("query_id") =!= col("neighbor_id")),
      n2Lut(cb), k, ksub, roundTo)
  }

  /** Persist a PQ index: `dir/codebooks` (m, code, centroid) +
    * `dir/codes` (id, codes) + `dir/meta` one row (m, ksub). */
  def pqWrite(emb: DataFrame, dir: String, m: Int, ksub: Int,
              iterations: Int = 1,
              idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val spark = emb.sparkSession
    import spark.implicits._
    val codebooks = pqTrain(emb, m, ksub, iterations, idCol, vecCol)
    codebooks.write.mode("overwrite").parquet(s"$dir/codebooks")
    pqEncode(emb, codebooks, m, ksub, idCol, vecCol)
      .write.mode("overwrite").parquet(s"$dir/codes")
    Seq((m, ksub)).toDF("m", "ksub").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/meta")
  }

  /** Load a persisted PQ index: `(codebooks, codes, m, ksub)`. */
  def pqRead(spark: org.apache.spark.sql.SparkSession,
             dir: String): (DataFrame, DataFrame, Int, Int) = {
    val meta = spark.read.parquet(s"$dir/meta")
    require(meta.columns.toSet == Set("m", "ksub"),
      s"PQ meta must have (m, ksub), got ${meta.columns.mkString(",")}")
    val rows = meta.select(col("m").cast("int"), col("ksub").cast("int")).collect()
    require(rows.length == 1, s"PQ meta $dir/meta must hold exactly one row")
    (spark.read.parquet(s"$dir/codebooks"), spark.read.parquet(s"$dir/codes"),
      rows.head.getInt(0), rows.head.getInt(1))
  }
}
