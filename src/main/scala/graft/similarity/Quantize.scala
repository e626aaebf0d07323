package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Int8 scalar quantization (SQ8) for embedding vectors — the standard
 * memory/bandwidth lever of billion-scale ANN systems (the SQ8 codec of
 * Jégou et al.'s product-quantization lineage / the FAISS `SQ8` index
 * family, re-expressed relationally): each `array<float>` embedding is
 * stored as one `double` scale plus an `array<tinyint>` — 1 byte per
 * dimension, a 4× cut against float32 — and similarity is computed on the
 * int8 codes directly, with EXACT integer dot products (LONG accumulation:
 * 127² per element overflows nothing below 2^47 dims) and floating point
 * only in the final normalize.
 *
 * Why this shape at 100 TB: brute-force and IVF ANN are scan-bandwidth
 * bound, so a 4× smaller vector column is ~4× fewer bytes per probe; and
 * because the quantized cosine is a pure function of the int8 codes (the
 * per-vector scale CANCELS in the cosine), rankings are bit-identical on
 * any engine and partitioning — integer dots plus two correctly-rounded
 * sqrts — making the whole surface oracle-checkable, unlike float sums
 * whose fold order drifts.
 *
 * Quantization rule (symmetric, per-vector): `m = max_i |x_i|`,
 * `q_i = floor(x_i·127/m + 0.5)` (round-half-up — the engine's portable
 * rounding; q_i ∈ [-127, 127] — NOTE -128 is unreachable, the symmetric
 * convention), `scale = m/127` so `x̂_i = scale·q_i` and
 * `|x_i − x̂_i| ≤ scale/2`. A zero or empty vector quantizes to all-zero
 * codes with scale 0.
 */
object Quantize {

  /** Per-vector SQ8 codec: `struct(scale: double, q: array<tinyint>)`.
    * Scan-side narrow — one `array_max` pass + one `transform` pass. */
  def sq8(vec: Column): Column =
    graft.dedup.Dedup.let(array_max(transform(vec, x => abs(x.cast("double"))))) { m =>
      struct(
        when(m.isNull || m === 0.0, lit(0.0)).otherwise(m / 127.0).as("scale"),
        when(m.isNull || m === 0.0, transform(vec, _ => lit(0).cast("byte")))
          .otherwise(transform(vec,
            x => floor(x.cast("double") * 127.0 / m + 0.5).cast("byte")))
          .as("q"))
    }

  /** Quantized restatement of an embeddings table:
    * `(idCol, scale, q)` — the stored form of the scale path. */
  def sq8Table(emb: DataFrame, idCol: String = "vec_id",
               vecCol: String = "embedding"): DataFrame =
    emb.select(col(idCol), sq8(col(vecCol)).as("__s"))
      .select(col(idCol), col("__s.scale").as("scale"), col("__s.q").as("q"))

  /** Reconstruction `x̂_i = scale · q_i` (`array<double>`). */
  def dequantize(scale: Column, q: Column): Column =
    transform(q, x => scale * x.cast("double"))

  /** Exact integer dot product of two int8 code arrays (LONG). Pure-Column
    * HOF witness — portable, interpreted; hot paths ride the native kernel
    * inside [[sq8CosineNative]]. */
  def intDot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("long") * y.cast("long")),
      lit(0L), (acc, x) => acc + x)

  /** Quantized cosine in the HOF form: `intdot / (sqrt(aa)·sqrt(bb))`,
    * 0 when either code vector is all-zero. Scale-free: the per-vector
    * scales cancel, so this is exactly the cosine of the reconstructed
    * vectors. Equivalence twin of the native kernel. */
  def sq8CosineHof(a: Column, b: Column): Column = {
    val denom = sqrt(intDot(a, a).cast("double")) * sqrt(intDot(b, b).cast("double"))
    when(denom === 0.0, 0.0).otherwise(intDot(a, b).cast("double") / denom)
  }

  /** [[sq8CosineHof]] as the codegen'd native kernel
    * ([[org.apache.spark.sql.graft.Sq8Kernel]]): one static call per pair,
    * LONG accumulation, identical zero-norm/null semantics. */
  def sq8CosineNative(s: org.apache.spark.sql.SparkSession, a: Column, b: Column): Column = {
    org.apache.spark.sql.graft.NativeFunctions.register(s)
    call_function("sq8_cosine", a, b)
  }

  /**
   * Approximate top-k by quantized cosine — [[Similarity.bruteForceTopK]]
   * with the int8 inner loop: both sides quantize scan-side, queries
   * broadcast as codes (4× smaller than the float form), scoring is one
   * narrow corpus scan, and ranking is the same bounded-heap partial
   * aggregation ([[TopKBySim]]) — the exchange carries at most k
   * (id, sim) rows per (map partition, query). Deterministic: rounded
   * quantized similarity desc, then corpus id asc.
   */
  def sq8TopK(queries: DataFrame, corpus: DataFrame, k: Int,
              idCol: String = "vec_id", vecCol: String = "embedding",
              roundTo: Int = 4): DataFrame = {
    val q = sq8Table(queries, idCol, vecCol)
      .select(col(idCol).as("query_id"), col("q").as("q_codes"))
    val c = sq8Table(corpus, idCol, vecCol)
      .select(col(idCol).as("neighbor_id"), col("q").as("c_codes"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id").cast("long").as("neighbor_id"),
        graft.Portable.roundAt(
          sq8CosineNative(queries.sparkSession, col("q_codes"), col("c_codes")),
          roundTo).as("sim"))
    TopKBySim.rank(scored, k)
  }
}
