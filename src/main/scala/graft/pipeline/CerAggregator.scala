package graft.pipeline

import org.apache.spark.sql.{Encoder, Encoders, TypedColumn}
import org.apache.spark.sql.expressions.Aggregator
import graft.model.CerMetrics

/**
 * One-pass CER metrics over (out, correct) pairs — the reference's
 * avg-normalized-distance + percent-perfect accumulators (`eval.py:49-68`,
 * `dictionary_corrector.py:146-155`) as a typed Spark [[Aggregator]]
 * (SURVEY.md §2.10 U5). Each pair is scored by the one pair rule,
 * [[CheckpointedRun.normalizedDist]], and added by [[CerMetrics.add]]: an
 * exact match is distance 0 and perfect without the DP (reference F12,
 * `eval.py:55-57`), an empty target scores 1 (F3), and a pair with a null
 * side counts as a row that adds to neither sum.
 */
object CerAggregator extends Aggregator[(String, String), CerMetrics, CerMetrics] {

  override def zero: CerMetrics = CerMetrics(0L, 0L, 0.0)

  override def reduce(b: CerMetrics, row: (String, String)): CerMetrics =
    b.add(CheckpointedRun.normalizedDist(row._1, row._2))

  override def merge(a: CerMetrics, b: CerMetrics): CerMetrics = a + b

  override def finish(b: CerMetrics): CerMetrics = b

  override def bufferEncoder: Encoder[CerMetrics] = Encoders.product[CerMetrics]

  override def outputEncoder: Encoder[CerMetrics] = Encoders.product[CerMetrics]

  /** Typed column usable in `ds.select(...)` / `groupByKey.agg(...)`. */
  def column: TypedColumn[(String, String), CerMetrics] = toColumn
}
