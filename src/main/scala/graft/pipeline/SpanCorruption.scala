package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Deterministic T5-style span corruption (Raffel et al., JMLR 2020 §3.1.4
 * — the denoising objective's DATA PREP step): mask ~15% of each doc's
 * tokens in short contiguous spans, replace every masked span with a
 * sentinel `<extra_id_k>`, and emit the target sequence
 * `<extra_id_0> span0 <extra_id_1> span1 … <extra_id_K>` (closing
 * sentinel included, the paper's format).
 *
 * T5 samples span starts/lengths from an RNG; a corpus build needs the
 * same example bytes on every run, engine, and partitioning, so here both
 * draws are md5 gates keyed by `(doc, position)` (the gate16 family):
 * position i STARTS a span iff `gate16(id||':'||i) < pStart·2¹⁶`, with
 * length `1 + gate16(id||'#'||i) mod maxLen`. Overlapping draws resolve
 * by UNION (a position is masked iff any span covers it) and each MAXIMAL
 * masked run takes one sentinel — the islands trick, not T5's sequential
 * skip rule: the sequential rule needs a left-to-right scan with state,
 * the union rule is a pure per-position predicate + one window, which is
 * what makes the whole operator relational, restatable in SQL, and
 * embarrassingly parallel. Expected mask rate ≈ pStart·(maxLen+1)/2.
 *
 * INVARIANT (spec-asserted): splicing each target span back over its
 * input sentinel reproduces the original token stream exactly.
 *
 * Scale shape: one tokenize+posexplode, one bounded span explode
 * (≤ maxLen positions per start), one distinct, one per-doc window over
 * masked positions only, one final per-doc reassembly aggregation —
 * shuffles keyed by doc id, nothing corpus-wide.
 */
object SpanCorruption {

  private def gate(key: Column): Column = Sampling.gate16(key)

  /**
   * Corrupt every doc: `(idCol, input_text, target_text)`. Docs with no
   * masked position pass through with `target_text` = the closing sentinel
   * alone (`<extra_id_0>`). Tokens are the normalized whitespace tokens.
   */
  def corrupt(docs: DataFrame, pStart: Double = 0.06, maxLen: Int = 4,
              idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(pStart > 0.0 && pStart < 1.0, s"pStart out of (0,1): $pStart")
    require(maxLen >= 1, s"maxLen must be >= 1, got $maxLen")
    // round 7: every step of this operator (gates, span union, islands,
    // sentinel numbering, reassembly) is a pure function of the single
    // document, so the whole thing runs as ONE codegen'd kernel call per
    // row (`span_corrupt`) with no exchange at all — the former relational
    // shape (posexplode + span explode + distinct + two per-doc windows +
    // (id, pos) join + sorted-collect reassembly, kept below as
    // [[corruptRelational]], the equivalence witness) paid five shuffles
    // for a per-row function. Value-identical: the fuzz spec asserts
    // kernel ≡ relational and the splice-back invariant; `q_span_corrupt`
    // pins the bytes against the DuckDB oracle.
    org.apache.spark.sql.graft.NativeFunctions.register(docs.sparkSession)
    val sc = call_function("span_corrupt",
      col(idCol).cast("string"), col(textCol),
      lit(math.round(pStart * 65536.0).toInt), lit(maxLen))
    docs.select(col(idCol), sc.getField("input_text").as("input_text"),
      sc.getField("target_text").as("target_text"))
  }

  /** The relational restatement of [[corrupt]] — the pre-kernel shape,
    * kept as the independent equivalence witness (posexplode + bounded
    * span explode + islands windows + reassembly aggregation). */
  private[graft] def corruptRelational(docs: DataFrame, pStart: Double = 0.06, maxLen: Int = 4,
                                       idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(pStart > 0.0 && pStart < 1.0, s"pStart out of (0,1): $pStart")
    require(maxLen >= 1, s"maxLen must be >= 1, got $maxLen")
    val cutoff = math.round(pStart * 65536.0)
    val toks = docs.select(col(idCol),
      posexplode(filter(graft.dedup.Dedup.tokens(col(textCol)), t => length(t) > 0))
        .as(Seq("pos", "token")))
    // span starts + lengths from the two md5 draws
    val spans = toks
      .filter(gate(concat(col(idCol).cast("string"), lit(":"), col("pos"))) < cutoff)
      .select(col(idCol), col("pos").as("s"),
        (col("pos") + 1 +
          gate(concat(col(idCol).cast("string"), lit("#"), col("pos"))) % maxLen).as("e"))
    // masked positions = union of [s, e) windows (bounded explode)
    val masked = spans
      .select(col(idCol), explode(sequence(col("s"), col("e") - 1)).as("pos"))
      .distinct()
    // maximal masked runs -> sentinel ordinal per doc (islands)
    val wPos = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    val runs = masked
      .withColumn("island", col("pos") - row_number().over(wPos))
      .withColumn("k",
        dense_rank().over(Window.partitionBy(col(idCol)).orderBy(col("island"))) - 1)
    // annotate every token: masked => its run ordinal, else null; __first
    // marks the run's first position (one sentinel per run)
    val wRun = Window.partitionBy(col(idCol), col("k")).orderBy(col("pos"))
    val annotated = toks.join(runs.select(col(idCol), col("pos"), col("k")),
        Seq(idCol, "pos"), "left")
      .withColumn("__first", col("k").isNotNull && row_number().over(wRun) === 1)
    // one reassembly pass: input keeps unmasked tokens and ONE sentinel per
    // run (at its first position); target lists each run's sentinel + its
    // tokens in order, closed by the final sentinel
    val perDoc = annotated
      .groupBy(col(idCol))
      .agg(
        concat_ws(" ", transform(
          filter(
            array_sort(collect_list(struct(col("pos"), col("token"), col("k"),
              // first-position-of-run marker, computed per row below
              col("__first")))),
            x => x("k").isNull || x("__first")),
          x => when(x("k").isNull, x("token"))
            .otherwise(concat(lit("<extra_id_"), x("k"), lit(">"))))).as("input_text"),
        concat_ws(" ", flatten(transform(
          filter(
            array_sort(collect_list(struct(col("pos"), col("token"), col("k"),
              col("__first")))),
            x => x("k").isNotNull),
          x => when(x("__first"),
              array(concat(lit("<extra_id_"), x("k"), lit(">")), x("token")))
            .otherwise(array(x("token")))))).as("__tgt_body"),
        (coalesce(max(col("k")), lit(-1L)) + 1).as("__k_close"))
      .select(col(idCol), col("input_text"),
        // concat_ws keeps EMPTY strings (unlike nulls) — an unmasked doc's
        // empty body would leave a leading space before the closing sentinel
        when(col("__tgt_body") === "",
            concat(lit("<extra_id_"), col("__k_close"), lit(">")))
          .otherwise(concat_ws(" ", col("__tgt_body"),
            concat(lit("<extra_id_"), col("__k_close"), lit(">"))))
          .as("target_text"))
    // docs whose every token row vanished (empty text) pass through empty
    docs.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("input_text"), lit("")).as("input_text"),
        coalesce(col("target_text"), lit("<extra_id_0>")).as("target_text"))
  }
}
