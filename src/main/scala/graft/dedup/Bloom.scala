package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Deterministic Bloom-filter membership sketch — the primitive behind
 * web-pipeline INCREMENTAL dedup (Dolma's Bloom-filter deduper; "is this
 * fingerprint already in the corpus we shipped last month?") and
 * membership prefilters where a broadcast semi-join would have to carry
 * the whole key set. `mBits` bits, `k` probes per key; false negatives
 * impossible, false-positive rate ≈ (1 − e^(−k·n/m))^k — the documented
 * trade: an incremental dedup drops a non-duplicate at the FP rate.
 *
 * Engine-portable by construction (the gate16/fingerprint discipline):
 * probe positions are independent md5 draws `md5(key || ':' || i)` (60
 * bits, mod mBits) and the sketch packs bits into 32-BIT words stored in
 * longs — 32, not 64, because the oracle restates the build in DuckDB and
 * `1 << 63` overflows a checked BIGINT there; 32-bit masks are exact
 * non-negative integers in every engine.
 *
 * Scale shape: the BUILD is one narrow k-way position explode + one
 * `bit_or` hash aggregation (≤ mBits/32 output rows, independent of key
 * count); the PROBE is scan-side — the dense word array rides as ONE
 * `typedLit` array literal (a single Literal node, not mBits/32 children)
 * and each key checks its k bits with `element_at`, no join, no shuffle.
 * The sparse `(w, bits)` table is the persisted/mergeable form: sketches
 * of two corpora union by `bit_or` per word — the sketch algebra that
 * makes yesterday's corpus + today's batch one cheap merge.
 */
object Bloom {

  val WordBits = 32

  /** Ceiling for the plan-literal probe: sketches up to 2²¹ words (16 MiB
    * of packed bits) ride as one `typedLit`; a 100 TB-corpus sketch (GBs)
    * cannot live inside a plan — probe it with
    * [[dedupAgainstSketchTable]] instead. */
  val LiteralProbeMaxWords: Int = 1 << 21

  /** The i-th probe position of a key: `md5(key || ':' || i)` folded to 60
    * bits, mod `mBits`. */
  def position(key: Column, i: Int, mBits: Int): Column =
    conv(substring(md5(concat(key.cast("string"), lit(s":$i"))), 1, 15), 16, 10)
      .cast("long") % mBits

  /** Sparse sketch of a key column: `(w, bits)` — word index and OR-ed
    * 32-bit masks, ≤ mBits/32 rows. The persisted + mergeable form
    * (sketches union by per-word `bit_or`). */
  def buildTable(keys: DataFrame, keyCol: String, mBits: Int, k: Int): DataFrame = {
    require(mBits >= WordBits && mBits % WordBits == 0,
      s"mBits must be a positive multiple of $WordBits, got $mBits")
    require(k >= 1 && k <= 16, s"need 1 <= k <= 16 probes, got $k")
    val key = col(keyCol)
    val posArr = array((0 until k).map(i => position(key, i, mBits)): _*)
    keys.select(explode(posArr).as("pos"))
      .select((col("pos") / WordBits).cast("int").as("w"),
        call_function("shiftleft", lit(1L), (col("pos") % WordBits).cast("int")).as("mask"))
      .groupBy(col("w"))
      .agg(bit_or(col("mask")).cast("long").as("bits"))
  }

  /** Dense driver-side sketch: `words(w) = bits`, length mBits/32 — the
    * broadcast-probe form. Bounded by mBits, never by the key count. */
  def build(keys: DataFrame, keyCol: String, mBits: Int, k: Int): Array[Long] = {
    val words = Array.ofDim[Long](mBits / WordBits)
    buildTable(keys, keyCol, mBits, k).collect().foreach { r =>
      words(r.getInt(0)) = r.getLong(1)
    }
    words
  }

  /** Scan-side membership probe: true iff ALL k bits of the key are set.
    * The sketch is one array literal; no join. False negatives never,
    * false positives at the sketch's FP rate. */
  def mightContain(key: Column, words: Array[Long], mBits: Int, k: Int): Column = {
    require(words.length == mBits / WordBits,
      s"sketch has ${words.length} words, mBits=$mBits needs ${mBits / WordBits}")
    val wlit = typedlit(words.toSeq)
    (0 until k)
      .map { i =>
        graft.dedup.Dedup.let(position(key, i, mBits)) { p =>
          (element_at(wlit, (p / WordBits).cast("int") + 1)
            .bitwiseAND(call_function("shiftleft", lit(1L), (p % WordBits).cast("int")))) =!= 0L
        }
      }
      .reduce(_ && _)
  }

  /**
   * Incremental exact dedup against a previously-built corpus sketch: drop
   * rows whose normalized-text fingerprint might already be in the sketch
   * (built over [[Dedup.fingerprint]] values of the existing corpus).
   * False negatives impossible — every true duplicate IS dropped; a
   * non-duplicate is lost at the FP rate, the accepted Dolma trade
   * (tune mBits/k to the corpus size). One narrow scan, no shuffle.
   */
  def dedupAgainstSketch(docs: DataFrame, words: Array[Long], mBits: Int, k: Int,
                         textCol: String = "text"): DataFrame =
    docs.filter(!mightContain(Dedup.fingerprint(col(textCol)), words, mBits, k))

  /**
   * Incremental exact dedup with the sketch as a TABLE — the probe path for
   * sketches past [[LiteralProbeMaxWords]] (a web-scale sketch is GBs: it
   * can be a join side, never a plan literal). Each doc explodes its k word
   * probes, joins the sparse `(w, bits)` table on word index (the sketch
   * side broadcasts while it fits, shuffles when it doesn't — Spark's
   * choice), and a doc is dropped iff ALL k bits are set. Survivor set is
   * IDENTICAL to [[dedupAgainstSketch]] on the same sketch (BloomSpec).
   *
   * Cost shape vs the literal probe: k·rows join input + one per-doc
   * regroup (two exchanges) instead of a free scan — the price of not
   * shipping the sketch inside every task's plan.
   */
  def dedupAgainstSketchTable(docs: DataFrame, table: DataFrame, mBits: Int, k: Int,
                              textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs.join(sketchHits(docs, table, mBits, k, textCol, idCol), Seq(idCol), "left_anti")

  /** Ids [[dedupAgainstSketchTable]] drops: all probe bits set (one row per id). */
  def sketchHits(docs: DataFrame, table: DataFrame, mBits: Int, k: Int,
                 textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val key = Dedup.fingerprint(col(textCol))
    val posArr = array((0 until k).map(i => position(key, i, mBits)): _*)
    val probes = docs.select(col(idCol), explode(posArr).as("pos"))
      .select(col(idCol),
        (col("pos") / WordBits).cast("int").as("w"),
        call_function("shiftleft", lit(1L), (col("pos") % WordBits).cast("int")).as("mask"))
    probes.join(table, Seq("w"), "left")
      .groupBy(col(idCol))
      .agg(min((coalesce(col("bits"), lit(0L))
        .bitwiseAND(col("mask")) =!= 0L).cast("int")).as("__all_set"))
      .where(col("__all_set") === 1)
      .select(col(idCol))
  }

  /** Persist a sketch: `dir/words` = the sparse (w, bits) table,
    * `dir/meta` = one row (m_bits, k) — the geometry travels WITH the
    * sketch (probing with different mBits/k reads garbage bits). */
  def save(spark: SparkSession, table: DataFrame, mBits: Int, k: Int, dir: String): Unit = {
    import spark.implicits._
    table.write.mode("overwrite").parquet(s"$dir/words")
    Seq((mBits, k)).toDF("m_bits", "k").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/meta")
  }

  /** Load just the geometry `(mBits, k)` of a persisted sketch — cheap, and
    * the input to the literal-vs-table probe-path decision. */
  def loadMeta(spark: SparkSession, dir: String): (Int, Int) = {
    val meta = spark.read.parquet(s"$dir/meta")
    require(meta.columns.toSet == Set("m_bits", "k"),
      s"bloom meta must have (m_bits, k), got ${meta.columns.mkString(",")}")
    val rows = meta.select(col("m_bits").cast("int"), col("k").cast("int")).collect()
    require(rows.length == 1, s"bloom meta $dir/meta must hold exactly one row")
    (rows.head.getInt(0), rows.head.getInt(1))
  }

  /** Load a persisted sketch as the dense probe form: `(words, mBits, k)`. */
  def load(spark: SparkSession, dir: String): (Array[Long], Int, Int) = {
    val (mBits, k) = loadMeta(spark, dir)
    val table = spark.read.parquet(s"$dir/words")
    require(table.columns.toSet == Set("w", "bits"),
      s"bloom words must have (w, bits), got ${table.columns.mkString(",")}")
    val words = Array.ofDim[Long](mBits / WordBits)
    table.collect().foreach(r => words(r.getInt(0)) = r.getLong(1))
    (words, mBits, k)
  }

  /** Merge two sparse sketches of the SAME geometry: per-word `bit_or` —
    * the union sketch (membership in either corpus). */
  def merge(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b)
      .groupBy(col("w"))
      .agg(bit_or(col("bits")).cast("long").as("bits"))
}
