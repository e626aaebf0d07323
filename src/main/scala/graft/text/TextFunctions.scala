package graft.text

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Column-level text operators (SURVEY.md §2.8) — all built on codegen'd
 * `org.apache.spark.sql.functions`, no UDFs in the hot path.
 */
object TextFunctions {

  /** F5 — whitespace collapse + trim, the normalization the reference embeds
    * in its byte-seek line reader (`/root/reference/src/util/data_functions.py:21-27`):
    * runs of any `\s` become one space, leading/trailing whitespace dropped.
    * (Python strip() also removes trailing; the reference's get_line stops at
    * `\n` so trailing spaces survive only from non-newline whitespace — we
    * standardize on full trim, SURVEY.md S6 note.) */
  def normalizeWs(c: Column): Column = trim(regexp_replace(c, "\\s+", " "))

  /** F6 — whitespace tokenize (`strip().split()`): empty input → empty array,
    * exactly like Python's `"".split()`. */
  def tokenize(c: Column): Column =
    filter(split(trim(c), "\\s+"), t => length(t) > 0)

  /** A1/S4 — distinct characters of a text column, one row per char.
    * `split(text, "")` yields per-code-point pieces in Spark 4. */
  def distinctChars(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(split(col(textCol), "")).as("char"))
      .filter(length(col("char")) > 0)
      .distinct()

  /** S7/O1 — the alphabet as a sorted string (all_chars.txt analog). */
  def alphabetString(df: DataFrame, textCol: String): String =
    distinctChars(df, textCol).orderBy(col("char"))
      .collect().map(_.getString(0)).mkString

  /** T1 — subset validation: chars of `sub` not present in `sup` (empty ⇔
    * `sub ⊆ sup`) — the good_chars ⊆ all_chars relationship the reference
    * maintains by hand (README.md:52-55). */
  def charSubsetViolations(sub: DataFrame, sup: DataFrame, charCol: String = "char"): DataFrame =
    sub.select(col(charCol)).except(sup.select(col(charCol)))

  /** T2 — indices of alphabet characters that are whitespace
    * (`data_functions.py:70-76`). */
  def whitespaceIndices(alphabet: String): Seq[Int] =
    alphabet.codePoints().toArray.zipWithIndex
      .collect { case (cp, i) if Character.isWhitespace(cp) => i }.toSeq

  /** F8 — char → index encode against an alphabet; miss → unk = |alphabet|
    * (`data_functions.py:31-39`). Pure column expression: the alphabet rides
    * the plan as a STRING literal and `locate` does the lookup — one native
    * substring search per char instead of `array_position` over a literal
    * array, whose per-element generic equality is ~2.5× slower inside the
    * interpreted HOF lambda (measured on q_encode_roundtrip at sf0.1).
    * Alphabet chars are distinct single code points (T1 validates), so
    * locate-position ≡ array-position. */
  def encode(c: Column, alphabet: String): Column = {
    val unk = alphabet.codePointCount(0, alphabet.length)
    transform(filter(split(c, ""), ch => length(ch) > 0),
      ch => coalesce(
        (nullif(call_function("locate", ch, lit(alphabet)), lit(0)) - 1).cast("long"),
        lit(unk.toLong)))
  }

  /** The reference's ragged-batch padding value (`util/__init__.py:2`):
    * decoding STOPS at the first occurrence (`neural_corrector.py:113-114`). */
  val IntEmpty: Int = -1

  /** F9 — index → char decode; truncates at the first [[IntEmpty]] (the
    * reference's padding sentinel, `neural_corrector.py:113-114`), then maps
    * unk/out-of-bounds indices to U+FFFD `�` (`neural_corrector.py:107-126`;
    * UNK constant `util/__init__.py:3`). */
  def decode(c: Column, alphabet: String): Column = {
    val alpha = array(alphabet.codePoints().toArray.map(cp => lit(new String(Character.toChars(cp)))): _*)
    // the sentinel scan is bound ONCE as a lambda variable — referenced
    // twice below, and HOF-interpreted subtrees get no subexpression
    // elimination, so inlining it would scan every array twice per row
    graft.dedup.Dedup.let(array_position(c, lit(IntEmpty))) { stop => // 1-based; 0 = absent
      val live = when(stop === 0, c).otherwise(slice(c, lit(1), (stop - 1).cast("int")))
      // the int-range guard makes the long→int cast total: an adversarial
      // index like 2^32+1 would THROW under ANSI (default) or silently
      // truncate into the alphabet otherwise — out-of-range decodes to
      // U+FFFD instead, matching the native kernel for every long
      array_join(transform(live, i =>
        coalesce(
          try_element_at(alpha,
            when(i >= Int.MinValue.toLong && i < Int.MaxValue.toLong, (i + 1).cast("int"))),
          lit("�"))), "")
    }
  }

  /** Native-expression forms of [[encode]]/[[decode]]: the SAME semantics
    * (equivalence property-tested) as one codegen'd kernel call per row
    * instead of an interpreted HOF lambda per character — ~5× on the
    * encode/decode benchmark queries at sf0.1. Needs a session to register
    * the functions (idempotent); prefer these on hot paths, the pure-Column
    * forms where no session is at hand. */
  def encodeNative(s: SparkSession, c: Column, alphabet: String): Column = {
    org.apache.spark.sql.graft.NativeFunctions.register(s)
    call_function("alphabet_encode", c, lit(alphabet))
  }

  def decodeNative(s: SparkSession, c: Column, alphabet: String): Column = {
    org.apache.spark.sql.graft.NativeFunctions.register(s)
    call_function("alphabet_decode", c, lit(alphabet))
  }

  /** F11/W4 — split text into fixed-size chunks (code-point windows) as an
    * array column: `transform(sequence(...), k -> substring(...))`.
    * NB `substring` counts chars; Spark strings are code-point addressed in
    * SQL functions, matching the reference's Python slicing for BMP+ text. */
  def chunks(c: Column, maxLen: Int): Column =
    when(length(c) === 0, array(lit("")))
      .otherwise(transform(
        sequence(lit(0), ceil(length(c) / lit(maxLen.toDouble)).cast("int") - 1),
        k => substring(c, (k * maxLen + 1).cast("int"), lit(maxLen))))

  /**
   * W4 — chunked map: apply a per-string kernel to bounded-size chunks and
   * re-concatenate in chunk order (`neural_corrector.py:134-148`). The
   * regroup mirrors W3: sort_array over (pos, out) then join — never bare
   * collect_list order.
   */
  def mapChunked(df: DataFrame, keyCols: Seq[String], textCol: String, maxLen: Int,
                 kernel: Column => Column): DataFrame = {
    val keys = keyCols.map(col)
    df.select(keys :+ posexplode(chunks(col(textCol), maxLen)).as(Seq("pos", "chunk")): _*)
      .withColumn("out", kernel(col("chunk")))
      .groupBy(keys: _*)
      .agg(array_join(transform(sort_array(collect_list(struct(col("pos"), col("out")))),
        s => s("out")), "").as(textCol))
  }
}
