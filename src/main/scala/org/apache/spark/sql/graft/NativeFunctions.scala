package org.apache.spark.sql.graft

import scala.reflect.ClassTag

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Coalesce, Expression, ExpressionInfo, ImplicitCastInputTypes, Literal, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** A foldable parameter of a native function: its name, its type and, for an
  * int, the inclusive range it must lie in. */
final case class Param(name: String, dataType: DataType, min: Int = Int.MinValue,
                       max: Int = Int.MaxValue)

/** One native SQL function: its name, arity, `DESCRIBE FUNCTION` usage text,
  * the class of the node it builds, its foldable parameters by argument
  * position, and the builder. */
final case class NativeFunction(name: String, arity: Int, usage: String, nodeClass: String,
                                params: Map[Int, Param], build: Seq[Expression] => Expression) {
  def info: ExpressionInfo =
    new ExpressionInfo(nodeClass, null, name, usage, "", "", "", "", "", "", "built-in")

  /** What the function registry calls: arity check, then `build`. */
  def builder: Seq[Expression] => Expression = args => {
    if (args.length != arity) throw new IllegalArgumentException(
      s"$name expects $arity arguments, got ${args.length}")
    build(args)
  }
}

/** A static kernel method: `obj.method(args ++ params)` returning `dataType`.
  * `returnNullable` marks kernels that answer null for non-null input;
  * `onNull` names a no-argument method whose result replaces a null answer. */
final case class Kernel(name: String, obj: Class[_], method: String, inputTypes: Seq[DataType],
                        dataType: DataType, returnNullable: Boolean, onNull: Option[String])

/**
 * A call to a table kernel. It shows as `name(args)` in analyzed plans and
 * generated column names; the optimizer lowers it to
 * `StaticInvoke(kernel, dataType, method, args ++ params)`, the shape of
 * Spark's own static-method built-ins: generated code calls the kernel
 * method directly, interpreted eval through reflection. Null in any
 * argument gives null, as with `nullSafeEval`. `params` are the function's foldable parameter literals;
 * they are not children, so they stay out of the column name.
 */
case class KernelCall(k: Kernel, children: Seq[Expression], params: Seq[Literal])
  extends RuntimeReplaceable with ImplicitCastInputTypes {

  override def prettyName: String = k.name
  override def inputTypes: Seq[AbstractDataType] = k.inputTypes

  override lazy val replacement: Expression = {
    def call(method: String, args: Seq[Expression]) = StaticInvoke(
      k.obj, k.dataType, method, args, args.map(_.dataType), returnNullable = k.returnNullable)
    val main = call(k.method, children ++ params)
    k.onNull.fold[Expression](main)(m => Coalesce(Seq(main, call(m, Nil))))
  }

  override protected def stringArgs: Iterator[Any] = (children ++ params).iterator

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren)
}

/**
 * The registry of the graft SQL functions: one row per SQL name. The same
 * table feeds per-session [[register]] and the `spark.sql.extensions` entry
 * point [[GraftExtensions]], so adding a kernel is one row.
 *
 * Most rows are kernel calls lowered to `StaticInvoke` ([[KernelCall]]).
 * Five keep hand-written nodes: the two edit-distance nodes, which
 * [[BandedDistanceRewrite]] matches in the optimized plan after
 * `RuntimeReplaceable` is gone, and the three that carry a per-instance
 * table object into generated code (BPE merges, PQ codebook, PQ norms).
 */
object NativeFunctions {

  /** Argument `i` of `fn` as a foldable literal of `p`'s type (its internal
    * value) inside `p`'s range, or an IllegalArgumentException naming the
    * function and the argument. Checked when the call is analyzed, so an
    * out-of-range parameter never reaches a task. */
  private def param(fn: String, args: Seq[Expression], i: Int, p: Param): Any = args(i) match {
    case Literal(n: Int, _) if p.dataType == IntegerType && (n < p.min || n > p.max) =>
      throw new IllegalArgumentException(s"$fn expects ${p.name} in [${p.min}, ${p.max}] " +
        s"as argument ${i + 1}, got $n")
    case Literal(v, t) if v != null && t.sameType(p.dataType) => v
    case _ => throw new IllegalArgumentException(
      s"$fn expects a foldable ${p.dataType.simpleString} literal as argument ${i + 1}")
  }

  /** A hand-written node row; `params` maps argument positions to their
    * [[Param]], and `build` reads each through the checked accessor. */
  private def node[T <: Expression](name: String, arity: Int, usage: String,
                                    params: Map[Int, Param] = Map.empty)(
      build: (Seq[Expression], Int => Any) => T)(implicit t: ClassTag[T]) =
    NativeFunction(name, arity, usage, t.runtimeClass.getName, params,
      args => build(args, i => param(name, args, i, params(i))))

  /** A [[KernelCall]] row: `args` are the data arguments, `params` the
    * foldable literals after them. A string parameter reaches the kernel as
    * a `java.lang.String`. */
  private def kernel(name: String, usage: String, obj: AnyRef, method: String,
                     args: Seq[DataType], dataType: DataType, params: Seq[Param] = Nil,
                     returnNullable: Boolean = false, onNull: Option[String] = None) = {
    val k = Kernel(name, obj.getClass, method, args, dataType, returnNullable, onNull)
    val byPosition = params.zipWithIndex.map { case (p, i) => (args.size + i) -> p }.toMap
    node[KernelCall](name, args.size + params.size, usage, byPosition) { (cs, p) =>
      KernelCall(k, cs.take(args.size), byPosition.toSeq.sortBy(_._1).map { case (i, prm) =>
        p(i) match {
          case s: UTF8String => Literal(s.toString, ObjectType(classOf[String]))
          case v => Literal(v, prm.dataType)
        }
      })
    }
  }

  private def strings(v: Any): Seq[String] =
    v.asInstanceOf[ArrayData].toArray[UTF8String](StringType)
      .map(u => if (u == null) null else u.toString).toSeq
  private def doubles(v: Any): Array[Double] = v.asInstanceOf[ArrayData].toDoubleArray()

  private val Str = StringType
  private val Int32 = IntegerType
  private val Doubles = ArrayType(DoubleType)
  private def arrayOf(t: DataType) = ArrayType(t, containsNull = false)
  /** An int parameter of at least `min`. */
  private def atLeast(name: String, min: Int) = Param(name, Int32, min)
  private def str(name: String) = Param(name, Str)
  private def stringArray(name: String) = Param(name, ArrayType(Str))
  private def arrayOfStructs(fields: (String, DataType)*) = arrayOf(StructType(
    fields.map { case (n, t) => StructField(n, t, nullable = false) }))

  val table: Seq[NativeFunction] = Seq(
    node[DamerauLevenshteinExpr]("dl_distance", 2,
      "banded restricted (OSA) Damerau-Levenshtein — reference semantics") {
      (cs, _) => DamerauLevenshteinExpr(cs(0), cs(1), 0) },
    node[DamerauLevenshteinExpr]("dl_distance_full", 2,
      "full-matrix restricted (OSA) Damerau-Levenshtein") {
      (cs, _) => DamerauLevenshteinExpr(cs(0), cs(1), 1) },
    node[DamerauLevenshteinExpr]("dl_distance_true", 2,
      "unrestricted Damerau-Levenshtein (matches DuckDB)") {
      (cs, _) => DamerauLevenshteinExpr(cs(0), cs(1), 2) },
    node[DlWithinExpr]("dl_distance_within", 3,
      "threshold-bounded OSA Damerau-Levenshtein: min(dist, k+1) in O(n*k)") {
      (cs, _) => DlWithinExpr(cs(0), cs(1), cs(2)) },
    node[BpeEncode]("bpe_encode", 3, "apply a BPE merge table to one word",
      Map(1 -> stringArray("lefts"), 2 -> stringArray("rights"))) {
      (cs, p) => BpeEncode(cs(0), strings(p(1)), strings(p(2))) },
    node[PqEncodeCodes]("pq_encode", 4,
      "PQ byte codes of a vector against a flat codebook literal",
      Map(1 -> Param("codebook", Doubles), 2 -> atLeast("m", 1), 3 -> atLeast("ksub", 1))) {
      (cs, p) => PqEncodeCodes(cs(0), doubles(p(1)),
        p(2).asInstanceOf[Int], p(3).asInstanceOf[Int]) },
    node[PqAdcSim]("pq_adc_sim", 5,
      "asymmetric-cosine ADC score from PQ codes and a query LUT",
      Map(2 -> Param("norms", Doubles), 4 -> atLeast("ksub", 1))) {
      (cs, p) => PqAdcSim(cs(0), cs(1), doubles(p(2)), cs(3), p(4).asInstanceOf[Int]) },

    kernel("quality_signals", "document quality signals: alpha/punct/stopword ratios, " +
      "mean token length, composite quality, token count",
      QualityKernel, "signals", Seq(Str), arrayOf(DoubleType)),
    kernel("repetition_signals", "Gopher-style repetition signals over whitespace tokens",
      RepetitionKernel, "signals", Seq(Str), arrayOf(DoubleType)),
    kernel("gopher_signals", "Gopher (Rae'21) quality-rule signals: word count, mean word " +
      "length, symbol ratio, alpha-word/bullet-line/ellipsis-line fractions, stopword hits, " +
      "line count",
      GopherKernel, "signals", Seq(Str), arrayOf(DoubleType)),
    kernel("token_ngrams", "space-joined token n-grams of the normalized text",
      NgramKernel, "tokenNgrams", Seq(Str), arrayOf(Str), Seq(atLeast("n", 1))),
    kernel("token_segments", "non-overlapping width-token segments of the normalized text",
      NgramKernel, "tokenSegments", Seq(Str), arrayOf(Str), Seq(atLeast("width", 1))),
    kernel("array_ngrams", "space-joined n-grams over a token array",
      NgramKernel, "arrayNgrams", Seq(ArrayType(Str)), arrayOf(Str), Seq(atLeast("n", 1))),
    kernel("char_ngrams", "padded character n-grams of the normalized text",
      TextGramKernel, "charNgrams", Seq(Str), arrayOf(Str), Seq(atLeast("n", 1))),
    kernel("hashed_grams", "16-bit-md5 feature-hashed token gram ids",
      TextGramKernel, "hashedGrams", Seq(Str), arrayOf(Int32),
      Seq(atLeast("dim", 1), atLeast("maxN", 1))),
    kernel("hashed_gram_counts", "per-document counts of 16-bit-md5 feature-hashed token grams",
      TokenCountKernel, "hashedGramCounts", Seq(Str), arrayOfStructs("f" -> Int32, "c" -> LongType),
      Seq(atLeast("dim", 1), atLeast("maxN", 1))),
    kernel("char_ngram_profile", "per-document top-k character n-gram rank profile",
      TokenCountKernel, "charNgramProfile", Seq(Str),
      arrayOfStructs("gram" -> Str, "rank_d" -> LongType), Seq(atLeast("n", 1), atLeast("k", 0))),
    kernel("minhash_sig", "MinHash signature over word shingles",
      MinHashKernel, "signature", Seq(Str), arrayOf(LongType),
      Seq(atLeast("shingleK", 1), atLeast("nHashes", 1))),
    kernel("simhash_sig", "32-bit SimHash over whitespace tokens",
      SimHashKernel, "signature", Seq(Str), LongType),
    kernel("ngram_jaccard", "word-shingle Jaccard similarity of two texts",
      NgramJaccardKernel, "jaccard", Seq(Str, Str), DoubleType, Seq(atLeast("k", 1))),
    kernel("shingle_hashes", "distinct word-shingle 60-bit md5 hashes",
      ShingleHashKernel, "shingleHashes", Seq(Str), arrayOf(LongType), Seq(atLeast("shingleK", 1))),
    kernel("ensemble_minhash", "XOR-family minhash signature + distinct-shingle count",
      ShingleHashKernel, "ensembleSignature", Seq(Str), arrayOf(LongType),
      Seq(atLeast("shingleK", 1), atLeast("nHashes", 1))),
    kernel("hash_overlap_count", "multiset overlap count of two sorted long arrays",
      ShingleHashKernel, "overlapCount", Seq(ArrayType(LongType), ArrayType(LongType)), LongType),
    kernel("winnow_fingerprints", "Winnowing k-gram fingerprints (SWA'03)",
      WinnowKernel, "fingerprints", Seq(Str), arrayOfStructs("pos" -> Int32, "h" -> LongType),
      Seq(atLeast("k", 1), atLeast("w", 1))),
    kernel("kgram_hashes", "rolling 31-bit polynomial k-gram hashes of the normalized text",
      WinnowKernel, "kgramHashes", Seq(Str), arrayOf(LongType), Seq(atLeast("k", 1))),
    kernel("cosine_sim", "cosine similarity of two double arrays",
      CosineKernel, "cosine", Seq(Doubles, Doubles), DoubleType, returnNullable = true),
    kernel("sq8_cosine", "cosine similarity of two int8-quantized vectors",
      Sq8Kernel, "cosine", Seq(ArrayType(ByteType), ArrayType(ByteType)), DoubleType,
      returnNullable = true),
    kernel("lsh_band_keys", "random-hyperplane LSH band keys of a vector",
      LshBandKernel, "bandKeys", Seq(Doubles), arrayOf(Str),
      Seq(atLeast("nBands", 1), atLeast("bitsPerBand", 1), atLeast("dim", 1))),
    kernel("alphabet_encode", "char → alphabet-index encode (miss → |alphabet|)",
      AlphabetCodec, "encode", Seq(Str), arrayOf(LongType), Seq(str("alphabet"))),
    kernel("alphabet_decode", "index → char decode, stops at -1, miss → U+FFFD",
      AlphabetCodec, "decode", Seq(ArrayType(LongType)), Str, Seq(str("alphabet"))),
    // null id or text gives the no-token row, as the relational form's
    // left-join fallback does, so the function itself is never null
    kernel("span_corrupt", "T5 span corruption of one document",
      SpanCorruptKernel, "corrupt", Seq(Str, Str),
      StructType(Seq(StructField("input_text", Str, nullable = false),
        StructField("target_text", Str, nullable = false))),
      Seq(Param("cutoff", Int32, 0, 65536), atLeast("maxLen", 1)), onNull = Some("emptyResult")))

  /** Idempotent per-session registration: skips names already present, so
    * repeated calls in one JVM neither replace nor warn. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    table.foreach { f =>
      val id = FunctionIdentifier(f.name)
      if (!registry.functionExists(id)) registry.registerFunction(id, f.info, f.builder)
    }
  }
}

/** `SparkSessionExtensions` injector:
  * `spark.sql.extensions=org.apache.spark.sql.graft.GraftExtensions`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    NativeFunctions.table.foreach(f =>
      ext.injectFunction((FunctionIdentifier(f.name), f.info, f.builder)))
    ext.injectOptimizerRule(_ => BandedDistanceRewrite)
  }
}
