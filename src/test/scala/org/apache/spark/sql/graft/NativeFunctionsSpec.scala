package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.functions.{call_function, coalesce, col, lit, typedLit}
import org.apache.spark.sql.types._

/**
 * Every registry function, called on one RDD-backed fixture (a LocalRelation
 * would be evaluated eagerly by ConvertToLocalRelation, so neither generated
 * code nor the interpreted operators would run). The fixture has a null in
 * each data-argument position, empty text and arrays, non-ASCII and astral
 * code points, and each call list covers the function's boundary parameters.
 */
class NativeFunctionsSpec extends graft.SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", StringType), StructField("a", StringType), StructField("b", StringType),
    StructField("n", IntegerType, nullable = false), StructField("toks", ArrayType(StringType)),
    StructField("v", ArrayType(DoubleType)), StructField("w", ArrayType(DoubleType)),
    StructField("q", ArrayType(ByteType)), StructField("r", ArrayType(ByteType)),
    StructField("h", ArrayType(LongType)), StructField("g", ArrayType(LongType)),
    StructField("codes", ArrayType(LongType)), StructField("qn", DoubleType)))

  private def bytes(xs: Int*) = xs.map(_.toByte)

  private val rows = Seq(
    Row("d0", null, "x y", 0, Seq("a", "b", "c"), Seq(1.0, 2.0, 3.0), null,
      bytes(1, 0), bytes(1, 1), Seq(1L, 2L, 2L), Seq(2L, 2L, 3L), Seq(0L, 1L, 2L, -1L, 3L), 1.0),
    Row(null, "", null, 1, null, null, Seq(1.0), null, bytes(), null, Seq(1L), null, 0.0),
    Row("d2", "the quick brown fox jumps over the lazy dog. the end... #tag",
      "the quick brown fox", 2, Seq(), Seq(), Seq(), bytes(), null, Seq(), Seq(),
      Seq(), null),
    Row("d3", "привет мир  Привет\tмир\n- bullet line …\n* second...  ", "пирвет мир", 3,
      Seq("привет", "мир"), Seq(0.0, 0.0), Seq(1.0, 2.0), bytes(-128, 127), bytes(127, -128),
      Seq(-5L, 0L, 7L), Seq(-5L, 7L, 7L), Seq(null, 5L, -2L, 100L), 2.5),
    Row("d4", "𝔘𝔫𝔦 😀 astral 😀 text 𝔘𝔫𝔦", "😀 astral", 4, Seq("😀", "𝔘"),
      Seq(1.0, null, 2.0), Seq(1.0, 1.0, 1.0), Seq(1.toByte, null, 2.toByte), bytes(1, 1, 1),
      Seq(Long.MinValue, Long.MaxValue), Seq(Long.MaxValue), Seq(3L, 4L, 5L, -6L), -1.0),
    Row("d5", "   leading and trailing   ", "", 5, Seq(""), Seq(3.0, -1.0, 2.5, 0.5),
      Seq(3.0, -1.0), bytes(3, -1), bytes(3, -1, 2), Seq(4L), Seq(4L, 4L), Seq(-1L), 1e-300),
    Row("d6", "a a a a a a a a b b b b", "a a a b", 6, Seq("a", "a"),
      Seq(Double.NaN, 1.0), Seq(1.0, 1.0), bytes(0, 0), bytes(0, 0), Seq(1L, 1L), Seq(1L),
      Seq(0L, 0L, 0L), 3.0))

  private def fixture: DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)

  private val alphabet = "abc😀𝔘 "

  /** (name, arguments): a `Column` is a data argument, anything else a
    * parameter, passed as a literal. */
  private val calls: Seq[(String, Seq[Any])] = Seq(
    "dl_distance" -> Seq(col("a"), col("b")),
    "dl_distance_full" -> Seq(col("a"), col("b")),
    "dl_distance_true" -> Seq(col("a"), col("b")),
    "dl_distance_within" -> Seq(col("a"), col("b"), col("n")),
    "cosine_sim" -> Seq(col("v"), col("w")),
    "sq8_cosine" -> Seq(col("q"), col("r")),
    "lsh_band_keys" -> Seq(col("v"), 1, 1, 1),
    "lsh_band_keys" -> Seq(col("v"), 4, 8, 3),
    "pq_encode" -> Seq(col("v"), Array(0.5), 1, 1),
    "pq_encode" -> Seq(col("v"), Array(0.0, 1.0, 2.0, 3.0), 2, 2),
    "pq_adc_sim" -> Seq(col("q"), col("w"), Array(1.0, 2.0, 3.0, 4.0), col("qn"), 2),
    "quality_signals" -> Seq(col("a")),
    "repetition_signals" -> Seq(col("a")),
    "gopher_signals" -> Seq(col("a")),
    "token_ngrams" -> Seq(col("a"), 1),
    "token_ngrams" -> Seq(col("a"), 3),
    "token_ngrams" -> Seq(col("a"), 100),
    "token_segments" -> Seq(col("a"), 1),
    "token_segments" -> Seq(col("a"), 4),
    "array_ngrams" -> Seq(col("toks"), 1),
    "array_ngrams" -> Seq(col("toks"), 2),
    "char_ngrams" -> Seq(col("a"), 1),
    "char_ngrams" -> Seq(col("a"), 3),
    "hashed_grams" -> Seq(col("a"), 1, 1),
    "hashed_grams" -> Seq(col("a"), 1024, 2),
    "hashed_gram_counts" -> Seq(col("a"), 1, 2),
    "hashed_gram_counts" -> Seq(col("a"), 64, 1),
    "char_ngram_profile" -> Seq(col("a"), 1, 0),
    "char_ngram_profile" -> Seq(col("a"), 3, 5),
    "minhash_sig" -> Seq(col("a"), 1, 1),
    "minhash_sig" -> Seq(col("a"), 3, 16),
    "simhash_sig" -> Seq(col("a")),
    "ngram_jaccard" -> Seq(col("a"), col("b"), 1),
    "ngram_jaccard" -> Seq(col("a"), col("b"), 3),
    "shingle_hashes" -> Seq(col("a"), 1),
    "shingle_hashes" -> Seq(col("a"), 5),
    "ensemble_minhash" -> Seq(col("a"), 1, 1),
    "ensemble_minhash" -> Seq(col("a"), 3, 8),
    "hash_overlap_count" -> Seq(col("h"), col("g")),
    "winnow_fingerprints" -> Seq(col("a"), 1, 1),
    "winnow_fingerprints" -> Seq(col("a"), 5, 4),
    "winnow_fingerprints" -> Seq(col("a"), 3, 100),
    "kgram_hashes" -> Seq(col("a"), 1),
    "kgram_hashes" -> Seq(col("a"), 200),
    "alphabet_encode" -> Seq(col("a"), alphabet),
    "alphabet_encode" -> Seq(col("a"), ""),
    "alphabet_decode" -> Seq(col("codes"), alphabet),
    "alphabet_decode" -> Seq(col("codes"), ""),
    "span_corrupt" -> Seq(col("id"), col("a"), 0, 1),
    "span_corrupt" -> Seq(col("id"), col("a"), 30000, 5),
    "span_corrupt" -> Seq(col("id"), col("a"), 65536, 3),
    "bpe_encode" -> Seq(col("a"), Array.empty[String], Array.empty[String]),
    "bpe_encode" -> Seq(col("a"), Array("t", "th", "a", "😀"), Array("h", "e", "</w>", " ")))

  private def arg(x: Any): Column = x match {
    case c: Column => c
    case other => lit(other)
  }
  private def call(name: String, args: Seq[Any]): Column = call_function(name, args.map(arg): _*)

  private def notNull(t: DataType) = ArrayType(t, containsNull = false)
  private def struct2(a: (String, DataType), b: (String, DataType)) = StructType(Seq(
    StructField(a._1, a._2, nullable = false), StructField(b._1, b._2, nullable = false)))

  // pinned output types, as the per-function nodes declared them
  private val dataTypes: Map[String, DataType] = Map(
    "dl_distance" -> IntegerType, "dl_distance_full" -> IntegerType,
    "dl_distance_true" -> IntegerType, "dl_distance_within" -> IntegerType,
    "cosine_sim" -> DoubleType, "sq8_cosine" -> DoubleType, "pq_adc_sim" -> DoubleType,
    "ngram_jaccard" -> DoubleType,
    "lsh_band_keys" -> notNull(StringType), "pq_encode" -> ArrayType(ByteType, containsNull = true),
    "quality_signals" -> notNull(DoubleType), "repetition_signals" -> notNull(DoubleType),
    "gopher_signals" -> notNull(DoubleType),
    "token_ngrams" -> notNull(StringType), "token_segments" -> notNull(StringType),
    "array_ngrams" -> notNull(StringType), "char_ngrams" -> notNull(StringType),
    "bpe_encode" -> notNull(StringType),
    "hashed_grams" -> notNull(IntegerType),
    "hashed_gram_counts" -> notNull(struct2("f" -> IntegerType, "c" -> LongType)),
    "char_ngram_profile" -> notNull(struct2("gram" -> StringType, "rank_d" -> LongType)),
    "winnow_fingerprints" -> notNull(struct2("pos" -> IntegerType, "h" -> LongType)),
    "minhash_sig" -> notNull(LongType), "shingle_hashes" -> notNull(LongType),
    "ensemble_minhash" -> notNull(LongType), "kgram_hashes" -> notNull(LongType),
    "alphabet_encode" -> notNull(LongType),
    "simhash_sig" -> LongType, "hash_overlap_count" -> LongType,
    "alphabet_decode" -> StringType,
    "span_corrupt" -> struct2("input_text" -> StringType, "target_text" -> StringType))
  // null for non-null input (else nullable exactly when an input is)
  private val nullOnNonNullInput = Set("cosine_sim", "sq8_cosine", "pq_adc_sim")
  private val neverNull = Set("span_corrupt")

  test("the call list covers every registry function") {
    assert(calls.map(_._1).toSet == NativeFunctions.table.map(_.name).toSet)
    assert(dataTypes.keySet == NativeFunctions.table.map(_.name).toSet)
  }

  test("output dataType and nullability are pinned for every function") {
    NativeFunctions.register(spark)
    val df = fixture
    val nonNull = df.select(df.columns.map(c => coalesce(col(c), df.schema(c).dataType match {
      case StringType => lit("")
      case IntegerType => lit(0)
      case DoubleType => lit(0.0)
      case ArrayType(StringType, _) => typedLit(Seq.empty[String])
      case ArrayType(DoubleType, _) => typedLit(Seq.empty[Double])
      case ArrayType(ByteType, _) => typedLit(Seq.empty[Byte])
      case ArrayType(LongType, _) => typedLit(Seq.empty[Long])
    }).as(c)).toSeq: _*)
    calls.foreach { case (name, args) =>
      val f = df.select(call(name, args)).schema.head
      assert(f.dataType == dataTypes(name), name)
      assert(f.nullable == !neverNull(name), s"$name nullable over nullable input")
      val g = nonNull.select(call(name, args)).schema.head
      assert(g.nullable == nullOnNonNullInput(name), s"$name nullable over non-null input")
    }
  }

  test("generated code and interpreted eval give the same rows, with no codegen fallback") {
    NativeFunctions.register(spark)
    val confs = Seq("spark.sql.codegen.factoryMode", "spark.sql.codegen.fallback",
      "spark.sql.codegen.wholeStage")
    def evalAll(settings: Seq[String]): Seq[Seq[String]] = {
      val saved = confs.map(spark.conf.getOption)
      try {
        confs.zip(settings).foreach { case (k, v) => spark.conf.set(k, v) }
        calls.map { case (name, args) =>
          fixture.select(col("a"), call(name, args)).collect().toSeq.map(_.toString).sorted
        }
      } finally confs.zip(saved).foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    val before = confs.map(spark.conf.getOption)
    val generated = evalAll(Seq("CODEGEN_ONLY", "false", "true"))
    val interpreted = evalAll(Seq("NO_CODEGEN", "true", "false"))
    assert(confs.map(spark.conf.getOption) == before, "codegen confs not restored")
    calls.zip(generated.zip(interpreted)).foreach { case ((name, args), (g, i)) =>
      assert(g.size == rows.size, name)
      assert(g == i, s"$name(${args.mkString(", ")})")
    }
  }

  test("lowered kernels keep the SQL name in analyzed plans and column names") {
    NativeFunctions.register(spark)
    val q = fixture.select(call("quality_signals", Seq(col("a"))),
      call("minhash_sig", Seq(col("a"), 3, 16)), call("span_corrupt", Seq(col("id"), col("a"), 0, 1)))
    assert(q.columns.toSeq == Seq("quality_signals(a)", "minhash_sig(a)", "span_corrupt(id, a)"))
    assert(q.queryExecution.analyzed.toString.contains("quality_signals(a#"))
    val optimized = q.queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(_.collect {
      case k: KernelCall => k
      case s: StaticInvoke => s
    }))
    assert(optimized.nonEmpty && optimized.forall(_.isInstanceOf[StaticInvoke]))
  }

  test("a wrong arity or a non-literal parameter fails naming the function") {
    NativeFunctions.register(spark)
    val df = fixture
    // a column of each parameter type, standing in for the literal
    def column(param: Any): Column = param match {
      case _: Int => col("n")
      case _: String => col("a")
      case _: Array[Double] => col("v")
      case _: Array[String] => col("toks")
    }
    def fails(name: String, args: Seq[Column]): Unit = {
      val e = intercept[IllegalArgumentException](df.select(call_function(name, args: _*)))
      assert(e.getMessage.contains(name), e.getMessage)
    }
    calls.groupBy(_._1).values.map(_.head).foreach { case (name, args) =>
      val cols = args.map(arg)
      fails(name, cols :+ col("a"))
      fails(name, cols.init)
      args.zipWithIndex.foreach {
        case (_: Column, _) =>
        case (p, i) => fails(name, cols.updated(i, column(p)))
      }
    }
  }

  test("an out-of-range parameter fails at analysis naming the function and the argument") {
    NativeFunctions.register(spark)
    val df = fixture
    def fails(name: String, args: Seq[Any], position: Int): Unit = {
      val e = intercept[IllegalArgumentException](df.select(call(name, args)))
      assert(e.getMessage.contains(name) && e.getMessage.contains(s"argument $position"),
        e.getMessage)
    }
    // the calls that aborted the task with a division by zero or gave garbage
    fails("span_corrupt", Seq(col("id"), col("a"), 30000, 0), 4)
    fails("hashed_grams", Seq(col("a"), 0, 2), 2)
    fails("hashed_gram_counts", Seq(col("a"), 0, 2), 2)
    fails("token_ngrams", Seq(col("a"), 0), 2)
    // every int parameter has a range: one past either end fails, and each
    // end that is not the int limit itself runs
    val byName = NativeFunctions.table.map(f => f.name -> f).toMap
    calls.groupBy(_._1).values.map(_.head).foreach { case (name, args) =>
      byName(name).params.foreach { case (i, p) =>
        assert(args(i).isInstanceOf[Int] == (p.dataType == IntegerType), s"$name argument ${i + 1}")
        if (p.dataType == IntegerType) {
          assert(p.min > Int.MinValue, s"$name argument ${i + 1} has no lower bound")
          fails(name, args.updated(i, p.min - 1), i + 1)
          if (p.max < Int.MaxValue) fails(name, args.updated(i, p.max + 1), i + 1)
          val ends = Seq(p.min, p.max).filter(_ < Int.MaxValue)
          ends.foreach(v => assert(df.select(call(name, args.updated(i, v))).collect().length == rows.size))
        }
      }
    }
  }

  test("array_ngrams skips a null element instead of failing the task") {
    NativeFunctions.register(spark)
    val df = spark.createDataFrame(spark.sparkContext.parallelize(Seq(Row(Seq("a", null, "b"))), 1),
      StructType(Seq(StructField("toks", ArrayType(StringType)))))
    assert(df.select(call("array_ngrams", Seq(col("toks"), 2))).head().getSeq[String](0) == Seq("a b"))
    assert(df.select(call("array_ngrams", Seq(col("toks"), 1))).head().getSeq[String](0) ==
      Seq("a", "b"))
  }
}
