package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.similarity.Pq

class PqSpec extends AnyFunSuite {
  val spark = SparkSpec.spark
  import spark.implicits._

  // deterministic synthetic vectors: dim 8, values on a small lattice so
  // clusters are real but ties are possible (exercising the tie rule)
  private val dim = 8
  private def vec(i: Int): Array[Double] =
    // round-trip through FLOAT: the stored table is float32, and the engine
    // casts float -> double, so the mirror must quantize the same way
    Array.tabulate(dim)(j => ((((i * 31 + j * 7) % 13) - 6) / 6.0).toFloat.toDouble)
  private val n = 40
  private val emb = (0 until n).map(i => (i.toLong, vec(i).map(_.toFloat)))
    .toDF("vec_id", "embedding")

  // ---- driver-side mirrors (same fold orders as the engine) ----
  private def slices(v: Array[Double], m: Int): Array[Array[Double]] =
    v.grouped(v.length / m).toArray
  private def d2(a: Array[Double], b: Array[Double]): Double = {
    var acc = 0.0; var i = 0
    while (i < a.length) { acc += (a(i) - b(i)) * (a(i) - b(i)); i += 1 }
    acc
  }
  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var acc = 0.0; var i = 0
    while (i < a.length) { acc += a(i) * b(i); i += 1 }
    acc
  }
  private def argminCode(sub: Array[Double], cents: Array[Array[Double]]): Int = {
    var best = 0; var bd = d2(sub, cents(0)); var c = 1
    while (c < cents.length) {
      val d = d2(sub, cents(c)); if (d < bd) { bd = d; best = c }; c += 1
    }
    best
  }

  private def collectCb(cb: org.apache.spark.sql.DataFrame, m: Int, ksub: Int) = {
    val arr = Array.ofDim[Array[Double]](m, ksub)
    cb.collect().foreach(r => arr(r.getInt(0))(r.getInt(1)) = r.getSeq[Double](2).toArray)
    arr
  }

  test("iterations = 0 codebook is exactly the first ksub vectors, sliced per subspace") {
    val (m, ksub) = (4, 4)
    val cb = collectCb(Pq.pqTrain(emb, m, ksub, iterations = 0), m, ksub)
    for (code <- 0 until ksub; j <- 0 until m)
      assert(cb(j)(code).toSeq == slices(vec(code), m)(j).toSeq, s"j=$j code=$code")
  }

  test("encode matches the driver argmin mirror and is repartition-proof") {
    val (m, ksub) = (4, 4)
    val cbDf = Pq.pqTrain(emb, m, ksub, iterations = 1)
    val cb = collectCb(cbDf, m, ksub)
    val got = Pq.pqEncode(emb, cbDf, m, ksub)
      .as[(Long, Seq[Byte])].collect().toMap
    (0 until n).foreach { i =>
      val want = slices(vec(i), m).zipWithIndex.map { case (s, j) => argminCode(s, cb(j)).toByte }
      assert(got(i.toLong).toSeq == want.toSeq, s"vec $i")
    }
    val got2 = Pq.pqEncode(emb.repartition(7), cbDf, m, ksub)
      .as[(Long, Seq[Byte])].collect().toMap
    assert((0 until n).forall(i => got(i.toLong).toSeq == got2(i.toLong).toSeq))
  }

  test("Lloyd steps do not increase total quantization error") {
    val (m, ksub) = (4, 4)
    def totalErr(iters: Int): Double = {
      val cbDf = Pq.pqTrain(emb, m, ksub, iterations = iters)
      val cb = collectCb(cbDf, m, ksub)
      (0 until n).map { i =>
        slices(vec(i), m).zipWithIndex.map { case (s, j) => d2(s, cb(j)(argminCode(s, cb(j)))) }.sum
      }.sum
    }
    val errs = (0 to 3).map(totalErr)
    errs.sliding(2).foreach { case Seq(a, b) => assert(b <= a + 1e-12, s"$errs") }
    assert(errs.last < errs.head, s"training must actually improve: $errs")
  }

  test("decode reconstructs the concatenated named centroids") {
    val (m, ksub) = (4, 4)
    val cbDf = Pq.pqTrain(emb, m, ksub, iterations = 1)
    val cb = collectCb(cbDf, m, ksub)
    val codes = Pq.pqEncode(emb, cbDf, m, ksub)
    val dec = Pq.pqDecode(codes, cbDf, m, ksub)
      .as[(Long, Seq[Double])].collect().toMap
    val enc = codes.as[(Long, Seq[Byte])].collect().toMap
    (0 until n).foreach { i =>
      val want = enc(i.toLong).zipWithIndex.flatMap { case (c, j) => cb(j)(c.toInt) }
      assert(dec(i.toLong).toSeq == want.toSeq, s"vec $i")
    }
  }

  test("ADC sim equals cosine(query, reconstruction) — driver mirror, bit-level") {
    val (m, ksub, k) = (4, 4, 5)
    val cbDf = Pq.pqTrain(emb, m, ksub, iterations = 1)
    val cb = collectCb(cbDf, m, ksub)
    val codes = Pq.pqEncode(emb, cbDf, m, ksub)
    val queries = emb.filter($"vec_id" < 3)
    val got = Pq.pqTopK(queries, codes, cbDf, k, m, ksub)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._3) -> r._4).toMap
    val enc = codes.as[(Long, Seq[Byte])].collect().toMap
    def round4(x: Double) = math.floor(x * 10000 + 0.5) / 10000
    got.foreach { case ((q, nb), sim) =>
      val qv = vec(q.toInt)
      // ADC fold order: partial dots and partial norms per subspace j
      val dots = slices(qv, m).zipWithIndex.map { case (s, j) => dot(s, cb(j)(enc(nb)(j).toInt)) }
      val n2s = enc(nb).zipWithIndex.map { case (c, j) => dot(cb(j)(c.toInt), cb(j)(c.toInt)) }
      val qn = math.sqrt(dot(qv, qv))
      val want = round4(dots.foldLeft(0.0)(_ + _) / (qn * math.sqrt(n2s.foldLeft(0.0)(_ + _))))
      assert(sim == want, s"q=$q nb=$nb: $sim vs $want")
    }
    // ranked, self-excluded, k rows per query
    val rows = Pq.pqTopK(queries, codes, cbDf, k, m, ksub)
      .as[(Long, Long, Long, Double)].collect()
    assert(rows.groupBy(_._1).forall(_._2.length == k))
    assert(rows.forall(r => r._1 != r._3))
  }

  test("degenerate exactness: every vector in the codebook => ADC == exact cosine") {
    // m = 1, ksub = n, iterations = 0: the codebook IS the corpus, each
    // vector encodes to itself (d2 = 0), reconstruction is exact, so the
    // asymmetric cosine equals the true cosine on every pair
    val small = emb.filter($"vec_id" < 16)
    val (m, ksub) = (1, 16)
    val cbDf = Pq.pqTrain(small, m, ksub, iterations = 0)
    val codes = Pq.pqEncode(small, cbDf, m, ksub)
    val adc = Pq.pqTopK(small, codes, cbDf, k = 5, m, ksub)
      .as[(Long, Long, Long, Double)].collect().map(r => (r._1, r._3) -> r._4).toMap
    val exact = graft.similarity.Similarity.bruteForceTopK(small, small, 5)
      .as[(Long, Long, Long, Double)].collect().map(r => (r._1, r._3) -> r._4).toMap
    assert(adc == exact, s"adc diverges from exact: ${adc.toSet.diff(exact.toSet).take(3)}")
  }

  test("IVF-PQ with all cells probed is exactly pqTopK; pruning stays cell-consistent") {
    val (m, ksub, k, nc) = (4, 4, 5, 4)
    val queries = emb.filter($"vec_id" < 4)
    // nProbes = nCentroids: the probe filter keeps every cell, so IVF-PQ
    // must reproduce plain PQ bit-for-bit (same codebooks: trained on the
    // same corpus with the same seed rule)
    val cbDf = Pq.pqTrain(emb, m, ksub, iterations = 1)
    val codes = Pq.pqEncode(emb, cbDf, m, ksub)
    val plain = Pq.pqTopK(queries, codes, cbDf, k, m, ksub)
      .as[(Long, Long, Long, Double)].collect().sortBy(r => (r._1, r._2))
    val full = Pq.ivfPqTopK(queries, emb, k, nCentroids = nc, nProbes = nc,
        m = m, ksub = ksub, ivfIterations = 1, pqIterations = 1)
      .as[(Long, Long, Long, Double)].collect().sortBy(r => (r._1, r._2))
    assert(full.toSeq == plain.toSeq)

    // nProbes = 1: every neighbor lies in the query's single probed cell,
    // and each returned sim equals the plain-PQ sim for that same pair
    // (pruning changes the candidate set, never a score)
    val (_, assigned) = graft.similarity.Similarity.ivfIndex(emb, nc, iterations = 1)
    val cellOf = assigned.select($"vec_id", $"centroid_id")
      .as[(Long, Int)].collect().toMap
    val pruned = Pq.ivfPqTopK(queries, emb, k, nCentroids = nc, nProbes = 1,
        m = m, ksub = ksub, ivfIterations = 1, pqIterations = 1)
      .as[(Long, Long, Long, Double)].collect()
    assert(pruned.nonEmpty)
    val plainSims = Pq.pqTopK(queries, codes, cbDf, k = n, m, ksub)
      .as[(Long, Long, Long, Double)].collect().map(r => (r._1, r._3) -> r._4).toMap
    pruned.foreach { case (q, _, nb, sim) =>
      assert(plainSims((q, nb)) == sim, s"sim drift on ($q, $nb)")
    }
    // all neighbors of one query share one cell under nProbes = 1
    pruned.groupBy(_._1).foreach { case (q, rows) =>
      assert(rows.map(r => cellOf(r._3)).toSet.size == 1, s"query $q spans cells")
    }
  }

  test("persisted index round-trips and ranks identically") {
    val (m, ksub) = (4, 4)
    val dir = java.nio.file.Files.createTempDirectory("pq-index").toString
    Pq.pqWrite(emb, dir, m, ksub, iterations = 1)
    val (cbL, codesL, mL, ksubL) = Pq.pqRead(spark, dir)
    assert((mL, ksubL) == (m, ksub))
    val queries = emb.filter($"vec_id" < 3)
    val fresh = {
      val cb = Pq.pqTrain(emb, m, ksub, iterations = 1)
      Pq.pqTopK(queries, Pq.pqEncode(emb, cb, m, ksub), cb, 5, m, ksub)
        .as[(Long, Long, Long, Double)].collect().sortBy(r => (r._1, r._2))
    }
    val loaded = Pq.pqTopK(queries, codesL, cbL, 5, mL, ksubL)
      .as[(Long, Long, Long, Double)].collect().sortBy(r => (r._1, r._2))
    assert(fresh.toSeq == loaded.toSeq)
  }

  test("pq_encode kernel ≡ exploded+regrouped witness, incl. null/short/tie edges") {
    val (m, ksub) = (4, 4)
    // edge rows: null vector, empty, short (partial subspace coverage),
    // one null element (nulls only its subspace), plus the tie lattice
    val edge = emb.unionByName(Seq[(Long, Option[Array[Option[Float]]])](
        (100L, None),
        (101L, Some(Array.empty[Option[Float]])),
        (102L, Some(Array.tabulate(3)(j => Option(j.toFloat)))),
        (103L, Some(Array.tabulate(dim)(j => if (j == 5) None else Option(j / 7.0f)))))
      .toDF("vec_id", "embedding"))
    val cbDf = Pq.pqTrain(emb, m, ksub, iterations = 0)
    val a = Pq.pqEncode(edge, cbDf, m, ksub)
      .as[(Long, Seq[Option[Byte]])].collect().toMap
    val b = Pq.pqEncodeGrouped(edge, cbDf, m, ksub)
      .as[(Long, Seq[Option[Byte]])].collect().toMap
    assert(a.keySet == b.keySet)
    a.keySet.foreach(k => assert(a(k) == b(k), s"vec $k: ${a(k)} vs ${b(k)}"))
  }

  test("pq_adc_sim kernel pqTopK ≡ interpreted-HOF witness path, bit-level") {
    val (m, ksub) = (4, 4)
    // a zero query vector exercises the lazy zero-denominator rule on the
    // query-norm side (qn = 0 => denom = 0 => sim = 0.0, never null)
    val withZero = emb.unionByName(Seq(
      (200L, Array.fill(dim)(0.0f))).toDF("vec_id", "embedding"))
    val queries = withZero.filter($"vec_id" < 3 || $"vec_id" === 200L)
    val cbDf = Pq.pqTrain(emb, m, ksub, iterations = 1)
    val codes = Pq.pqEncode(withZero, cbDf, m, ksub)
    val kernel = Pq.pqTopK(queries, codes, cbDf, 7, m, ksub)
      .as[(Long, Long, Long, Double)].collect().sortBy(r => (r._1, r._2))
    val witness = Pq.pqTopKHof(queries, codes, cbDf, 7, m, ksub)
      .as[(Long, Long, Long, Double)].collect().sortBy(r => (r._1, r._2))
    assert(kernel.toSeq == witness.toSeq)
  }
  test("pq_adc_sim: codes from a mismatched codebook score null like the witness, never throw") {
    org.apache.spark.sql.graft.PqAdcExpr.register(spark)
    // the scorer's codebook: m = 2, ksub = 4 → 8 LUT entries per table
    val n2 = typedLit(Seq.tabulate(8)(i => 1.0 + i))
    val lut8 = Seq.tabulate(8)(i => 0.5 * i)
    val rows = Seq(
      (Seq[Byte](1, 3), lut8),      // in range: a real score
      (Seq[Byte](1, 7), lut8),      // ksub = 8 code: 4 + 7 is past the LUT
      (Seq[Byte](0, 4), lut8),      // 4 + 4 = 8, one past the end
      (Seq[Byte](1, 2, 0), lut8),   // m = 3 codes against m = 2
      (Seq[Byte](1, 3), lut8.take(4))) // a query LUT from a smaller codebook
    val df = rows.toDF("codes", "lut")
    val kernel = df.select(call_function("pq_adc_sim",
      col("codes"), col("lut"), n2, lit(1.0), lit(4))).collect().map(r => Option(r.get(0)))
    assert(kernel(0).isDefined)
    assert(kernel.drop(1).forall(_.isEmpty), kernel.toSeq)
    // the HOF witness: out-of-range element_at is null outside ANSI mode
    val prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try {
      def fold(table: org.apache.spark.sql.Column) =
        aggregate(transform(col("codes"), (c, j) => element_at(table, j * 4 + c.cast("int") + 1)),
          lit(0.0), (acc, x) => acc + x)
      val denom = lit(1.0) * sqrt(fold(n2))
      val witness = df.select(when(denom === 0.0, 0.0).otherwise(fold(col("lut")) / denom))
        .collect().map(r => Option(r.get(0)))
      assert(kernel.toSeq == witness.toSeq)
    } finally spark.conf.set("spark.sql.ansi.enabled", prev)
  }
}
