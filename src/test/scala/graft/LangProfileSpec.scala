package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.textanalysis.LangProfile

class LangProfileSpec extends AnyFunSuite {
  val spark = SparkSpec.spark
  import spark.implicits._

  // three synthetic "languages" with distinct character statistics
  private def enDoc(i: Int) = s"the quick brown fox number $i jumps over the lazy dog and runs there"
  private def deDoc(i: Int) = s"der schnelle braune fuchs nummer $i springt über den faulen hund während"
  private def zzDoc(i: Int) = s"zxq zxq qzx xqz zqx number $i zzzz qqqq xxxx zxqzxq qzxqzx"
  private val labeled = ((0 until 20).map(i => (s"en$i", enDoc(i), "en")) ++
    (0 until 20).map(i => (s"de$i", deDoc(i), "de")) ++
    (0 until 20).map(i => (s"zz$i", zzDoc(i), "zz")))
    .toDF("doc_id", "text", "lang")

  test("trained profiles classify held-out docs of each language correctly") {
    val profiles = LangProfile.train(labeled, k = 200)
    // held-out docs: same generators, unseen indices
    val test = (Seq((100L, enDoc(99), "en"), (101L, deDoc(99), "de"), (102L, zzDoc(99), "zz"),
      (103L, enDoc(77), "en"), (104L, deDoc(77), "de"))).toDF("doc_id", "text", "truth")
    val got = LangProfile.classify(test, profiles)
      .as[(Long, String, Long)].collect().map(r => r._1 -> r._2).toMap
    val want = test.select($"doc_id", $"truth").as[(Long, String)].collect().toMap
    want.foreach { case (id, t) => assert(got(id) == t, s"doc $id: ${got(id)} vs $t") }
  }

  test("ranks are deterministic (ties by gram) and classification is repartition-proof") {
    val p1 = LangProfile.train(labeled, k = 150)
      .as[(String, String, Long)].collect().sortBy(r => (r._1, r._3))
    val p2 = LangProfile.train(labeled.repartition(7), k = 150)
      .as[(String, String, Long)].collect().sortBy(r => (r._1, r._3))
    assert(p1.toSeq == p2.toSeq)
    val profiles = LangProfile.train(labeled, k = 150)
    val a = LangProfile.classify(labeled, profiles)
      .as[(String, String, Long)].collect().sortBy(_._1)
    val b = LangProfile.classify(labeled.repartition(3), profiles)
      .as[(String, String, Long)].collect().sortBy(_._1)
    assert(a.toSeq == b.toSeq)
    // self-classification on the training corpus is perfect here
    val truth = labeled.select($"doc_id", $"lang").as[(String, String)].collect().toMap
    a.foreach { case (id, pred, _) => assert(pred == truth(id), s"doc $id") }
  }

  test("empty docs fall back to the smallest lang at distance 0; profiles round-trip") {
    val profiles = LangProfile.train(labeled, k = 100)
    val rows = LangProfile.classify(Seq((1L, ""), (2L, "   ")).toDF("doc_id", "text"), profiles)
      .as[(Long, String, Long)].collect().sortBy(_._1)
    // smallest lang lexicographically, zero distance — no evidence
    rows.foreach { r => assert(r._2 == "de" && r._3 == 0L, r.toString) }
    val dir = java.nio.file.Files.createTempDirectory("langprof").toString
    LangProfile.save(profiles, dir)
    val loaded = LangProfile.load(spark, dir)
    val fresh = LangProfile.classify(labeled, profiles).as[(String, String, Long)].collect().sortBy(_._1)
    val viaDisk = LangProfile.classify(labeled, loaded).as[(String, String, Long)].collect().sortBy(_._1)
    assert(fresh.toSeq == viaDisk.toSeq)
  }
  test("char_ngrams kernel ≡ pure-Column trigram builder") {
    org.apache.spark.sql.graft.NativeFunctions.register(spark)
    val edge = Seq(
      (0L, ""), (1L, "   "), (2L, "ab"), (3L, "abc"), (4L, "two words"),
      (5L, "\tTAB  and\n\nNEWLINES  here"), (6L, "ЖУРНАЛ Русский Текст"),
      (7L, "😀 emoji 😀 tokens"), (8L, enDoc(3)), (9L, deDoc(5)))
      .toDF("doc_id", "text")
    val kernel = edge.select($"doc_id",
      call_function("char_ngrams", $"text", lit(3)).as("g"))
      .as[(Long, Seq[String])].collect().toMap
    val cols = edge.select($"doc_id", LangProfile.gramsColumns($"text").as("g"))
      .as[(Long, Seq[String])].collect().toMap
    assert(kernel == cols)
  }

  test("char_ngram_profile kernel doc profiles ≡ windowed witness") {
    org.apache.spark.sql.graft.NativeFunctions.register(spark)
    val edge = Seq(
      (0L, ""), (1L, "   "), (2L, "ab"), (3L, "abc"), (4L, "two words"),
      (5L, "\tTAB  and\n\nNEWLINES  here"), (6L, "ЖУРНАЛ Русский Текст"),
      (7L, "😀 emoji 😀 tokens"), (8L, enDoc(3)), (9L, deDoc(5)),
      (10L, "aaa aaa aaa bbb bbb ccc"))     // count ties → gram ASC tie-break
      .toDF("doc_id", "text")
    for (docK <- Seq(1, 3, 100)) {
      val kernel = edge.select($"doc_id",
          explode(call_function("char_ngram_profile", $"text", lit(3), lit(docK))).as("__p"))
        .select($"doc_id", $"__p.gram", $"__p.rank_d")
        .as[(Long, String, Long)].collect().toSet
      val wit = LangProfile.docProfilesWindowed(edge, docK)
        .as[(Long, String, Long)].collect().toSet
      assert(kernel == wit, s"docK=$docK")
    }
  }

}
