package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.correct.DictionaryCorrector
import graft.dedup.{ConnectedComponents, Dedup}
import graft.pipeline.CorrectionPipeline
import graft.similarity.Similarity
import graft.text.{DamerauLevenshtein, TextFunctions}
import graft.textanalysis.{Pii, Relevance, TextAnalysis}

/**
 * Driver contract (see SURVEY.md §5 "Oracle cross-check" and §7 step 8).
 *
 * Every entry in [[queries]] has a DuckDB-equivalent in [[oracleSql]] unless
 * the operator is not SQL-expressible (those are covered by ScalaTest
 * properties instead). Column names AND value types are aligned pairwise:
 * integers are cast to BIGINT on both sides, doubles are produced by the
 * same expression shape and rounded at the end (never intermediates), and all
 * content hashes are md5-derived so both engines compute identical bits.
 */
object SparkEntry {

  private def tbl(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Fixed topic query for the BM25 oracle — terms with distinct document
    * frequencies in the synthetic corpus. */
  private val Bm25QueryTerms = Seq("spark", "join", "window")

  /** Column form of the mod-10 split rule ([[graft.gen.DocGen.pickSplit]]) —
    * the ONE Spark-side definition every split-dependent query shares. */
  private def splitOf: Column =
    when(pmod(col("doc_id") + 1, lit(10)) === 9, "validation")
      .when(pmod(col("doc_id") + 1, lit(10)) === 0, "test")
      .otherwise("train")

  /** Tokens of `documents.text` — Python `strip().split()` semantics. */
  private def docTokens(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(TextFunctions.tokenize(col("text"))).as("token"))

  private def vocabOf(docs: DataFrame): DataFrame =
    docTokens(docs).groupBy(col("token")).agg(count(lit(1)).as("freq"))

  /** Consecutive-doc pairs (doc i vs doc i+1) — deterministic string pairs
    * for edit-distance oracle checks. */
  private def consecutivePairs(docs: DataFrame, prefixLen: Int): DataFrame = {
    val a = docs.select(col("doc_id"), substring(col("text"), 1, prefixLen).as("ta"))
    val b = docs.select((col("doc_id") - 1).as("doc_id"), substring(col("text"), 1, prefixLen).as("tb"))
    a.join(b, Seq("doc_id"))
  }

  /** Synthetic HTML page built from a documents row — constructed with the
    * same string template as the SQL oracle (see q_html_* in oracleSql). */
  private def htmlOf: Column = {
    val id = col("doc_id").cast("string")
    concat(
      lit("<html><head><title>doc-"), id,
      lit("</title></head><body><nav><a href=\"/h\">home</a></nav><p>"), col("text"),
      lit("</p><img src=\"media://m"), id,
      lit("\"/><p>"), col("text"),
      lit("</p><footer>c</footer></body></html>"))
  }

  /** Native Catalyst expression (codegen'd, stays inside the WholeStageCodegen
    * span — see DamerauLevenshteinExpr): true DL, matching the DuckDB oracle's
    * damerau_levenshtein. Registration is idempotent per session. */
  private def dlTrue(s: SparkSession)(a: Column, b: Column): Column = {
    org.apache.spark.sql.graft.NativeFunctions.register(s)
    call_function("dl_distance_true", a, b)
  }

  /** Flagship query on sf=0.001 scale: the full engine at its BEST path —
    * synthesize HTML pages, extract main content (boilerplate strip), pass
    * text spans through the simulated-OCR channel, correct with the
    * north-star noisy-channel kernel (trie + exact channel-weighted
    * alignment + segmentation decoding — CER ≈ 0.035 vs 0.057 for the
    * dictionary corrector), reassemble in span order, and emit per-doc span
    * sequences. */
  def entry(spark: SparkSession): DataFrame = {
    val pages = graft.gen.HtmlGen.pages(spark, 200).cache()
    val clean = graft.extract.Extract.extractDocs(pages).toDF().cache()
    try {
      clean.count()
      val vocab = DictionaryCorrector.trainVocab(clean, "spans", splitFilter = None)
      val model = graft.correct.NoisyChannelModel.fromVocabDf(spark, vocab, minFrequency = 2)
      val noisy = graft.gen.NoiseChannel.noiseDocs(
        graft.extract.Extract.extractDocs(pages))
      val out = CorrectionPipeline.run(
        noisy.toDF(), new graft.correct.NoisyChannelCorrector(model))
      out.select(col("doc_id"), size(col("spans")).as("n_spans"), col("spans"))
        .orderBy(col("doc_id"))
    } finally { pages.unpersist(); clean.unpersist() }
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- reference operators over documents (SURVEY.md §2) ----
    "q_vocab_agg" -> ((s, dir) =>
      vocabOf(tbl(s, dir, "documents")).select(col("token"), col("freq"))),

    "q_vocab_pruned" -> ((s, dir) =>
      vocabOf(tbl(s, dir, "documents")).filter(col("freq") >= 5)),

    "q_vocab_top" -> ((s, dir) =>
      vocabOf(tbl(s, dir, "documents"))
        .orderBy(col("freq").desc, col("token").asc).limit(100)),

    "q_max_freq" -> ((s, dir) =>
      vocabOf(tbl(s, dir, "documents")).agg(max(col("freq")).as("max_freq"))),

    "q_distinct_chars" -> ((s, dir) =>
      tbl(s, dir, "documents")
        .select(explode(split(col("text"), "")).as("ch"))
        .filter(length(col("ch")) > 0).distinct()),

    "q_split_assign" -> ((s, dir) =>
      tbl(s, dir, "documents").select(col("doc_id"), splitOf.as("split"))),

    "q_split_counts" -> ((s, dir) =>
      tbl(s, dir, "documents").select(splitOf.as("split"))
        .groupBy(col("split")).agg(count(lit(1)).as("n"))),

    "q_doc_stats" -> ((s, dir) =>
      tbl(s, dir, "documents").agg(
        count(lit(1)).as("n_docs"),
        max(length(col("text"))).cast("long").as("max_len"),
        sum(col("n_chars")).cast("long").as("sum_chars"))),

    "q_reassemble" -> ((s, dir) =>
      tbl(s, dir, "documents")
        .select(col("doc_id"), posexplode(TextFunctions.tokenize(col("text"))).as(Seq("pos", "tok")))
        .groupBy(col("doc_id"))
        .agg(array_join(transform(sort_array(collect_list(struct(col("pos"), col("tok")))),
          x => x("tok")), " ").as("rebuilt"))),

    "q_levenshtein" -> ((s, dir) =>
      consecutivePairs(tbl(s, dir, "documents"), 60)
        .select(col("doc_id"), levenshtein(col("ta"), col("tb")).cast("long").as("lev"))),

    "q_damerau" -> ((s, dir) =>
      consecutivePairs(tbl(s, dir, "documents"), 60)
        .select(col("doc_id"), dlTrue(s)(col("ta"), col("tb")).cast("long").as("dl"))),

    "q_cer_rows" -> ((s, dir) =>
      consecutivePairs(tbl(s, dir, "documents"), 60)
        .select(col("doc_id"),
          dlTrue(s)(col("ta"), col("tb")).cast("long").as("dist"),
          Portable.round4(dlTrue(s)(col("ta"), col("tb")).cast("double") / length(col("tb"))).as("norm_dist"))),

    "q_cer_summary" -> ((s, dir) => {
      val rows = consecutivePairs(tbl(s, dir, "documents"), 60)
        .select(dlTrue(s)(col("ta"), col("tb")).cast("long").as("dist"),
          (dlTrue(s)(col("ta"), col("tb")).cast("double") / length(col("tb"))).as("norm"))
      rows.agg(count(lit(1)).as("n"), sum(col("dist")).as("sum_dist"),
        sum(when(col("dist") === 0, 1L).otherwise(0L)).as("n_perfect"),
        Portable.round4(avg(col("norm"))).as("avg_norm"))
    }),

    // ---- deduplication (training-data pipeline layer) ----
    "q_dedup_exact" -> ((s, dir) =>
      Dedup.exactGroups(tbl(s, dir, "documents"))),

    "q_minhash" -> ((s, dir) =>
      Dedup.minHashSignatures(tbl(s, dir, "documents"), shingleK = 3, nHashes = 4)),

    "q_lsh_bands" -> ((s, dir) =>
      Dedup.lshBands(tbl(s, dir, "documents"), shingleK = 3, nBands = 4, rowsPerBand = 2)),

    "q_lsh_pairs" -> ((s, dir) =>
      Dedup.lshCandidatePairs(tbl(s, dir, "documents"), shingleK = 3, nBands = 4, rowsPerBand = 2)),

    // star reduction of the LSH candidate pairs: each doc paired with its
    // SMALLEST candidate partner only — the linear-volume verification form
    // dedupNearLsh runs per near-dup cluster
    "q_star_pairs" -> ((s, dir) =>
      Dedup.starPairs(
        Dedup.lshCandidatePairs(tbl(s, dir, "documents"), shingleK = 3, nBands = 4, rowsPerBand = 2))),

    // transitive duplicate-cluster labels over the LSH candidate pair graph:
    // every doc in a pair gets the min doc_id reachable through any chain of
    // pairs (alternating large-star/small-star) — the canonicalization step
    // after candidate generation that star reduction only approximates
    "q_dedup_cc" -> ((s, dir) =>
      ConnectedComponents.run(
        Dedup.lshCandidatePairs(tbl(s, dir, "documents"), shingleK = 3, nBands = 4, rowsPerBand = 2))
        .select(col("id").as("doc_id"), col("component"))),

    // the second clustering path composed from existing operators: CC
    // labels over the SimHash Hamming-verified near-dup graph (banded
    // candidates, bit_count verify, then transitive closure)
    "q_dedup_cc_simhash" -> ((s, dir) =>
      ConnectedComponents.run(
        Dedup.simHashNearDupPairs(tbl(s, dir, "documents"), maxHamming = 3)
          .select(col("id_a"), col("id_b")))
        .select(col("id").as("doc_id"), col("component"))),

    // exact shingle-Jaccard verification of the LSH candidates — the full
    // candidate-generation → verification split, end to end
    "q_lsh_verify" -> ((s, dir) => {
      val d = tbl(s, dir, "documents")
      val pairs = Dedup.lshCandidatePairs(d, shingleK = 3, nBands = 4, rowsPerBand = 2)
      Dedup.jaccardVerify(d, pairs, shingleK = 3)
        .select(col("id_a"), col("id_b"), Portable.round4(col("jaccard")).as("jaccard"))
    }),

    "q_simhash" -> ((s, dir) =>
      Dedup.simHash32Relational(tbl(s, dir, "documents"))),

    "q_ngram_jaccard" -> ((s, dir) => {
      val d = tbl(s, dir, "documents")
      val a = d.select(col("doc_id"), col("text").as("text_a"))
      val b = d.select((col("doc_id") - 1).as("doc_id"), col("text").as("text_b"))
      Dedup.ngramJaccardPairs(a.join(b, Seq("doc_id")), "text_a", "text_b", 2, "j")
        .select(col("doc_id").as("id_a"), (col("doc_id") + 1).as("id_b"),
          Portable.round4(col("j")).as("jaccard"))
    }),

    // containment verification (Broder'97's second measure): consecutive-doc
    // pairs scored |A∩B|/|A| and |A∩B|/|B| from the same 60-bit-hash
    // overlap join as jaccardVerify — the near-superset statistic symmetric
    // similarity misses; pairs with no common shingle emit no row
    "q_containment" -> ((s, dir) => {
      val d = tbl(s, dir, "documents")
      val pairs = d.select(col("doc_id").as("id_a"), (col("doc_id") + 1).as("id_b"))
        .join(d.select(col("doc_id").as("id_b")), Seq("id_b"), "left_semi")
      Dedup.containmentVerify(d, pairs, shingleK = 2)
        .select(col("id_a"), col("id_b"), Portable.round4(col("jaccard")).as("jaccard"),
          Portable.round4(col("containment_a")).as("containment_a"),
          Portable.round4(col("containment_b")).as("containment_b"))
    }),

    // LSH Ensemble (Zhu VLDB'16) containment pairs: size-bucketed corpus,
    // per-bucket-pair banding tuned to the containment-implied Jaccard
    // bound, exact containment verification — the index that catches
    // inclusions plain Jaccard-LSH candidacy loses (doc_id%10 subset keeps
    // the dense synthetic corpus's candidate volume bounded)
    "q_containment_lsh" -> ((s, dir) =>
      Dedup.containmentPairsEnsemble(
          tbl(s, dir, "documents").filter(col("doc_id") % 10 === 0),
          threshold = 0.2, shingleK = 2, nHashes = 64)
        .select(col("id_a"), col("id_b"), Portable.round4(col("jaccard")).as("jaccard"),
          Portable.round4(col("containment_a")).as("containment_a"),
          Portable.round4(col("containment_b")).as("containment_b"))),

    "q_simhash_bands" -> ((s, dir) =>
      Dedup.simHashBands(tbl(s, dir, "documents"), nBands = 4)
        .select(col("doc_id"), col("band").cast("long").as("band"), col("band_key"))),

    // SimHash Hamming distance over consecutive-doc pairs — oracle-checks the
    // exact verification predicate of simHashNearDupPairs (bit_count ∘ xor).
    "q_simhash_hamming" -> ((s, dir) => {
      val sig = Dedup.simHash32Relational(tbl(s, dir, "documents"))
      val a = sig.select(col("doc_id"), col("simhash").as("sig_a"))
      val b = sig.select((col("doc_id") - 1).as("doc_id"), col("simhash").as("sig_b"))
      a.join(b, Seq("doc_id"))
        .select(col("doc_id").as("id_a"), (col("doc_id") + 1).as("id_b"),
          bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("long").as("hamming"))
    }),

    // W4 chunk/reassemble machinery: chunk to 64-char windows, identity
    // kernel, ordered re-concat — must reproduce the text exactly, so the
    // oracle is simply the raw text (checks sort_array-based regrouping).
    "q_chunked_identity" -> ((s, dir) =>
      TextFunctions.mapChunked(tbl(s, dir, "documents"), Seq("doc_id"), "text", 64, identity)),

    // F8/F9 encode→decode round-trip against a fixed alphabet; chars outside
    // the alphabet become U+FFFD. The documents corpus is lowercase ASCII +
    // space ⊂ alphabet, so the oracle is again the raw text.
    "q_encode_roundtrip" -> ((s, dir) => {
      val alphabet = "abcdefghijklmnopqrstuvwxyz0123456789 "
      tbl(s, dir, "documents").select(col("doc_id"),
        TextFunctions.decodeNative(s,
          TextFunctions.encodeNative(s, col("text"), alphabet), alphabet).as("text"))
    }),

    // F9 stop-at-INT_EMPTY: appending the padding sentinel plus trailing
    // garbage indices must leave the decode unchanged — the reference stops
    // at the first INT_EMPTY (`neural_corrector.py:113-114`), so the oracle
    // is again the raw text.
    "q_decode_stop" -> ((s, dir) => {
      val alphabet = "abcdefghijklmnopqrstuvwxyz0123456789 "
      val padded = concat(TextFunctions.encodeNative(s, col("text"), alphabet),
        array(lit(TextFunctions.IntEmpty.toLong), lit(0L), lit(999L)))
      tbl(s, dir, "documents").select(col("doc_id"),
        TextFunctions.decodeNative(s, padded, alphabet).as("text"))
    }),

    // ---- main-content extraction (HTML boilerplate strip) ----
    // Synthesized page per document row: boilerplate chrome around two known
    // content paragraphs + one figure. Both engines build the SAME html
    // string; the Spark side runs the real DOM-heuristic extractor, the
    // oracle states the expected span rows by construction — so the whole
    // extraction kernel is oracle-checked, not just the regexes.
    "q_html_extract" -> ((s, dir) => {
      import s.implicits._
      val pages = tbl(s, dir, "documents").select(col("doc_id"), htmlOf.as("html"))
      graft.extract.Extract.extractDocs(pages).toDF()
        .select(col("doc_id"), posexplode(col("spans")).as(Seq("pos", "span")))
        .select(col("doc_id"), col("span.offset").cast("long").as("offset"),
          col("span.kind").as("kind"), col("span.text").as("text"),
          col("span.media_ref").as("media_ref"))
    }),

    "q_html_media" -> ((s, dir) =>
      tbl(s, dir, "documents")
        .select(col("doc_id"), explode(graft.extract.Extract.mediaRefs(htmlOf)).as("ref"))),

    "q_html_title" -> ((s, dir) =>
      tbl(s, dir, "documents")
        .select(col("doc_id"), graft.extract.Extract.title(htmlOf).as("title"))),

    // ---- text analysis ----
    "q_langid" -> ((s, dir) =>
      tbl(s, dir, "documents").select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang_pred"))),

    "q_token_counts" -> ((s, dir) =>
      tbl(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.wsTokenCount(col("text")).cast("long").as("ws_tokens"),
        TextAnalysis.bpeTokenCount(col("text")).cast("long").as("bpe_tokens"))),

    // all five metrics from ONE call of the native one-pass kernel (the
    // Column component family is the equivalence witness in TextAnalysisSpec;
    // codegen subexpression elimination evaluates the kernel once per row)
    "q_quality" -> ((s, dir) => {
      val q = TextAnalysis.qualitySignals(s, col("text"))
      tbl(s, dir, "documents")
        .withColumn("__q", q)
        .select(col("doc_id"),
          Portable.round4(element_at(col("__q"), 1)).as("alpha_ratio"),
          Portable.round4(element_at(col("__q"), 2)).as("punct_ratio"),
          Portable.round4(element_at(col("__q"), 3)).as("stopword_ratio"),
          Portable.round4(element_at(col("__q"), 4)).as("mean_token_len"),
          Portable.round4(element_at(col("__q"), 5)).as("quality"))
    }),

    // the full Gopher rule set (Rae'21 App. A) on the native one-pass
    // kernel; minStopHits=1 because the synthetic vocabulary carries only
    // one of the paper's 8 stopwords — every other threshold is the
    // paper's default, and wc/mwl really split this corpus
    "q_gopher" -> ((s, dir) => {
      val g = TextAnalysis.gopherSignals(s, col("text"))
      tbl(s, dir, "documents")
        .withColumn("__g", g)
        .select(col("doc_id"),
          element_at(col("__g"), 1).cast("long").as("wc"),
          Portable.round4(element_at(col("__g"), 2)).as("mwl"),
          Portable.round4(element_at(col("__g"), 3)).as("symr"),
          Portable.round4(element_at(col("__g"), 4)).as("alphaf"),
          Portable.round4(element_at(col("__g"), 5)).as("bulletf"),
          Portable.round4(element_at(col("__g"), 6)).as("ellipf"),
          element_at(col("__g"), 7).cast("long").as("stop_hits"),
          TextAnalysis.gopherKeep(col("__g"), minStopHits = 1)
            .cast("long").as("keep"))
    }),

    "q_fingerprint" -> ((s, dir) =>
      tbl(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.contentFingerprint(col("text")).as("fp"),
        TextAnalysis.rollingFingerprint(col("text")).as("rfp"))),

    // multi-dimensional corpus rollup: per-(language, split) statistics
    // with subtotal and grand-total rows (ROLLUP = map-side-combinable
    // grouping sets, one shuffle); grouping() flags disambiguate subtotal
    // NULLs from genuine null dimension values
    "q_corpus_rollup" -> ((s, dir) =>
      tbl(s, dir, "documents")
        .withColumn("lang", TextAnalysis.langId(col("text")))
        .withColumn("split", splitOf)
        .withColumn("toks", TextAnalysis.wsTokenCount(col("text")).cast("long"))
        .rollup(col("lang"), col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("long").as("sum_chars"),
          sum(col("toks")).as("sum_tokens"),
          Portable.round4(sum(col("toks")).cast("double") / count(lit(1))).as("avg_tokens"),
          grouping(col("lang")).cast("long").as("g_lang"),
          grouping(col("split")).cast("long").as("g_split"))),

    // winnowing fingerprints (SWA'03) over a bounded prefix — rightmost
    // window minima of rolling k-gram hashes via the native O(n) kernel
    "q_winnow" -> ((s, dir) =>
      graft.textanalysis.Winnowing.fingerprintTable(s,
        tbl(s, dir, "documents").select(col("doc_id"),
          substring(col("text"), 1, 200).as("text")),
        k = 8, w = 8)),

    // per-split EXACT length quantiles (linear interpolation — Spark
    // `percentile` and DuckDB `quantile_cont` compute identical type-7
    // values). Exact percentile sorts per group; at 100 TB the scale path
    // is `approx_percentile` (t-digest, mergeable partial agg) — exact is
    // the oracle-checkable witness at bench scale
    "q_len_quantiles" -> ((s, dir) => {
      val probs = array(lit(0.25), lit(0.5), lit(0.75), lit(0.9), lit(0.99))
      tbl(s, dir, "documents")
        .withColumn("split", splitOf)
        .groupBy(col("split"))
        .agg(percentile(col("n_chars"), probs).as("qs"))
        .select(col("split"),
          Portable.round4(element_at(col("qs"), 1)).as("q25"),
          Portable.round4(element_at(col("qs"), 2)).as("q50"),
          Portable.round4(element_at(col("qs"), 3)).as("q75"),
          Portable.round4(element_at(col("qs"), 4)).as("q90"),
          Portable.round4(element_at(col("qs"), 5)).as("q99"))
    }),

    // fingerprint-index match join: doc pairs sharing >= 8 winnow
    // fingerprints, with the stop-hash document-frequency cap (df <= 64)
    // applied before the self-join — boilerplate k-grams shared by hundreds
    // of docs carry no provenance signal and would emit near-quadratic join
    // volume (the synthetic corpus's small shared lexicon is exactly the
    // boilerplate shape a real crawl has)
    "q_winnow_pairs" -> ((s, dir) =>
      graft.textanalysis.Winnowing.matchPairs(
        graft.textanalysis.Winnowing.fingerprintTable(s,
          tbl(s, dir, "documents").select(col("doc_id"),
            substring(col("text"), 1, 200).as("text")),
          k = 8, w = 8),
        minShared = 8, maxDocFreq = 64)),

    // corpus-wide bigram counts (LM / BPE-tokenizer training statistic):
    // grams built scan-side as a narrow per-row array, one hash agg keyed
    // by gram (map-side partials), long tail pruned by the count predicate
    "q_bigrams" -> ((s, dir) =>
      graft.textanalysis.TextAnalysis.corpusNgramCounts(
        tbl(s, dir, "documents"), n = 2, minCount = 3L)),

    // BPE training statistic (Sennrich'16): weighted adjacent-symbol pair
    // counts of the initial character symbolization over the DISTINCT-word
    // frequency table — the argmax of this table is merge #1; the iterated
    // merge loop is spec-asserted bit-equal to a reference implementation
    // (iterative argmax+rewrite is not single-query SQL)
    "q_bpe_pairs" -> ((s, dir) =>
      graft.textanalysis.Bpe.pairCounts(tbl(s, dir, "documents"))),

    // Bloom-sketch membership (the Dolma incremental-dedup primitive): the
    // deterministic 30% sample plays "the corpus we already shipped" —
    // its fingerprint sketch (8192 bits, 5 md5 probes) is probed by every
    // doc scan-side; sampled docs always hit (no false negatives), the
    // rest hit at the sketch's FP rate — deterministic on any engine
    // deterministic shard assignment (the "write N shuffled training
    // shards" final-mile step): independent md5 draws for shard and
    // intra-shard order — a reproducible global shuffle
    "q_shards" -> ((s, dir) =>
      graft.pipeline.Sampling.shardAssignment(
        tbl(s, dir, "documents"), nShards = 8)
        .select(col("doc_id"), col("shard").cast("long").as("shard"), col("pos"))),

    // Cavnar-Trenkle n-gram-profile language ID (the model-based upgrade
    // of q_langid's char-class heuristic): per-lang top-200 trigram rank
    // profiles trained from the corpus's own labels, docs classified by
    // the integer out-of-place distance (ties to the smallest lang)
    "q_lang_profile" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      graft.textanalysis.LangProfile.classify(docs,
        graft.textanalysis.LangProfile.train(docs, k = 200),
        docK = 100, penalty = 200L)
    }),

    // corpus snapshot diff: verdicts between two crawls — the lower 50%
    // gate band unchanged, the 50-75% band edited, the top band removed
    // from the new snapshot and re-added under new ids; fingerprint
    // equality on the normalized text (whitespace drift is not a change)
    "q_corpus_diff" -> ((s, dir) => {
      // string ids on BOTH snapshots: the synthetic "_v2" ids are strings,
      // and a mixed-type join key would force a failing string->long cast
      val docs = tbl(s, dir, "documents")
        .select(col("doc_id").cast("string").as("doc_id"), col("text"))
      val g = graft.pipeline.Sampling.gate16(col("doc_id"))
      val kept = docs.filter(g < 49152)
        .select(col("doc_id"),
          when(g >= 32768, concat(col("text"), lit(" [v2]")))
            .otherwise(col("text")).as("text"))
      val added = docs.filter(g >= 49152)
        .select(concat(col("doc_id"), lit("_v2")).as("doc_id"), col("text"))
      graft.dedup.CorpusDiff.diff(docs, kept.unionByName(added))
    }),

    // token frequency-of-frequencies spectrum (the Zipf/Good-Turing corpus
    // health statistic): how many distinct tokens occur exactly freq times
    "q_freq_spectrum" -> ((s, dir) =>
      graft.textanalysis.TextAnalysis.tokenFrequencySpectrum(
        tbl(s, dir, "documents"))),

    // Good-Turing adjusted counts over the spectrum: r* = (r+1)·n_{r+1}/n_r
    // (null where the tail is empty) — one exactly-rounded division of
    // integer-valued doubles, identical bits on both engines
    "q_good_turing" -> ((s, dir) =>
      graft.textanalysis.TextAnalysis.goodTuringAdjusted(
        tbl(s, dir, "documents"))),

    // length-bucketed batching (the seq2seq dynamic-batching rule): docs
    // ranked by (token length, id) via the two-phase prefix trick, cut
    // into 32-doc batches, per-batch padding accounting — each batch pads
    // to ITS max length, not the corpus max
    "q_len_batches" -> ((s, dir) =>
      graft.pipeline.Packing.batchPaddingStats(
        graft.pipeline.Packing.lengthBucketedBatches(
          tbl(s, dir, "documents"), batchSize = 32))),

    // weighted sampling without replacement ∝ n_chars (Efraimidis-Spirakis
    // priority sampling, Gumbel form, deterministic md5 draws): long docs
    // sample proportionally more — the "sample by token mass" primitive
    "q_weighted_sample" -> ((s, dir) =>
      graft.pipeline.Sampling.weightedSample(
        tbl(s, dir, "documents"), "doc_id", "n_chars", k = 150)),

    // T5 span corruption (Raffel'20 §3.1.4) in the deterministic union-of-
    // spans form: md5-gated span starts/lengths, maximal masked runs take
    // one <extra_id_k> sentinel each (islands), target carries the masked
    // spans + the closing sentinel — the denoising-objective data builder
    "q_span_corrupt" -> ((s, dir) =>
      graft.pipeline.SpanCorruption.corrupt(
        tbl(s, dir, "documents"), pStart = 0.06, maxLen = 4)),

    // Count-Min heavy hitters: frequency estimates from a d=4 × w=8192
    // counter sketch (bounded memory regardless of vocabulary size),
    // candidates from the deterministic 30% sample, one-sided error
    // (est >= true always) — all-integer, oracle-exact
    "q_cms_hh" -> ((s, dir) =>
      graft.textanalysis.CountMin.heavyHitters(tbl(s, dir, "documents"),
        threshold = 500L, sampleFraction = 0.3, d = 4, w = 8192)),

    "q_bloom_dedup" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val existing = graft.pipeline.Sampling.deterministicSample(docs, "doc_id", 0.3)
        .select(graft.dedup.Dedup.fingerprint(col("text")).as("fp"))
      val words = graft.dedup.Bloom.build(existing, "fp", mBits = 8192, k = 5)
      docs.select(col("doc_id"),
        graft.dedup.Bloom.mightContain(
          graft.dedup.Dedup.fingerprint(col("text")), words, mBits = 8192, k = 5)
          .as("member"))
    }),

    // deterministic hash-gated stratified sample: membership is a pure
    // function of (doc_id, lang) — reproducible across runs/engines/
    // partitionings, nested across growing fractions, scan-side narrow
    "q_sample_strat" -> ((s, dir) =>
      graft.pipeline.Sampling.stratifiedSample(
        tbl(s, dir, "documents"), "lang", "doc_id",
        Map("en" -> 0.5, "de" -> 0.25), defaultFraction = 0.1)
        .select(col("doc_id"), col("lang"))),

    // temperature-based source mixing (the GPT-3/LLaMA data-mixing rule):
    // per-source share re-weighted toward n^alpha under a total row budget,
    // small-source saturation resolved by exact closed-form water-filling;
    // alpha 0.5 is the sqrt path, exactly rounded on both engines
    "q_source_mix" -> ((s, dir) =>
      graft.pipeline.Sampling.temperatureMix(
        tbl(s, dir, "documents"), "source", "doc_id",
        alpha = 0.5, budgetFraction = 0.35)
        .select(col("doc_id"), col("source"))),

    // model-based quality gate (CCNet/GPT-3 family): hashed-bag-of-words
    // linear classifier in the integer-exact count-diff form (the first GD
    // step from w=0 — bit-identical on any engine/partitioning; the FP
    // GD path is spec-covered, not oracle surface). Labels here: lang='en'
    // plays the trusted-reference corpus
    "q_qclf" -> ((s, dir) => {
      val qc = graft.textanalysis.QualityClassifier
      val docs = tbl(s, dir, "documents")
        .withColumn("label", (col("lang") === "en").cast("int"))
      qc.countDiffScores(docs, qc.countDiffModel(docs, dim = 4096), dim = 4096)
    }),

    // DSIR importance resampling (Xie et al. NeurIPS'23): hashed
    // unigram+bigram bag models for target (lang='en' plays the trusted
    // corpus) and raw (the whole table), per-doc log importance weight
    // folded in feature-id order, Gumbel top-k selection on the
    // deterministic md5 draw — sampling ∝ weight without replacement,
    // reproducible on any engine/partitioning
    "q_dsir" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      graft.textanalysis.Dsir.resample(
        docs,
        graft.textanalysis.Dsir.bucketCounts(docs.filter(col("lang") === "en"), dim = 4096),
        k = 200, dim = 4096)
    }),

    // column-profile census: rows/nulls/exact-distinct/min-max length per
    // column (exact distinct = the oracle witness; approx_count_distinct is
    // the documented 100 TB path)
    "q_profile" -> ((s, dir) =>
      graft.textanalysis.Profile.profile(
        tbl(s, dir, "documents"), Seq("doc_id", "text", "lang", "source", "n_chars"))),

    // exact duplicate-substring detection (Lee et al. ACL'22): doc pairs
    // sharing an exact >= 25-char substring, found as diagonal runs of
    // shared character 8-grams (islands trick), stop-hash df cap before the
    // self-join — the character-precise complement to winnowing's sampled
    // provenance matching (brute-force-LCS equivalence in SubstringDupSpec)
    "q_shared_substrings" -> ((s, dir) =>
      graft.textanalysis.SubstringDup.sharedSubstringPairs(
        tbl(s, dir, "documents"), minLen = 25, k = 8, maxDocFreq = 64L)),

    // WITHIN-doc repeated substrings (Lee'22's self-repetition half, which
    // the cross-doc query excludes via doc_a < doc_b): same-doc pa < pb
    // matches, islands per (doc, diagonal), per-(doc, k-gram) occurrence
    // cap instead of the cross-doc df cap
    "q_self_repeats" -> ((s, dir) =>
      graft.textanalysis.SubstringDup.selfRepeats(
        tbl(s, dir, "documents"), minLen = 16, k = 8, maxOcc = 64L)),

    // sequence-packing index (GPT-style pack-then-chunk): per-doc global
    // token offset and first/last 512-token training-sequence ids, computed
    // with the two-phase prefix sum (identical to a global window,
    // spec-asserted across bucket sizes)
    "q_seq_pack" -> ((s, dir) =>
      graft.pipeline.Packing.packSequences(
        tbl(s, dir, "documents"), seqLen = 512)),

    // per-source diversity quota (the web-recipe "domain cap"): top 30 docs
    // per source by length, deterministic doc_id tie-break — WindowGroupLimit
    // keeps the per-source sort partial map-side
    "q_source_quota" -> ((s, dir) =>
      graft.pipeline.Sampling.perSourceQuota(
        tbl(s, dir, "documents"), "source", "doc_id", k = 30,
        rankCols = Seq(col("n_chars").desc))
        .select(col("doc_id"), col("source"), col("n_chars"))),

    // PII scrub (C4/RefinedWeb family): detect + redact emails/IPv4/phones
    // with typed placeholders and per-doc audit counts. PII is synthesized
    // deterministically from the row (the q_html_* precedent) since the
    // corpus itself is clean — both engines build the identical dirty text
    "q_pii_scrub" -> ((s, dir) => {
      val dirty = tbl(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          lit(" contact doc"), col("doc_id").cast("string"), lit("@example.com"),
          lit(" from 10.2."), (col("doc_id") % 256).cast("string"), lit(".7"),
          lit(" call +1 (555) 01"), (col("doc_id") % 90 + 10).cast("string"),
          // even docs carry a Luhn-VALID card (must redact), odd docs the
          // same digits with a broken checksum (must NOT — the Luhn gate)
          lit(" pay "),
          when(col("doc_id") % 2 === 0, lit("4111 1111 1111 1111"))
            .otherwise(lit("4111 1111 1111 1112"))).as("text"))
      graft.textanalysis.Pii.scrub(dirty)
    }),

    // train/eval decontamination (GPT-3 appendix-C style): flag training
    // docs sharing a 13-token n-gram with the benchmark corpus — here the
    // deterministic 5% sample plays the leaked eval set, so every leaked
    // doc must flag itself (plus any true cross-doc collisions)
    "q_decontam" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      graft.textanalysis.Decontamination.contaminationReport(
        docs, graft.pipeline.Sampling.deterministicSample(docs, "doc_id", 0.05), n = 13)
    }),

    // CCNet-family LM quality filter: per-doc mean log-prob under the
    // corpus's own add-α bigram model (low = high perplexity = suspect);
    // log-probs folded in bigram position order (the q_bm25_doc discipline)
    "q_lm_score" -> ((s, dir) =>
      graft.textanalysis.LmScore.scoreDocs(tbl(s, dir, "documents"))
        .select(col("doc_id"), col("n_bigrams"),
          Portable.round4(col("avg_logprob")).as("avg_logprob"))),

    // the dedup ACTION on those runs: merged per-doc removal intervals
    // (lower doc id keeps its copy; overlapping/adjacent cuts merged by the
    // cumulative-max islands trick) — removeDuplicateRuns applies them and
    // SubstringDupSpec proves re-detection then finds nothing
    "q_dup_intervals" -> ((s, dir) =>
      graft.textanalysis.SubstringDup.duplicateRunIntervals(
        tbl(s, dir, "documents"), minLen = 25, k = 8, maxDocFreq = 64L)),

    // the cut APPLIED end-to-end (Lee et al.'s dedup step as a contract
    // query): every doc's normalized text with its duplicate runs removed —
    // docs with nothing to cut pass through as their normalized text; the
    // oracle rebuilds the kept segments between merged intervals and
    // hash-compares the full output strings
    "q_substr_cut" -> ((s, dir) =>
      graft.textanalysis.SubstringDup.removeDuplicateRuns(
        tbl(s, dir, "documents"), minLen = 25, k = 8, maxDocFreq = 64L)
        .select(col("doc_id"), col("deduped_text"))),

    // C4/RefinedWeb sub-document dedup (Raffel'20 §2.2 repeated-span rule):
    // corpus-wide exact duplicate 10-token segments — every occurrence
    // except the first (min (doc_id, unit_no)) is a loser; the cheap
    // unit-level middle ground between doc-level D1 and position-level T10
    "q_dup_segments" -> ((s, dir) =>
      graft.dedup.LineDedup.duplicateSegments(tbl(s, dir, "documents"))
        .select(col("doc_id"), col("unit_no").cast("long").as("unit_no"))),

    // the ACTION: losing segments cut, kept segments re-joined in order
    // (docs that lost nothing pass through as their normalized text)
    "q_seg_dedup" -> ((s, dir) =>
      graft.dedup.LineDedup.dedupSegments(tbl(s, dir, "documents"))
        .select(col("doc_id"), col("deduped_text"))),

    // Gopher-style repetition/boilerplate signals via the native one-pass
    // kernel (scan-side narrow; relational restatement equivalence-tested)
    // text coalesced to '' so a NULL row matches the oracle's LEFT-JOIN
    // zeros (the kernel itself is null-in/null-out)
    "q_repetition" -> ((s, dir) =>
      tbl(s, dir, "documents")
        .withColumn("__r", TextAnalysis.repetitionSignals(s, coalesce(col("text"), lit(""))))
        .select(col("doc_id"),
          Portable.round4(element_at(col("__r"), 1)).as("dup_token_ratio"),
          Portable.round4(element_at(col("__r"), 2)).as("top_bigram_char_frac"),
          Portable.round4(element_at(col("__r"), 3)).as("dup_bigram_frac"))),

    // corpus-statistics relevance: smoothed TF-IDF over every (doc, token)
    "q_tfidf" -> ((s, dir) =>
      Relevance.tfIdf(tbl(s, dir, "documents"))
        .select(col("doc_id"), col("token"), col("tf"),
          Portable.round4(col("tfidf")).as("tfidf"))),

    // BM25 per-term contributions for a fixed topic query — per-term rows so
    // every value is one deterministic arithmetic chain (the cross-term sum
    // is exercised by Relevance.bm25 + its spec, not the hash-compared oracle)
    "q_bm25" -> ((s, dir) =>
      Relevance.bm25Terms(tbl(s, dir, "documents"), Bm25QueryTerms)
        .select(col("doc_id"), col("token"),
          Portable.round4(col("score")).as("score"))),

    // composed BM25 per-doc score — the cross-term sum itself, folded in
    // token order on both engines so the accumulation order is contractual
    "q_bm25_doc" -> ((s, dir) =>
      Relevance.bm25(tbl(s, dir, "documents"), Bm25QueryTerms)
        .select(col("doc_id"), Portable.round4(col("score")).as("score"))),

    // the streaming ingest gate's full decision surface in batch form:
    // quality + dup_token_ratio signals and the boolean keep verdict (the
    // gate filter is exactly keep = 1); thresholds are the gate defaults
    "q_quality_gate" -> ((s, dir) =>
      graft.streaming.StreamingOps.qualityGateAnnotated(tbl(s, dir, "documents"))
        .select(col("doc_id"),
          Portable.round4(col("quality")).as("quality"),
          Portable.round4(col("dup_token_ratio")).as("dup_token_ratio"),
          col("keep").cast("long").as("keep"))),

    // ---- similarity search over embeddings ----
    "q_embed_norm" -> ((s, dir) =>
      tbl(s, dir, "embeddings").select(col("vec_id"),
        Portable.round4(Similarity.l2Norm(col("embedding"))).as("nrm"))),

    "q_ann_topk" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      Similarity.bruteForceTopK(e.filter(col("vec_id") < 10), e, k = 5)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), col("sim"))
    }),

    "q_cosine_neardup" -> ((s, dir) =>
      Similarity.cosineNearDupPairs(
        tbl(s, dir, "embeddings").filter(col("vec_id") < 120), threshold = 0.25)),

    // int8 scalar quantization (SQ8, the FAISS-family codec): per-vector
    // symmetric codes + scale; the summary surface pins every code via the
    // positional checksum (all-BIGINT — bit-exact on any engine)
    "q_sq8" -> ((s, dir) => {
      val q = graft.similarity.Quantize.sq8Table(tbl(s, dir, "embeddings"))
      q.select(col("vec_id"),
        size(col("q")).cast("long").as("n_dims"),
        Portable.roundAt(col("scale"), 6).as("scale6"),
        array_min(col("q")).cast("long").as("q_min"),
        array_max(col("q")).cast("long").as("q_max"),
        aggregate(transform(col("q"), x => abs(x.cast("long"))),
          lit(0L), (a, x) => a + x).as("q_l1"),
        aggregate(zip_with(col("q"), sequence(lit(1), size(col("q"))),
            (x, i) => x.cast("long") * i.cast("long")),
          lit(0L), (a, x) => a + x).as("q_cksum"))
    }),

    // approximate top-k on the int8 codes: integer dot products (exact),
    // floating point only in the final normalize — the 4×-smaller scan path
    "q_sq8_topk" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      graft.similarity.Quantize.sq8TopK(e.filter(col("vec_id") < 10), e, k = 5)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), col("sim"))
    }),

    // product quantization (Jégou'11): 64-dim float32 → 8 byte codes
    // (8 subspaces × 16-centroid codebooks, iterations = 0 keeps the
    // deterministic seed codebooks — the oracle-restatable form, same rule
    // as q_semdedup), ADC top-k = asymmetric cosine from two per-query
    // lookup tables, scoring touches only the corpus byte codes
    "q_pq_topk" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val pq = graft.similarity.Pq
      val cb = pq.pqTrain(e, m = 8, ksub = 16, iterations = 0)
      pq.pqTopK(e.filter(col("vec_id") < 8),
          pq.pqEncode(e, cb, m = 8, ksub = 16), cb, k = 10, m = 8, ksub = 16)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), col("sim"))
    }),

    // IVF-PQ (the FAISS IVFx,PQy recipe, non-residual): the coarse
    // quantizer restricts each query's scan to its 2 nearest cells and
    // within them vectors are 8 byte PQ codes scored by ADC — probe count
    // trades recall for scan volume, scores identical to q_pq_topk
    // (spec-asserted at nProbes = nCentroids)
    "q_ivf_pq" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      graft.similarity.Pq.ivfPqTopK(e.filter(col("vec_id") < 8), e, k = 10,
          nCentroids = 8, nProbes = 2, m = 8, ksub = 16,
          ivfIterations = 0, pqIterations = 0)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), col("sim"))
    }),

    // SemDeDup (Abbas'23): k-means-cluster-scoped semantic near-dup pairs —
    // only within-cluster pairs pay the exact cosine (iterations = 0 keeps
    // the deterministic seed centroids, the oracle-restatable form)
    "q_semdedup_pairs" -> ((s, dir) =>
      Similarity.semDedupPairs(tbl(s, dir, "embeddings"), threshold = 0.3,
        nCentroids = 8, iterations = 0)),

    // the ACTION: survivors after collapsing each connected semantic-dup
    // group (transitive, within-cluster) to its min-id representative
    "q_semdedup" -> ((s, dir) =>
      Similarity.semDedup(tbl(s, dir, "embeddings"), threshold = 0.3,
        nCentroids = 8, iterations = 0)),

    // random-hyperplane LSH band keys (ANN candidate generation) — SQL-
    // expressible because the hyperplane matrix is driver-computed literals;
    // the oracle re-states the same plane values and fold order.
    "q_lsh_ann_bands" -> ((s, dir) =>
      tbl(s, dir, "embeddings").select(col("vec_id"),
        posexplode(Similarity.lshBandKeysNative(s, col("embedding"), nBands = 4, bitsPerBand = 2, dim = 64))
          .as(Seq("band", "band_key")))
        .select(col("vec_id"), col("band").cast("long").as("band"), col("band_key"))),

    // ---- relational spine (scan/filter/agg/join/window health) ----
    "q1_agg" -> ((s, dir) =>
      tbl(s, dir, "lineitem")
        .filter(col("l_quantity") < 30)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).cast("long").as("sum_qty"),
          sum(round(col("l_extendedprice") * 100).cast("long")).as("sum_price_cents"),
          count(lit(1)).as("n"))),

    "q_join_agg" -> ((s, dir) =>
      tbl(s, dir, "orders")
        .join(broadcast(tbl(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("sum_cents"))),

    "q_window_events" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      tbl(s, dir, "events")
        .filter(col("user_id") < 40)
        .select(col("event_id"), col("user_id"),
          row_number().over(w).cast("long").as("rn"),
          lag(col("event_id"), 1).over(w).as("prev_event"))
    }),

    "q_sessionize" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      tbl(s, dir, "events")
        .withColumn("pts", lag(col("ts"), 1).over(w))
        .withColumn("brk",
          when(col("pts").isNull ||
            (unix_micros(col("ts").cast("timestamp_ltz")) -
              unix_micros(col("pts").cast("timestamp_ltz"))) > 1800000000L, 1L).otherwise(0L))
        .select(col("event_id"), col("user_id"),
          sum(col("brk")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .as("session_id"))
    })
  )

  /** DuckDB-equivalent SQL per query (same parquet tables registered by
    * basename). Norm: every integer output CAST to BIGINT, doubles rounded
    * identically, md5-derived hashes computed the same way. */
  def oracleSql: Map[String, String] = {
    val normText = raw"trim(regexp_replace(lower(text), '\s+', ' ', 'g'))"
    // the same html template as the Spark-side htmlOf (extraction queries);
    // NB extraction normalizes block whitespace, hence normText for `text` —
    // but the page BODY embeds the raw text (both sides identical)
    val htmlSql =
      raw"""'<html><head><title>doc-' || CAST(doc_id AS VARCHAR) ||
         '</title></head><body><nav><a href="/h">home</a></nav><p>' || text ||
         '</p><img src="media://m' || CAST(doc_id AS VARCHAR) || '"/><p>' || text ||
         '</p><footer>c</footer></body></html>'"""
    val toks = raw"regexp_split_to_array(trim(text), '\s+')"
    // tokens of the NORMALIZED text (single-space separated, no empties)
    val tokCte =
      raw"""tk AS (SELECT doc_id, unnest(string_split($normText, ' ')) AS tok,
                generate_subscripts(string_split($normText, ' '), 1) AS i
         FROM documents)"""
    // XOR-minhash position masks for the LSH-Ensemble oracle (fixed 60-bit
    // constants — see Dedup.ensembleMask)
    val ensembleMaskRows =
      (0 until 64).map(k => s"($k, ${Dedup.ensembleMask(k)})").mkString(", ")
    // affine MinHash family over a 31-bit md5 base hash (see Dedup.minHashSignatures)
    def minhashH(expr: String, k: Int) =
      raw"CAST(min(((('0x' || substr(md5($expr), 1, 8))::UBIGINT >> 1) * ${Dedup.minHashA(k)} + ${Dedup.minHashB(k)}) % ${Dedup.MinHashP}) AS BIGINT)"
    // Docs with fewer than k tokens contribute their single full-token
    // shingle (matching Dedup.wordShingles; a sliding self-join alone would
    // silently drop them from the oracle).
    val sh3Cte =
      raw"""sh AS (SELECT a.doc_id, a.tok || ' ' || b.tok || ' ' || c.tok AS sh
         FROM tk a JOIN tk b ON b.doc_id = a.doc_id AND b.i = a.i + 1
                   JOIN tk c ON c.doc_id = a.doc_id AND c.i = a.i + 2
         UNION ALL
         SELECT doc_id, $normText AS sh FROM documents
         WHERE len(string_split($normText, ' ')) < 3)"""
    val minhash8 =
      raw"""WITH $tokCte, $sh3Cte,
      sig AS (SELECT doc_id, ${(0 until 8).map(k => minhashH("sh", k) + s" AS h$k").mkString(", ")}
              FROM sh GROUP BY doc_id)"""
    val bandRows = (0 until 4).map { b =>
      raw"SELECT doc_id, $b AS band, md5('b$b:' || CAST(h${2 * b} AS VARCHAR) || ',' || CAST(h${2 * b + 1} AS VARCHAR)) AS band_key FROM sig"
    }.mkString(" UNION ALL ")
    // winnow CTE chain (k = w = 8, 200-char prefix): ends at `sel`
    // (doc_id, pos of each selected fingerprint); `ph` holds all k-gram
    // hashes. Shared by q_winnow and q_winnow_pairs.
    val winnowCtes = {
      val k = 8; val w = 8
      raw"""WITH nt AS (SELECT doc_id,
               trim(regexp_replace(lower(substr(text, 1, 200)), '\s+', ' ', 'g')) AS nt
             FROM documents),
         hsv AS (SELECT doc_id,
               CASE WHEN length(nt) >= $k THEN
                 list_transform(range(1, length(nt) - ${k - 1} + 1),
                   i -> list_reduce(list_prepend(CAST(0 AS BIGINT),
                          list_transform(string_split(substr(nt, CAST(i AS INT), $k), ''),
                            c -> CAST(ascii(c) AS BIGINT))),
                        (h, cp) -> (h * 131 + cp) % 2147483647))
               ELSE [] END AS hs FROM nt),
         ph AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, h FROM (
                  SELECT doc_id, unnest(hs) AS h, generate_subscripts(hs, 1) AS i FROM hsv) u),
         cnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM ph GROUP BY 1),
         win AS (SELECT doc_id, CAST(unnest(range(0, n - $w + 1)) AS BIGINT) AS j
                 FROM cnt WHERE n >= $w),
         wm AS (SELECT w.doc_id, w.j, min(p.h) AS mh
                FROM win w JOIN ph p ON p.doc_id = w.doc_id
                  AND p.pos BETWEEN w.j AND w.j + ${w - 1}
                GROUP BY 1, 2),
         selw AS (SELECT DISTINCT s.doc_id, s.pos FROM (
                    SELECT wm.doc_id, wm.j, max(p.pos) AS pos
                    FROM wm JOIN ph p ON p.doc_id = wm.doc_id
                      AND p.pos BETWEEN wm.j AND wm.j + ${w - 1} AND p.h = wm.mh
                    GROUP BY wm.doc_id, wm.j) s),
         gm AS (SELECT p.doc_id, min(p.h) AS mh
                FROM ph p JOIN cnt c USING (doc_id) WHERE c.n < $w GROUP BY 1),
         gsel AS (SELECT p.doc_id, max(p.pos) AS pos
                  FROM gm JOIN ph p ON p.doc_id = gm.doc_id AND p.h = gm.mh GROUP BY 1),
         sel AS (SELECT * FROM selw UNION ALL SELECT * FROM gsel)"""
    }
    // exact duplicate-substring CTE chain (k = 8, df cap 64, full text):
    // rolling-hash k-gram table → capped self-join → diagonal islands →
    // `runs` (doc_a, doc_b, diag, run_chars, pa_start, pb_start). Shared by
    // q_shared_substrings and q_dup_intervals.
    val substrRunCtes =
      raw"""WITH nt AS (SELECT doc_id, $normText AS nt FROM documents),
         hsv AS (SELECT doc_id,
               CASE WHEN length(nt) >= 8 THEN
                 list_transform(range(1, length(nt) - 7 + 1),
                   i -> list_reduce(list_prepend(CAST(0 AS BIGINT),
                          list_transform(string_split(substr(nt, CAST(i AS INT), 8), ''),
                            c -> CAST(ascii(c) AS BIGINT))),
                        (h, cp) -> (h * 131 + cp) % 2147483647))
               ELSE [] END AS hs FROM nt),
         kg AS (SELECT doc_id, CAST(i AS BIGINT) AS pos, h FROM (
                  SELECT doc_id, unnest(hs) AS h, generate_subscripts(hs, 1) AS i FROM hsv) u),
         dfc AS (SELECT h FROM (SELECT h, count(DISTINCT doc_id) AS c FROM kg GROUP BY h) WHERE c <= 64),
         capped AS (SELECT kg.* FROM kg JOIN dfc USING (h)),
         m AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pa, a.pos - b.pos AS diag
               FROM capped a JOIN capped b ON a.h = b.h AND a.doc_id < b.doc_id),
         isl AS (SELECT doc_a, doc_b, diag, pa,
                   pa - row_number() OVER (PARTITION BY doc_a, doc_b, diag ORDER BY pa) AS island
                 FROM m),
         runs AS (SELECT doc_a, doc_b, diag, island, count(*) + 7 AS run_chars,
                    min(pa) AS pa_start, min(pa) - diag AS pb_start
                  FROM isl GROUP BY 1, 2, 3, 4)"""
    // within-doc variant: same nt/hsv/kg hash CTEs, then the per-(doc, h)
    // occurrence cap, same-doc pa < pb matches, islands per (doc, diagonal)
    val selfRunCtes =
      raw"""WITH nt AS (SELECT doc_id, $normText AS nt FROM documents),
         hsv AS (SELECT doc_id,
               CASE WHEN length(nt) >= 8 THEN
                 list_transform(range(1, length(nt) - 7 + 1),
                   i -> list_reduce(list_prepend(CAST(0 AS BIGINT),
                          list_transform(string_split(substr(nt, CAST(i AS INT), 8), ''),
                            c -> CAST(ascii(c) AS BIGINT))),
                        (h, cp) -> (h * 131 + cp) % 2147483647))
               ELSE [] END AS hs FROM nt),
         kg AS (SELECT doc_id, CAST(i AS BIGINT) AS pos, h FROM (
                  SELECT doc_id, unnest(hs) AS h, generate_subscripts(hs, 1) AS i FROM hsv) u),
         occ AS (SELECT doc_id, h FROM (
                   SELECT doc_id, h, count(*) AS c FROM kg GROUP BY 1, 2) WHERE c <= 64),
         capped AS (SELECT kg.* FROM kg JOIN occ USING (doc_id, h)),
         sm AS (SELECT a.doc_id, a.pos AS pa, a.pos - b.pos AS diag
                FROM capped a JOIN capped b
                ON a.doc_id = b.doc_id AND a.h = b.h AND a.pos < b.pos),
         sisl AS (SELECT doc_id, diag, pa,
                    pa - row_number() OVER (PARTITION BY doc_id, diag ORDER BY pa) AS island
                  FROM sm),
         sruns AS (SELECT doc_id, diag, island, count(*) + 7 AS run_chars
                   FROM sisl GROUP BY 1, 2, 3)"""
    // C4-style segment-dedup CTE chain (width 10, minTokens 10): normalized
    // tokens → non-overlapping 10-token segments with ordinals → 60-bit md5
    // candidates (full-width only) → two-step winner (min doc_id, then min
    // unit_no within it). Shared by q_dup_segments and q_seg_dedup.
    val segDedupCtes =
      raw"""WITH nt AS (SELECT doc_id, $normText AS nt FROM documents),
         tl AS (SELECT doc_id, string_split(nt, ' ') AS l FROM nt),
         sl AS (SELECT doc_id,
                  list_transform(range(1, CAST(ceil(len(l) / 10.0) AS BIGINT) + 1),
                    i -> array_to_string(l[CAST((i - 1) * 10 + 1 AS INT):CAST(i * 10 AS INT)], ' '))
                    AS segl
                FROM tl),
         seg AS (SELECT doc_id, unnest(segl) AS unit,
                   generate_subscripts(segl, 1) AS unit_no FROM sl),
         cand AS (SELECT doc_id, unit_no,
                    CAST(('0x' || substr(md5(unit), 1, 15))::UBIGINT AS BIGINT) AS fp
                  FROM seg WHERE len(string_split(unit, ' ')) >= 10),
         w1 AS (SELECT fp, min(doc_id) AS wd, count(*) AS n FROM cand GROUP BY 1),
         w2 AS (SELECT c.fp, min(c.unit_no) AS wn
                FROM cand c JOIN w1 ON c.fp = w1.fp AND c.doc_id = w1.wd GROUP BY 1)"""
    // Explicit LEFT-FOLD sums for the embedding math: pins DuckDB to the same
    // accumulation order as Spark's `aggregate(zip_with(...))` expressions —
    // `sum()` over unnest has matched on every verified run but its order is
    // not contractual, and a sum landing exactly on a x.00005 boundary after
    // a reordered accumulation would flip the rounded 4th digit.
    def foldSum(products: String) =
      s"list_reduce(list_prepend(CAST(0 AS DOUBLE), $products), (acc, x) -> acc + x)"
    def dotSql(a: String, b: String) =
      foldSum(s"list_transform(list_zip($a, $b), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))")
    def normSql(a: String) =
      s"sqrt(${foldSum(s"list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))")})"
    // SemDeDup CTE chain (8 seed centroids, iterations 0, τ = 0.3): seed
    // centroids = first-8 embeddings by vec_id; assignment = argmax LEFT-
    // FOLD dot (ties → lowest centroid_id, Spark's array_position-first
    // rule); within-cluster pairs with floor-rounded cosine ≥ τ. Shared by
    // q_semdedup_pairs and q_semdedup.
    def semDedupCtes(withKw: String) =
      raw"""$withKw cs AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INT) - 1 AS centroid_id,
                  embedding AS cv
           FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 8)),
         dts AS (SELECT e.vec_id, e.embedding, cs.centroid_id,
                   ${dotSql("e.embedding", "cs.cv")} AS d
                 FROM embeddings e CROSS JOIN cs),
         asn AS (SELECT vec_id, embedding, centroid_id FROM (
                   SELECT vec_id, embedding, centroid_id,
                     row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, centroid_id ASC) AS rn
                   FROM dts) r WHERE rn = 1),
         spairs AS (SELECT * FROM (
                      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                        CAST(a.centroid_id AS BIGINT) AS centroid_id,
                        floor((${dotSql("a.embedding", "b.embedding")} /
                          (${normSql("a.embedding")} * ${normSql("b.embedding")})) * 10000 + 0.5) / 10000 AS sim
                      FROM asn a JOIN asn b
                        ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id) s
                    WHERE sim >= 0.3)"""

    // shared BM25 statistics chain (tokens → tf → dl → corpus stats →
    // query-term postings → df) and the per-term score expression — used
    // unrounded by q_bm25_doc and rounded per-term by q_bm25
    val bm25Ctes =
      raw"""WITH ltk AS (SELECT doc_id, unnest(string_split($normText, ' ')) AS token FROM documents),
         tf0 AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
                 FROM ltk WHERE length(token) > 0 GROUP BY 1, 2),
         dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf0 GROUP BY 1),
         st AS (SELECT CAST(count(*) AS BIGINT) AS n, avg(CAST(dl AS DOUBLE)) AS avgdl FROM dl),
         tf AS (SELECT * FROM tf0 WHERE token IN (${Bm25QueryTerms.map("'" + _ + "'").mkString(", ")})),
         df AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1)"""
    val bm25ScoreSql =
      s"""ln(1.0 + (CAST(n AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))
         * CAST(tf AS DOUBLE) * ${Relevance.DefaultK1 + 1.0}
         / (CAST(tf AS DOUBLE) + ${Relevance.DefaultK1} * (${1.0 - Relevance.DefaultB} + ${Relevance.DefaultB} * CAST(dl AS DOUBLE) / avgdl))"""
    // shared SimHash signature pipeline (token md5 votes → 32 sign bits)
    val simhashCte =
      raw"""WITH tk AS (SELECT doc_id, unnest(string_split($normText, ' ')) AS tok FROM documents),
         h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::UBIGINT AS hv FROM tk),
         bits AS (SELECT doc_id, b AS bit,
                  sum(CASE WHEN (hv >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
                  FROM h, generate_series(0, 31) t(b) GROUP BY doc_id, b),
         sim AS (SELECT doc_id, CAST(sum(CASE WHEN s >= 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT) AS simhash
                 FROM bits GROUP BY doc_id)"""

    Map(
      "q_vocab_agg" ->
        raw"""SELECT token, CAST(count(*) AS BIGINT) AS freq
           FROM (SELECT unnest($toks) AS token FROM documents) t
           WHERE length(token) > 0 GROUP BY token""",

      "q_vocab_pruned" ->
        raw"""SELECT token, CAST(count(*) AS BIGINT) AS freq
           FROM (SELECT unnest($toks) AS token FROM documents) t
           WHERE length(token) > 0 GROUP BY token HAVING count(*) >= 5""",

      "q_vocab_top" ->
        raw"""SELECT token, CAST(count(*) AS BIGINT) AS freq
           FROM (SELECT unnest($toks) AS token FROM documents) t
           WHERE length(token) > 0 GROUP BY token
           ORDER BY freq DESC, token ASC LIMIT 100""",

      "q_max_freq" ->
        raw"""SELECT CAST(max(freq) AS BIGINT) AS max_freq FROM (
             SELECT count(*) AS freq
             FROM (SELECT unnest($toks) AS token FROM documents) t
             WHERE length(token) > 0 GROUP BY token)""",

      "q_distinct_chars" ->
        "SELECT DISTINCT unnest(string_split(text, '')) AS ch FROM documents",

      "q_split_assign" ->
        raw"""SELECT doc_id, CASE (doc_id + 1) % 10 WHEN 9 THEN 'validation'
             WHEN 0 THEN 'test' ELSE 'train' END AS split FROM documents""",

      "q_split_counts" ->
        raw"""SELECT split, CAST(count(*) AS BIGINT) AS n FROM (
             SELECT CASE (doc_id + 1) % 10 WHEN 9 THEN 'validation'
             WHEN 0 THEN 'test' ELSE 'train' END AS split FROM documents) GROUP BY split""",

      "q_doc_stats" ->
        raw"""SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(max(length(text)) AS BIGINT) AS max_len,
             CAST(sum(n_chars) AS BIGINT) AS sum_chars FROM documents""",

      "q_reassemble" ->
        raw"""SELECT doc_id, string_agg(tok, ' ' ORDER BY i) AS rebuilt
           FROM (SELECT doc_id, unnest($toks) AS tok, generate_subscripts($toks, 1) AS i
                 FROM documents) t
           WHERE length(tok) > 0 GROUP BY doc_id""",

      "q_levenshtein" ->
        raw"""SELECT a.doc_id, CAST(levenshtein(substr(a.text, 1, 60), substr(b.text, 1, 60)) AS BIGINT) AS lev
           FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1""",

      "q_damerau" ->
        raw"""SELECT a.doc_id, CAST(damerau_levenshtein(substr(a.text, 1, 60), substr(b.text, 1, 60)) AS BIGINT) AS dl
           FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1""",

      "q_cer_rows" ->
        raw"""SELECT a.doc_id,
             CAST(damerau_levenshtein(substr(a.text, 1, 60), substr(b.text, 1, 60)) AS BIGINT) AS dist,
             floor((damerau_levenshtein(substr(a.text, 1, 60), substr(b.text, 1, 60)) * 1.0
                   / length(substr(b.text, 1, 60))) * 10000 + 0.5) / 10000 AS norm_dist
           FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1""",

      "q_cer_summary" ->
        raw"""WITH r AS (
             SELECT damerau_levenshtein(substr(a.text, 1, 60), substr(b.text, 1, 60)) AS dist,
                    damerau_levenshtein(substr(a.text, 1, 60), substr(b.text, 1, 60)) * 1.0
                    / length(substr(b.text, 1, 60)) AS norm
             FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1)
           SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(dist) AS BIGINT) AS sum_dist,
                  CAST(sum(CASE WHEN dist = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_perfect,
                  floor(avg(norm) * 10000 + 0.5) / 10000 AS avg_norm FROM r""",

      "q_dedup_exact" ->
        raw"""SELECT md5($normText) AS text_fp, CAST(min(doc_id) AS BIGINT) AS keep_id,
             CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY 1""",

      "q_minhash" ->
        raw"""WITH $tokCte, $sh3Cte
           SELECT doc_id, ${(0 until 4).map(k => minhashH("sh", k) + s" AS h$k").mkString(", ")}
           FROM sh GROUP BY doc_id""",

      "q_lsh_bands" ->
        raw"""$minhash8 SELECT doc_id, band, band_key FROM ($bandRows) b""",

      "q_lsh_pairs" ->
        raw"""$minhash8, bands AS ($bandRows)
           SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           FROM bands a JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
             AND a.doc_id < b.doc_id""",

      "q_star_pairs" ->
        raw"""$minhash8, bands AS ($bandRows),
           pairs AS (
             SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             FROM bands a JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
               AND a.doc_id < b.doc_id)
           SELECT min(id_a) AS id_a, id_b FROM pairs GROUP BY id_b""",

      // transitive closure via recursive CTE: reach(u, r) enumerates every
      // node reachable from u through the symmetrized pair graph; min(r) per
      // node is exactly the large-star/small-star fixpoint label. The
      // recursive UNION dedups, so the walk terminates.
      "q_dedup_cc" ->
        raw"""WITH RECURSIVE${minhash8.stripPrefix("WITH")}, bands AS ($bandRows),
           pairs AS (
             SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             FROM bands a JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
               AND a.doc_id < b.doc_id),
           sym AS (SELECT id_a AS u, id_b AS v FROM pairs
                   UNION SELECT id_b, id_a FROM pairs),
           reach(u, r) AS (
             SELECT u, u FROM (SELECT DISTINCT u FROM sym) n
             UNION
             SELECT s.u, e.v FROM reach s JOIN sym e ON e.u = s.r)
           SELECT u AS doc_id, CAST(min(r) AS BIGINT) AS component
           FROM reach GROUP BY u""",

      // mirrors Dedup.jaccardVerify exactly: DISTINCT shingle STRINGS first,
      // then the 60-bit md5 key, inner joins drop zero-intersection pairs
      "q_lsh_verify" ->
        raw"""$minhash8, bands AS ($bandRows),
           pairs AS (
             SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             FROM bands a JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
               AND a.doc_id < b.doc_id),
           dsh AS (
             SELECT doc_id, CAST(('0x' || substr(md5(sh), 1, 15))::UBIGINT AS BIGINT) AS shh
             FROM (SELECT DISTINCT doc_id, sh FROM sh) d),
           sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM dsh GROUP BY 1),
           inter AS (
             SELECT p.id_a, p.id_b, CAST(count(*) AS BIGINT) AS ni
             FROM pairs p
             JOIN dsh a ON a.doc_id = p.id_a
             JOIN dsh b ON b.doc_id = p.id_b AND b.shh = a.shh
             GROUP BY 1, 2)
           SELECT i.id_a, i.id_b,
             floor(CAST(ni AS DOUBLE) / (sa.n + sb.n - ni) * 10000 + 0.5) / 10000 AS jaccard
           FROM inter i
           JOIN sizes sa ON sa.doc_id = i.id_a
           JOIN sizes sb ON sb.doc_id = i.id_b""",

      "q_simhash" ->
        raw"""$simhashCte SELECT doc_id, simhash FROM sim""",

      "q_simhash_bands" ->
        raw"""$simhashCte SELECT doc_id, CAST(b AS BIGINT) AS band,
             CAST((simhash >> (b * 8)) & 255 AS BIGINT) AS band_key
           FROM sim, generate_series(0, 3) t(b)""",

      "q_simhash_hamming" ->
        raw"""$simhashCte SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
           FROM sim a JOIN sim b ON b.doc_id = a.doc_id + 1""",

      // CC over the SimHash near-dup graph: banded candidates (4×8-bit
      // sub-keys), bit_count(xor) <= 3 verify, then the same recursive-CTE
      // transitive closure as q_dedup_cc
      "q_dedup_cc_simhash" ->
        raw"""WITH RECURSIVE${simhashCte.stripPrefix("WITH")},
           bands AS (SELECT doc_id, simhash, b AS band,
                       (simhash >> (b * 8)) & 255 AS band_key
                     FROM sim, generate_series(0, 3) t(b)),
           pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                     FROM bands a JOIN bands b
                       ON b.band = a.band AND b.band_key = a.band_key
                       AND a.doc_id < b.doc_id
                     WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
           sym AS (SELECT id_a AS u, id_b AS v FROM pairs
                   UNION SELECT id_b, id_a FROM pairs),
           reach(u, r) AS (
             SELECT u, u FROM (SELECT DISTINCT u FROM sym) n
             UNION
             SELECT s.u, e.v FROM reach s JOIN sym e ON e.u = s.r)
           SELECT u AS doc_id, CAST(min(r) AS BIGINT) AS component
           FROM reach GROUP BY u""",

      "q_ngram_jaccard" ->
        raw"""WITH $tokCte,
           sh AS (SELECT DISTINCT doc_id, sh FROM (
                  SELECT a.doc_id, a.tok || ' ' || b.tok AS sh
                  FROM tk a JOIN tk b ON b.doc_id = a.doc_id AND b.i = a.i + 1
                  UNION ALL
                  SELECT doc_id, $normText AS sh FROM documents
                  WHERE len(string_split($normText, ' ')) < 2)),
           sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
           pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM documents a
                  JOIN documents b ON b.doc_id = a.doc_id + 1),
           inter AS (SELECT p.id_a, p.id_b, count(*) AS ni FROM pr p
                     JOIN sh x ON x.doc_id = p.id_a
                     JOIN sh y ON y.doc_id = p.id_b AND y.sh = x.sh
                     GROUP BY p.id_a, p.id_b)
           SELECT p.id_a, p.id_b,
                  floor((COALESCE(ni, 0) * 1.0 / (sa.n + sb.n - COALESCE(ni, 0))) * 10000 + 0.5) / 10000 AS jaccard
           FROM pr p JOIN sz sa ON sa.doc_id = p.id_a JOIN sz sb ON sb.doc_id = p.id_b
           LEFT JOIN inter ON inter.id_a = p.id_a AND inter.id_b = p.id_b""",

      // containment restated: the q_ngram_jaccard overlap CTEs, INNER join
      // on the intersection (zero-overlap pairs emit no row, matching the
      // engine's verify join), three rounded ratios
      "q_containment" ->
        raw"""WITH $tokCte,
           sh AS (SELECT DISTINCT doc_id, sh FROM (
                  SELECT a.doc_id, a.tok || ' ' || b.tok AS sh
                  FROM tk a JOIN tk b ON b.doc_id = a.doc_id AND b.i = a.i + 1
                  UNION ALL
                  SELECT doc_id, $normText AS sh FROM documents
                  WHERE len(string_split($normText, ' ')) < 2)),
           sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
           pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM documents a
                  JOIN documents b ON b.doc_id = a.doc_id + 1),
           inter AS (SELECT p.id_a, p.id_b, count(*) AS ni FROM pr p
                     JOIN sh x ON x.doc_id = p.id_a
                     JOIN sh y ON y.doc_id = p.id_b AND y.sh = x.sh
                     GROUP BY p.id_a, p.id_b)
           SELECT i.id_a, i.id_b,
                  floor((ni * 1.0 / (sa.n + sb.n - ni)) * 10000 + 0.5) / 10000 AS jaccard,
                  floor((ni * 1.0 / sa.n) * 10000 + 0.5) / 10000 AS containment_a,
                  floor((ni * 1.0 / sb.n) * 10000 + 0.5) / 10000 AS containment_b
           FROM inter i JOIN sz sa ON sa.doc_id = i.id_a JOIN sz sb ON sb.doc_id = i.id_b""",

      // LSH Ensemble restated: the q_containment shingle CTEs on the
      // doc_id%10 subset, per-position md5 minhash signatures, log2 size
      // buckets (+1e-9 epsilon, same as the engine), the same
      // largest-r-with-recall>=0.9 scheme rule via a range join, band keys
      // as md5 over comma-joined in-band minima, small-side x large-side
      // key join, exact containment verify at threshold 0.5
      "q_containment_lsh" ->
        raw"""WITH docs AS (SELECT * FROM documents WHERE doc_id % 10 = 0),
           tk AS (SELECT doc_id, unnest(string_split($normText, ' ')) AS tok,
                  generate_subscripts(string_split($normText, ' '), 1) AS i FROM docs),
           sh AS (SELECT DISTINCT doc_id, sh FROM (
                  SELECT a.doc_id, a.tok || ' ' || b.tok AS sh
                  FROM tk a JOIN tk b ON b.doc_id = a.doc_id AND b.i = a.i + 1
                  UNION ALL
                  SELECT doc_id, $normText AS sh FROM docs
                  WHERE len(string_split($normText, ' ')) < 2)),
           sz AS (SELECT doc_id, count(*) AS n,
                         CAST(floor(log2(count(*)) + 1e-9) AS BIGINT) AS p
                  FROM sh GROUP BY doc_id),
           bse AS (SELECT doc_id,
                          CAST(('0x' || substr(md5(sh), 1, 15))::UBIGINT AS BIGINT) AS b
                   FROM sh),
           sig AS (SELECT doc_id, k,
                          CAST(min(xor(b, m)) AS BIGINT) AS h
                   FROM bse CROSS JOIN (VALUES ${ensembleMaskRows}) ks(k, m)
                   GROUP BY doc_id, k),
           parts AS (SELECT DISTINCT p FROM sz),
           schemes AS (SELECT s, l, max(r) AS r FROM (
                  SELECT sp.p AS s, lp.p AS l, rr.r AS r,
                         0.2 * pow(2, sp.p) / (pow(2, sp.p) + pow(2, lp.p + 1)) AS j
                  FROM parts sp JOIN parts lp ON lp.p >= sp.p
                  CROSS JOIN (SELECT unnest(range(1, 65)) AS r) rr) t
                  WHERE 1 - pow(1 - pow(j, r), 64 // r) >= 0.9
                  GROUP BY s, l),
           keys AS (SELECT z.doc_id, z.p, c.s, c.l,
                           md5('ce:' || CAST(c.s AS VARCHAR) || ':' || CAST(c.l AS VARCHAR) ||
                               ':' || CAST(g.k // c.r AS VARCHAR) || ':' ||
                               string_agg(CAST(g.h AS VARCHAR), ',' ORDER BY g.k)) AS bk
                    FROM sz z JOIN schemes c ON z.p = c.s OR z.p = c.l
                    JOIN sig g ON g.doc_id = z.doc_id AND g.k < (64 // c.r) * c.r
                    GROUP BY z.doc_id, z.p, c.s, c.l, c.r, g.k // c.r),
           cand AS (SELECT DISTINCT least(a.doc_id, b.doc_id) AS id_a,
                           greatest(a.doc_id, b.doc_id) AS id_b
                    FROM keys a JOIN keys b
                      ON a.s = b.s AND a.l = b.l AND a.bk = b.bk
                     AND a.p = a.s AND b.p = b.l AND a.doc_id <> b.doc_id),
           inter AS (SELECT c.id_a, c.id_b, count(*) AS ni FROM cand c
                     JOIN sh x ON x.doc_id = c.id_a
                     JOIN sh y ON y.doc_id = c.id_b AND y.sh = x.sh
                     GROUP BY c.id_a, c.id_b)
           SELECT i.id_a, i.id_b,
                  floor((ni * 1.0 / (sa.n + sb.n - ni)) * 10000 + 0.5) / 10000 AS jaccard,
                  floor((ni * 1.0 / sa.n) * 10000 + 0.5) / 10000 AS containment_a,
                  floor((ni * 1.0 / sb.n) * 10000 + 0.5) / 10000 AS containment_b
           FROM inter i JOIN sz sa ON sa.doc_id = i.id_a JOIN sz sb ON sb.doc_id = i.id_b
           WHERE greatest(ni * 1.0 / sa.n, ni * 1.0 / sb.n) >= 0.2""",

      "q_chunked_identity" ->
        "SELECT doc_id, text FROM documents",

      "q_encode_roundtrip" ->
        "SELECT doc_id, text FROM documents",

      "q_decode_stop" ->
        "SELECT doc_id, text FROM documents",

      "q_html_extract" ->
        raw"""WITH base AS (SELECT doc_id, trim(regexp_replace(text, '\s+', ' ', 'g')) AS t FROM documents)
           SELECT CAST(doc_id AS VARCHAR) AS doc_id, CAST(0 AS BIGINT) AS offset,
                  'text' AS kind, t AS text, '' AS media_ref FROM base
           UNION ALL
           SELECT CAST(doc_id AS VARCHAR), CAST(1 AS BIGINT), 'media', '',
                  'media://m' || CAST(doc_id AS VARCHAR) FROM base
           UNION ALL
           SELECT CAST(doc_id AS VARCHAR), CAST(2 AS BIGINT), 'text', t, '' FROM base""",

      "q_html_media" ->
        raw"""SELECT doc_id, unnest(regexp_extract_all($htmlSql,
             '<(?:img|video|audio)[^>]*src="([^"]*)"', 1)) AS ref FROM documents""",

      "q_html_title" ->
        raw"""SELECT doc_id, regexp_extract($htmlSql, '<title>([^<]*)</title>', 1) AS title
           FROM documents""",

      "q_langid" ->
        raw"""SELECT doc_id, CASE
             WHEN len(regexp_extract_all(text, '[一-鿿]')) > 0 THEN 'zh'
             WHEN len(regexp_extract_all(text, '[äöüßÄÖÜ]')) > 0 THEN 'de'
             WHEN len(regexp_extract_all(text, '[áíóúñ¿¡]')) > 0 THEN 'es'
             WHEN len(regexp_extract_all(text, '[àâçêëîïôùûœ]')) > 0 THEN 'fr'
             ELSE 'en' END AS lang_pred FROM documents""",

      "q_token_counts" ->
        raw"""SELECT doc_id,
             CAST(len(list_filter($toks, x -> length(x) > 0)) AS BIGINT) AS ws_tokens,
             CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS bpe_tokens
           FROM documents""",

      "q_quality" ->
        raw"""WITH f AS (SELECT doc_id,
             list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), x -> length(x) > 0) AS lt,
             len(regexp_extract_all(lower(text), '[a-z ]')) * 1.0 / length(text) AS alpha,
             len(regexp_extract_all(text, '[.,;:!?''"()\[\]{}-]')) * 1.0 / length(text) AS punct,
             list_filter(regexp_split_to_array(trim(text), '\s+'), x -> length(x) > 0) AS t
             FROM documents),
           g AS (SELECT doc_id, alpha, punct,
             len(list_filter(lt, x -> x IN ('the','a','an','and','of','to','in','is','on','for'))) * 1.0 / len(lt) AS stopr,
             list_aggregate(list_transform(t, x -> length(x)), 'sum') * 1.0 / len(t) AS mtl,
             len(t) AS nt FROM f)
           SELECT doc_id, floor(alpha * 10000 + 0.5) / 10000 AS alpha_ratio, floor(punct * 10000 + 0.5) / 10000 AS punct_ratio,
             floor(stopr * 10000 + 0.5) / 10000 AS stopword_ratio, floor(mtl * 10000 + 0.5) / 10000 AS mean_token_len,
             floor(greatest(least(least(nt / 100.0, 1.0) * 0.3 + alpha * 0.4 + stopr * 0.3 - punct * 0.5, 1.0), 0.0) * 10000 + 0.5) / 10000 AS quality
           FROM g""",

      // Gopher rules: same ws-token discipline as q_quality; `...` counted
      // non-overlapping via replace length-difference (exactly the kernel's
      // indexOf walk); line predicates anchored regexes over chr(10) splits
      // (DuckDB string_split keeps trailing empties, like Java split -1);
      // keep computed on UNROUNDED signals in both engines
      "q_gopher" ->
        raw"""WITH f AS (SELECT doc_id, text,
             list_filter(regexp_split_to_array(trim(text), '\s+'), x -> length(x) > 0) AS t,
             list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), x -> length(x) > 0) AS lt,
             string_split(text, chr(10)) AS ln
             FROM documents),
           g AS (SELECT doc_id, len(t) AS wc, len(ln) AS nl,
             CASE WHEN len(t) = 0 THEN 0.0 ELSE list_aggregate(list_transform(t, x -> length(x)), 'sum') * 1.0 / len(t) END AS mwl,
             CASE WHEN len(t) = 0 THEN 0.0 ELSE
               ((length(text) - length(replace(text, '...', ''))) / 3
                + (length(text) - length(replace(text, '#', '')))
                + (length(text) - length(replace(text, '…', '')))) * 1.0 / len(t) END AS symr,
             CASE WHEN len(t) = 0 THEN 0.0 ELSE
               len(list_filter(t, w -> regexp_matches(w, '[a-zA-Z]'))) * 1.0 / len(t) END AS alphaf,
             len(list_filter(ln, l -> regexp_matches(l, '^[ \t]*[-*•‣]'))) * 1.0 / len(ln) AS bulletf,
             len(list_filter(ln, l -> regexp_matches(l, '(\.\.\.|…)[ \t]*$$'))) * 1.0 / len(ln) AS ellipf,
             len(list_filter(['the','be','to','of','and','that','have','with'],
                 s -> list_contains(lt, s))) AS stop_hits
             FROM f)
           SELECT doc_id, CAST(wc AS BIGINT) AS wc,
             ${Portable.round4Sql("mwl")} AS mwl, ${Portable.round4Sql("symr")} AS symr,
             ${Portable.round4Sql("alphaf")} AS alphaf, ${Portable.round4Sql("bulletf")} AS bulletf,
             ${Portable.round4Sql("ellipf")} AS ellipf, CAST(stop_hits AS BIGINT) AS stop_hits,
             CAST(CASE WHEN wc >= 50 AND wc <= 100000 AND mwl >= 3.0 AND mwl <= 10.0
                  AND symr <= 0.1 AND alphaf >= 0.8 AND bulletf <= 0.9
                  AND ellipf <= 0.3 AND stop_hits >= 1 THEN 1 ELSE 0 END AS BIGINT) AS keep
           FROM g""",

      "q_fingerprint" ->
        raw"""SELECT doc_id, md5($normText) AS fp,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
               (h, cp) -> (h * 131 + cp) % 2147483647) AS rfp
           FROM documents""",

      // rollup: same lang/split/token expressions as q_langid /
      // q_split_assign / q_token_counts, GROUP BY ROLLUP + grouping() flags
      "q_corpus_rollup" ->
        raw"""WITH d AS (SELECT
             CASE
               WHEN len(regexp_extract_all(text, '[一-鿿]')) > 0 THEN 'zh'
               WHEN len(regexp_extract_all(text, '[äöüßÄÖÜ]')) > 0 THEN 'de'
               WHEN len(regexp_extract_all(text, '[áíóúñ¿¡]')) > 0 THEN 'es'
               WHEN len(regexp_extract_all(text, '[àâçêëîïôùûœ]')) > 0 THEN 'fr'
               ELSE 'en' END AS lang,
             CASE (doc_id + 1) % 10 WHEN 9 THEN 'validation'
               WHEN 0 THEN 'test' ELSE 'train' END AS split,
             CAST(len(list_filter($toks, x -> length(x) > 0)) AS BIGINT) AS toks,
             n_chars
           FROM documents)
           SELECT lang, split, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             CAST(sum(toks) AS BIGINT) AS sum_tokens,
             ${Portable.round4Sql("CAST(sum(toks) AS DOUBLE) / count(*)")} AS avg_tokens,
             CAST(grouping(lang) AS BIGINT) AS g_lang,
             CAST(grouping(split) AS BIGINT) AS g_split
           FROM d GROUP BY ROLLUP(lang, split)""",

      // winnowing: per-position polynomial k-gram hashes (list lambdas),
      // then relational rightmost-argmin per window (min-hash per window →
      // max pos at that hash); short docs (0 < n_hashes < w) take the
      // rightmost GLOBAL min; k = w = 8 over the 200-char prefix
      "q_winnow" ->
        raw"""$winnowCtes
           SELECT sel.doc_id, sel.pos, p.h
           FROM sel JOIN ph p ON p.doc_id = sel.doc_id AND p.pos = sel.pos""",

      // exact quantiles: quantile_cont == Spark percentile (both type-7
      // linear interpolation; verified bit-identical on this data)
      "q_len_quantiles" ->
        raw"""WITH d AS (SELECT n_chars,
               CASE (doc_id + 1) % 10 WHEN 9 THEN 'validation'
                 WHEN 0 THEN 'test' ELSE 'train' END AS split
             FROM documents),
           q AS (SELECT split, quantile_cont(n_chars, [0.25, 0.5, 0.75, 0.9, 0.99]) AS qs
                 FROM d GROUP BY 1)
           SELECT split,
             ${Portable.round4Sql("qs[1]")} AS q25,
             ${Portable.round4Sql("qs[2]")} AS q50,
             ${Portable.round4Sql("qs[3]")} AS q75,
             ${Portable.round4Sql("qs[4]")} AS q90,
             ${Portable.round4Sql("qs[5]")} AS q99
           FROM q""",

      // fingerprint-index match join: distinct (doc, h) per doc, stop-hash
      // filter (hashes in more than 64 docs dropped — no provenance signal,
      // near-quadratic join volume), self-join on the hash, pairs sharing
      // >= 8 surviving fingerprints
      "q_winnow_pairs" ->
        raw"""$winnowCtes,
           fp0 AS (SELECT DISTINCT sel.doc_id, p.h
                   FROM sel JOIN ph p ON p.doc_id = sel.doc_id AND p.pos = sel.pos),
           hdf AS (SELECT h FROM fp0 GROUP BY h HAVING count(*) <= 64),
           fp AS (SELECT fp0.doc_id, fp0.h FROM fp0 JOIN hdf USING (h))
           SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS n_shared
           FROM fp a JOIN fp b ON b.h = a.h AND a.doc_id < b.doc_id
           GROUP BY 1, 2 HAVING count(*) >= 8""",

      // repetition signals: exploded token/bigram counts; top bigram picked
      // by (freq DESC, gram ASC) window — the deterministic tie-break the
      // kernel and the relational form implement as min(struct(-f, g))
      "q_shared_substrings" ->
        raw"""$substrRunCtes
           SELECT doc_a, doc_b, CAST(count(*) AS BIGINT) AS n_runs,
                  CAST(max(run_chars) AS BIGINT) AS max_run_chars
           FROM runs WHERE run_chars >= 25 GROUP BY 1, 2""",

      // within-doc restatement: same rolling-hash k-gram table, same-doc
      // pa < pb join under the per-(doc, hash) occurrence cap, islands per
      // (doc, diagonal)
      "q_self_repeats" ->
        raw"""$selfRunCtes
           SELECT doc_id, CAST(count(*) AS BIGINT) AS n_runs,
                  CAST(max(run_chars) AS BIGINT) AS max_run_chars
           FROM sruns WHERE run_chars >= 16 GROUP BY 1""",

      // the removal intervals: doc_b side of each run, merged per doc by
      // the cumulative-max islands trick (same window math as the Spark
      // side, so boundary arithmetic is contractual on both engines)
      "q_dup_intervals" ->
        raw"""$substrRunCtes,
           iv AS (SELECT DISTINCT doc_b AS doc_id, pb_start AS s, pb_start + run_chars AS e
                  FROM runs WHERE run_chars >= 25),
           cmv AS (SELECT doc_id, s, e,
                     max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS cm
                   FROM iv),
           brk AS (SELECT doc_id, s, e,
                     CASE WHEN cm IS NULL OR s > cm THEN 1 ELSE 0 END AS b FROM cmv),
           grp AS (SELECT doc_id, s, e,
                     sum(b) OVER (PARTITION BY doc_id ORDER BY s, e ROWS UNBOUNDED PRECEDING) AS g
                   FROM brk)
           SELECT doc_id, CAST(min(s) AS BIGINT) AS start_pos, CAST(max(e) AS BIGINT) AS end_pos
           FROM grp GROUP BY doc_id, g""",

      // the applied cut: kept segments between merged removal intervals
      // (lag(end) → next start, plus the tail), string_agg'd in position
      // order; docs without intervals pass through as normalized text
      "q_substr_cut" ->
        raw"""$substrRunCtes,
           iv AS (SELECT DISTINCT doc_b AS doc_id, pb_start AS s, pb_start + run_chars AS e
                  FROM runs WHERE run_chars >= 25),
           cmv AS (SELECT doc_id, s, e,
                     max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS cm
                   FROM iv),
           brk AS (SELECT doc_id, s, e,
                     CASE WHEN cm IS NULL OR s > cm THEN 1 ELSE 0 END AS b FROM cmv),
           grp AS (SELECT doc_id, s, e,
                     sum(b) OVER (PARTITION BY doc_id ORDER BY s, e ROWS UNBOUNDED PRECEDING) AS g
                   FROM brk),
           merged AS (SELECT doc_id, CAST(min(s) AS BIGINT) AS sp, CAST(max(e) AS BIGINT) AS ep
                      FROM grp GROUP BY doc_id, g),
           segs AS (SELECT doc_id,
                      COALESCE(lag(ep) OVER (PARTITION BY doc_id ORDER BY sp), 1) AS s0,
                      sp AS e0
                    FROM merged
                    UNION ALL
                    SELECT doc_id, max(ep) AS s0, NULL AS e0 FROM merged GROUP BY doc_id),
           cut AS (SELECT s.doc_id,
                     string_agg(substr(n.nt, CAST(s.s0 AS INT),
                       CAST(COALESCE(s.e0, length(n.nt) + 1) - s.s0 AS INT)), '' ORDER BY s.s0)
                       AS deduped
                   FROM segs s JOIN nt n USING (doc_id) GROUP BY 1)
           SELECT n.doc_id, COALESCE(c.deduped, n.nt) AS deduped_text
           FROM nt n LEFT JOIN cut c USING (doc_id)""",

      // C4-style duplicate-segment losers: 10-token non-overlapping
      // segments, 60-bit md5 keys (the decontam idiom), winner = two-step
      // min (min doc_id, then min unit_no within it — the cross-engine-safe
      // restatement of Spark's min(struct))
      "q_dup_segments" ->
        raw"""$segDedupCtes
           SELECT c.doc_id, CAST(c.unit_no AS BIGINT) AS unit_no
           FROM cand c JOIN w1 USING (fp) JOIN w2 USING (fp)
           WHERE w1.n > 1 AND NOT (c.doc_id = w1.wd AND c.unit_no = w2.wn)""",

      // the cut applied: kept segments re-joined in order; a doc whose
      // every segment lost rebuilds to '' (string_agg skips the blanked
      // rows), matching Spark's filtered array_join
      "q_seg_dedup" ->
        raw"""$segDedupCtes,
           losers AS (SELECT c.doc_id, c.unit_no
                      FROM cand c JOIN w1 USING (fp) JOIN w2 USING (fp)
                      WHERE w1.n > 1 AND NOT (c.doc_id = w1.wd AND c.unit_no = w2.wn)),
           cut AS (SELECT s.doc_id,
                     string_agg(CASE WHEN lo.doc_id IS NULL THEN s.unit END,
                       ' ' ORDER BY s.unit_no) AS deduped
                   FROM seg s LEFT JOIN losers lo USING (doc_id, unit_no)
                   GROUP BY 1)
           SELECT n.doc_id, COALESCE(c.deduped, '') AS deduped_text
           FROM nt n LEFT JOIN cut c USING (doc_id)""",

      // global running sum restated directly (the two-phase Spark form is
      // window-identical by construction); same canonical token count
      "q_seq_pack" ->
        raw"""WITH t AS (SELECT doc_id,
               CAST(len(list_filter(string_split($normText, ' '), x -> length(x) > 0)) AS BIGINT) AS n_tokens
             FROM documents),
           c AS (SELECT doc_id, n_tokens,
               COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tok_start
             FROM t)
           SELECT doc_id, n_tokens, CAST(tok_start AS BIGINT) AS tok_start,
             CAST(CASE WHEN n_tokens = 0 THEN NULL
                  ELSE floor(tok_start / 512) END AS BIGINT) AS start_bin,
             CAST(CASE WHEN n_tokens = 0 THEN NULL
                  ELSE floor((tok_start + n_tokens - 1) / 512) END AS BIGINT) AS end_bin
           FROM c""",

      "q_source_quota" ->
        raw"""SELECT doc_id, source, n_chars FROM (
             SELECT doc_id, source, n_chars,
               row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rn
             FROM documents) WHERE rn <= 30""",

      // PII patterns restricted to Java-regex ∩ RE2 syntax; the sequential
      // replacement order (email → phone → ip) is contractual on both
      // engines, and counts are staged the same way so they equal the
      // placeholders actually emitted
      "q_pii_scrub" ->
        raw"""WITH dirty AS (SELECT doc_id,
             text || ' contact doc' || CAST(doc_id AS VARCHAR) || '@example.com' ||
             ' from 10.2.' || CAST(doc_id % 256 AS VARCHAR) || '.7' ||
             ' call +1 (555) 01' || CAST(doc_id % 90 + 10 AS VARCHAR) ||
             ' pay ' || CASE WHEN doc_id % 2 = 0 THEN '4111 1111 1111 1111'
                             ELSE '4111 1111 1111 1112' END AS text
           FROM documents),
           st AS (SELECT doc_id, text,
             regexp_replace(text, '${Pii.EmailRe}', '[EMAIL]', 'g') AS after_email
           FROM dirty),
           st2 AS (SELECT doc_id, text, after_email,
             regexp_replace(after_email, '${Pii.PhoneRe}', '[PHONE]', 'g') AS after_phone
           FROM st),
           st3 AS (SELECT doc_id, text, after_email, after_phone,
             regexp_replace(after_phone, '${Pii.Ipv4Re}', '[IP]', 'g') AS after_ip
           FROM st2),
           cd AS (SELECT doc_id, c, reverse(regexp_replace(c, '[ -]', '', 'g')) AS r
                  FROM (SELECT doc_id, unnest(regexp_extract_all(after_ip, '${Pii.CardRe}')) AS c
                        FROM st3)),
           cv AS (SELECT doc_id, c FROM cd
                  WHERE list_reduce(list_prepend(0, list_transform(range(1, length(r) + 1),
                          i -> CASE WHEN i % 2 = 1
                                    THEN CAST(substr(r, CAST(i AS INT), 1) AS INT)
                                    ELSE CASE WHEN CAST(substr(r, CAST(i AS INT), 1) AS INT) > 4
                                              THEN CAST(substr(r, CAST(i AS INT), 1) AS INT) * 2 - 9
                                              ELSE CAST(substr(r, CAST(i AS INT), 1) AS INT) * 2 END
                               END)),
                        (a, x) -> a + x) % 10 = 0),
           ccnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_cards FROM cv GROUP BY 1),
           clst AS (SELECT doc_id, list(c ORDER BY length(c) DESC, c) AS cl
                    FROM (SELECT DISTINCT doc_id, c FROM cv) GROUP BY 1)
           SELECT st3.doc_id,
             CAST(len(regexp_extract_all(text, '${Pii.EmailRe}')) AS BIGINT) AS n_emails,
             CAST(len(regexp_extract_all(after_phone, '${Pii.Ipv4Re}')) AS BIGINT) AS n_ipv4,
             CAST(len(regexp_extract_all(after_email, '${Pii.PhoneRe}')) AS BIGINT) AS n_phones,
             COALESCE(ccnt.n_cards, 0) AS n_cards,
             list_reduce(list_prepend(after_ip, COALESCE(clst.cl, CAST([] AS VARCHAR[]))),
               (acc, c) -> replace(acc, c, '[CARD]')) AS redacted
           FROM st3 LEFT JOIN ccnt USING (doc_id) LEFT JOIN clst USING (doc_id)""",

      // 13-gram collision check; eval = the md5-gated 5% sample (cutoff
      // round(0.05 * 65536) = 3277), grams via list slicing
      "q_decontam" ->
        raw"""WITH nt AS (SELECT doc_id, $normText AS nt FROM documents),
           tl AS (SELECT doc_id, list_filter(string_split(nt, ' '), t -> length(t) > 0) AS l FROM nt),
           tg AS (SELECT doc_id, unnest(CASE WHEN len(l) >= 13 THEN
                    list_transform(range(1, len(l) - 13 + 2),
                      i -> array_to_string(l[CAST(i AS INT):CAST(i + 12 AS INT)], ' '))
                  ELSE [] END) AS gram FROM tl),
           tgh AS (SELECT doc_id, gram,
                     CAST(('0x' || substr(md5(gram), 1, 15))::UBIGINT AS BIGINT) AS gh FROM tg),
           ev AS (SELECT DISTINCT gh FROM tgh
                  WHERE doc_id IN (SELECT doc_id FROM documents
                    WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::UBIGINT AS BIGINT) < 3277))
           SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_hits, min(t.gram) AS sample_gram
           FROM tgh t JOIN ev USING (gh) GROUP BY 1""",

      // add-0.4 bigram LM self-trained on the corpus; ln on both engines,
      // per-doc fold in bigram position order (associativity discipline)
      "q_lm_score" ->
        raw"""WITH nt AS (SELECT doc_id, $normText AS nt FROM documents),
           tk AS (SELECT doc_id, tok, i FROM (
                    SELECT doc_id, unnest(string_split(nt, ' ')) AS tok,
                           generate_subscripts(string_split(nt, ' '), 1) AS i
                    FROM nt) t WHERE length(tok) > 0),
           bg AS (SELECT a.doc_id, a.i, a.tok || ' ' || b.tok AS g, a.tok AS w1
                  FROM tk a JOIN tk b ON b.doc_id = a.doc_id AND b.i = a.i + 1),
           cu AS (SELECT tok AS w1, CAST(count(*) AS BIGINT) AS c_uni FROM tk GROUP BY 1),
           cb AS (SELECT g, CAST(count(*) AS BIGINT) AS c_bi FROM bg GROUP BY 1),
           vs AS (SELECT CAST(count(*) AS BIGINT) AS v FROM cu),
           lp AS (SELECT bg.doc_id, bg.i,
                    ln((CAST(COALESCE(cb.c_bi, 0) AS DOUBLE) + 0.4) /
                       (CAST(COALESCE(cu.c_uni, 0) AS DOUBLE) + 0.4 * CAST(vs.v AS DOUBLE))) AS lp
                  -- LEFT join + COALESCE on the unigram side to match
                  -- scoreGrams' alpha-floor for pruned w1 unconditionally
                  -- (equivalent at minCount=1, where every w1 is present,
                  -- but contractual under any future pruning)
                  FROM bg LEFT JOIN cu USING (w1) LEFT JOIN cb USING (g), vs)
           SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
             ${Portable.round4Sql(
               "list_reduce(list_prepend(CAST(0 AS DOUBLE), list(lp ORDER BY i)), (a, x) -> a + x) / count(*)")} AS avg_logprob
           FROM lp GROUP BY doc_id""",

      "q_bigrams" ->
        raw"""WITH nt AS (SELECT doc_id, $normText AS nt FROM documents),
           tk AS (SELECT doc_id, tok, i FROM (
                    SELECT doc_id, unnest(string_split(nt, ' ')) AS tok,
                           generate_subscripts(string_split(nt, ' '), 1) AS i
                    FROM nt) t WHERE length(tok) > 0)
           SELECT a.tok || ' ' || b.tok AS gram, CAST(count(*) AS BIGINT) AS n
           FROM tk a JOIN tk b ON b.doc_id = a.doc_id AND b.i = a.i + 1
           GROUP BY 1 HAVING count(*) >= 3""",

      // BPE pair statistic restated: distinct-word counts, per-character
      // symbols + the </w> marker, adjacent positions weighted by word
      // frequency (overlapping positions count separately)
      "q_bpe_pairs" ->
        raw"""WITH nt AS (SELECT $normText AS nt FROM documents),
           w AS (SELECT unnest(string_split(nt, ' ')) AS word FROM nt),
           wc AS (SELECT word, CAST(count(*) AS BIGINT) AS n
                  FROM w WHERE length(word) > 0 GROUP BY 1),
           sym AS (SELECT n, list_append(string_split(word, ''), '</w>') AS s FROM wc),
           pos AS (SELECT n, s, unnest(range(1, len(s))) AS i FROM sym)
           SELECT s[CAST(i AS INT)] AS l, s[CAST(i AS INT) + 1] AS r,
                  CAST(sum(n) AS BIGINT) AS cnt
           FROM pos GROUP BY 1, 2""",

      // Bloom sketch restated: same md5(fp || ':' || i) probe positions,
      // 32-bit words bit_or-packed into BIGINTs (shift <= 31 — exact and
      // overflow-safe in both engines), membership = every probe bit set
      // shard assignment restated: same two md5 draws, per-shard dense
      // rank by (order key, id)
      "q_shards" ->
        raw"""WITH d AS (SELECT doc_id,
                 CAST(CAST(('0x' || substr(md5('shard::' || CAST(doc_id AS VARCHAR)), 1, 15))::UBIGINT AS BIGINT) % 8 AS BIGINT) AS shard,
                 CAST(('0x' || substr(md5('order::' || CAST(doc_id AS VARCHAR)), 1, 15))::UBIGINT AS BIGINT) AS ord
               FROM documents)
           SELECT doc_id, shard,
             CAST(row_number() OVER (PARTITION BY shard ORDER BY ord ASC, doc_id ASC) AS BIGINT) - 1 AS pos
           FROM d""",

      // CT langid restated: padded trigrams, per-lang and per-doc rank
      // windows with the (freq desc, gram asc) tie rule, integer
      // out-of-place sums, argmin by (dist, lang)
      "q_lang_profile" ->
        raw"""WITH nt AS (SELECT doc_id, lang, ' ' || $normText || ' ' AS s FROM documents),
           dg AS (SELECT doc_id, lang, substr(s, CAST(i AS INT), 3) AS gram
                  FROM (SELECT doc_id, lang, s, unnest(range(1, length(s) - 1)) AS i
                        FROM nt WHERE length(s) >= 3)),
           lp AS (SELECT lang, gram, CAST(rank AS BIGINT) AS rank FROM (
                    SELECT lang, gram,
                      row_number() OVER (PARTITION BY lang ORDER BY n DESC, gram ASC) AS rank
                    FROM (SELECT lang, gram, CAST(count(*) AS BIGINT) AS n
                          FROM dg GROUP BY 1, 2)) WHERE rank <= 200),
           dp AS (SELECT doc_id, gram, CAST(rank AS BIGINT) AS rank_d FROM (
                    SELECT doc_id, gram,
                      row_number() OVER (PARTITION BY doc_id ORDER BY n DESC, gram ASC) AS rank
                    FROM (SELECT doc_id, gram, CAST(count(*) AS BIGINT) AS n
                          FROM dg GROUP BY 1, 2)) WHERE rank <= 100),
           ls AS (SELECT DISTINCT lang FROM documents),
           dists AS (SELECT dp.doc_id, ls.lang,
                       CAST(sum(CASE WHEN lp.rank IS NULL THEN 200
                                     ELSE abs(dp.rank_d - lp.rank) END) AS BIGINT) AS dist
                     FROM dp CROSS JOIN ls
                     LEFT JOIN lp ON lp.lang = ls.lang AND lp.gram = dp.gram
                     GROUP BY 1, 2),
           best AS (SELECT doc_id, lang AS lang_pred, dist FROM (
                      SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY dist ASC, lang ASC) AS rn
                      FROM dists) WHERE rn = 1)
           SELECT d.doc_id,
             COALESCE(b.lang_pred, (SELECT min(lang) FROM ls)) AS lang_pred,
             COALESCE(b.dist, 0) AS dist
           FROM documents d LEFT JOIN best b USING (doc_id)""",

      // snapshot diff restated: same gate bands, same normalized-text
      // fingerprints, full outer join verdicts
      "q_corpus_diff" ->
        raw"""WITH g AS (SELECT CAST(doc_id AS VARCHAR) AS doc_id, text,
                 CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::UBIGINT AS BIGINT) AS gate
               FROM documents),
           newd AS (SELECT doc_id,
                      CASE WHEN gate >= 32768 THEN text || ' [v2]' ELSE text END AS text
                    FROM g WHERE gate < 49152
                    UNION ALL
                    SELECT doc_id || '_v2' AS doc_id, text FROM g WHERE gate >= 49152),
           o AS (SELECT doc_id, md5($normText) AS fp FROM g),
           n AS (SELECT doc_id, md5($normText) AS fp FROM newd)
           SELECT doc_id,
             CASE WHEN o.fp IS NULL THEN 'added'
                  WHEN n.fp IS NULL THEN 'removed'
                  WHEN o.fp = n.fp THEN 'unchanged'
                  ELSE 'changed' END AS status
           FROM o FULL OUTER JOIN n USING (doc_id)""",

      // spectrum restated: vocabulary counts, then counts-of-counts
      "q_freq_spectrum" ->
        raw"""WITH tk AS (SELECT unnest(string_split($normText, ' ')) AS t FROM documents),
           tc AS (SELECT t, CAST(count(*) AS BIGINT) AS freq
                  FROM tk WHERE length(t) > 0 GROUP BY 1)
           SELECT freq, CAST(count(*) AS BIGINT) AS n_types FROM tc GROUP BY 1""",

      // Good-Turing restated: the spectrum self-joined on freq+1
      "q_good_turing" ->
        raw"""WITH tk AS (SELECT unnest(string_split($normText, ' ')) AS t FROM documents),
           tc AS (SELECT t, CAST(count(*) AS BIGINT) AS freq
                  FROM tk WHERE length(t) > 0 GROUP BY 1),
           sp AS (SELECT freq, CAST(count(*) AS BIGINT) AS n_types FROM tc GROUP BY 1)
           SELECT s.freq, s.n_types,
                  (s.freq + 1) * t.n_types * 1.0 / s.n_types AS r_star
           FROM sp s LEFT JOIN sp t ON t.freq = s.freq + 1""",

      // length-batching restated: one GLOBAL rank window (the single-query
      // form the engine's two-phase trick is spec-equal to), 32-doc cuts,
      // integer padding accounting
      "q_len_batches" ->
        raw"""WITH tk AS (SELECT doc_id,
                 CAST(len(list_filter(string_split($normText, ' '), t -> length(t) > 0)) AS BIGINT) AS n_tokens
               FROM documents),
           r AS (SELECT doc_id, n_tokens,
                   row_number() OVER (ORDER BY n_tokens, doc_id) AS rank FROM tk),
           a AS (SELECT doc_id, n_tokens, CAST((rank - 1) // 32 AS BIGINT) AS batch_id FROM r)
           SELECT batch_id, CAST(count(*) AS BIGINT) AS n_docs,
                  CAST(max(n_tokens) AS BIGINT) AS max_len,
                  CAST(count(*) * max(n_tokens) - sum(n_tokens) AS BIGINT) AS padded_tokens
           FROM a GROUP BY 1""",

      // priority sampling restated: ln(weight) + the md5 Gumbel draw,
      // rounded key, top-150 by (key desc, doc_id)
      "q_weighted_sample" ->
        raw"""WITH w AS (SELECT doc_id, CAST(n_chars AS DOUBLE) AS weight FROM documents
                   WHERE n_chars IS NOT NULL AND n_chars > 0),
           ky AS (SELECT doc_id, weight,
                    ${Portable.round4Sql(
                      "ln(weight) + (-ln(-ln((CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::UBIGINT AS BIGINT) AS DOUBLE) + 0.5) / 65536.0)))")} AS gumbel_key
                  FROM w)
           SELECT doc_id, weight, gumbel_key FROM ky
           ORDER BY gumbel_key DESC, doc_id LIMIT 150""",

      // T5 span corruption restated: same md5 gates for starts/lengths,
      // union-of-spans masking (phantom past-the-end positions pad only
      // the tail run, exactly as in the engine), islands + dense_rank
      // sentinels, position-ordered string_agg reassembly
      "q_span_corrupt" ->
        raw"""WITH nt AS (SELECT doc_id, $normText AS nt FROM documents),
           tk AS (SELECT doc_id, i - 1 AS pos, tok FROM (
                    SELECT doc_id, unnest(string_split(nt, ' ')) AS tok,
                           generate_subscripts(string_split(nt, ' '), 1) AS i
                    FROM nt) t WHERE length(tok) > 0),
           sp AS (SELECT doc_id, pos AS s,
                    pos + 1 + CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#' || CAST(pos AS VARCHAR)), 1, 4))::UBIGINT AS BIGINT) % 4 AS e
                  FROM tk
                  WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(pos AS VARCHAR)), 1, 4))::UBIGINT AS BIGINT) < 3932),
           mk AS (SELECT DISTINCT doc_id, CAST(unnest(range(s, e)) AS BIGINT) AS pos FROM sp),
           runs AS (SELECT doc_id, pos,
                      CAST(dense_rank() OVER (PARTITION BY doc_id ORDER BY island) AS BIGINT) - 1 AS k
                    FROM (SELECT doc_id, pos,
                            pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS island
                          FROM mk)),
           ann AS (SELECT tk.doc_id, tk.pos, tk.tok, runs.k,
                     CASE WHEN runs.k IS NOT NULL THEN
                       row_number() OVER (PARTITION BY tk.doc_id, runs.k ORDER BY tk.pos) = 1
                     ELSE false END AS fst
                   FROM tk LEFT JOIN runs ON runs.doc_id = tk.doc_id AND runs.pos = tk.pos),
           agg AS (SELECT doc_id,
                     string_agg(CASE WHEN k IS NULL THEN tok
                                     ELSE '<extra_id_' || CAST(k AS VARCHAR) || '>' END, ' '
                       ORDER BY pos) FILTER (WHERE k IS NULL OR fst) AS input_text,
                     string_agg(CASE WHEN fst THEN '<extra_id_' || CAST(k AS VARCHAR) || '> ' || tok
                                     ELSE tok END, ' '
                       ORDER BY pos) FILTER (WHERE k IS NOT NULL) AS body,
                     COALESCE(max(k), -1) + 1 AS kc
                   FROM ann GROUP BY doc_id)
           SELECT d.doc_id,
             COALESCE(agg.input_text, '') AS input_text,
             COALESCE(CASE WHEN agg.body IS NULL OR agg.body = ''
                           THEN '<extra_id_' || CAST(agg.kc AS VARCHAR) || '>'
                           ELSE agg.body || ' <extra_id_' || CAST(agg.kc AS VARCHAR) || '>' END,
                      '<extra_id_0>') AS target_text
           FROM documents d LEFT JOIN agg USING (doc_id)""",

      // Count-Min restated: global token counts → d·w counter cells via
      // the md5(token || '#' || r) family → min-over-rows estimates for
      // the sampled candidate tokens — every number BIGINT-exact
      "q_cms_hh" ->
        raw"""WITH nt AS (SELECT doc_id, $normText AS nt FROM documents),
           tc AS (SELECT t AS token, CAST(count(*) AS BIGINT) AS n FROM (
                    SELECT unnest(string_split(nt, ' ')) AS t FROM nt)
                  WHERE length(t) > 0 GROUP BY 1),
           cel AS (SELECT CAST(r AS INT) AS r,
                     CAST(('0x' || substr(md5(token || '#' || CAST(r AS VARCHAR)), 1, 15))::UBIGINT AS BIGINT) % 8192 AS c,
                     n
                   FROM (SELECT token, n, unnest(range(0, 4)) AS r FROM tc)),
           sk AS (SELECT r, c, CAST(sum(n) AS BIGINT) AS cnt FROM cel GROUP BY 1, 2),
           cand AS (SELECT DISTINCT t AS token FROM (
                      SELECT unnest(string_split(nt, ' ')) AS t FROM nt
                      WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::UBIGINT AS BIGINT) < 19661)
                    WHERE length(t) > 0),
           pc AS (SELECT token, CAST(r AS INT) AS r,
                    CAST(('0x' || substr(md5(token || '#' || CAST(r AS VARCHAR)), 1, 15))::UBIGINT AS BIGINT) % 8192 AS c
                  FROM (SELECT token, unnest(range(0, 4)) AS r FROM cand)),
           est AS (SELECT token, CAST(min(COALESCE(sk.cnt, 0)) AS BIGINT) AS est
                   FROM pc LEFT JOIN sk USING (r, c) GROUP BY 1)
           SELECT token, est FROM est WHERE est >= 500""",

      "q_bloom_dedup" ->
        raw"""WITH ex AS (SELECT md5($normText) AS fp FROM documents
                   WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::UBIGINT AS BIGINT) < 19661),
           ks AS (SELECT fp, unnest(range(0, 5)) AS i FROM ex),
           ps AS (SELECT CAST(('0x' || substr(md5(fp || ':' || CAST(i AS VARCHAR)), 1, 15))::UBIGINT AS BIGINT) % 8192 AS pos
                  FROM ks),
           bl AS (SELECT CAST(pos // 32 AS INT) AS w,
                    bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INT)) AS bits
                  FROM ps GROUP BY 1),
           pr AS (SELECT doc_id, md5($normText) AS fp FROM documents),
           pp AS (SELECT doc_id, fp, unnest(range(0, 5)) AS i FROM pr),
           hit AS (SELECT doc_id,
                     CAST(('0x' || substr(md5(fp || ':' || CAST(i AS VARCHAR)), 1, 15))::UBIGINT AS BIGINT) % 8192 AS pos
                   FROM pp),
           chk AS (SELECT doc_id,
                     (COALESCE(b.bits, 0) & (CAST(1 AS BIGINT) << CAST(pos % 32 AS INT))) != 0 AS bitset
                   FROM hit LEFT JOIN bl b ON b.w = CAST(pos // 32 AS INT))
           SELECT doc_id, bool_and(bitset) AS member FROM chk GROUP BY 1""",

      "q_sample_strat" ->
        raw"""SELECT doc_id, lang FROM documents
           WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::UBIGINT AS BIGINT)
             < CASE WHEN lang = 'en' THEN 32768 WHEN lang = 'de' THEN 16384 ELSE 6554 END""",

      // hashed-feature count-diff classifier restated: tokenize the
      // normalized text, hash each token into 4096 slots via the 16-bit
      // md5 family, per-slot diff = pos-counts - neg-counts, per-doc
      // score = integer dot product (exact in any order), keep iff > 0
      "q_qclf" ->
        raw"""WITH tk AS (SELECT doc_id, unnest(string_split($normText, ' ')) AS token
                  FROM documents),
           ft AS (SELECT doc_id,
                    CAST(('0x' || substr(md5(token), 1, 4))::UBIGINT % 4096 AS INT) AS f,
                    CAST(count(*) AS BIGINT) AS c
                  FROM tk WHERE length(token) > 0 GROUP BY 1, 2),
           lb AS (SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
                  FROM documents),
           m AS (SELECT f, CAST(sum(CASE WHEN y = 1 THEN c ELSE -c END) AS BIGINT) AS diff
                 FROM ft JOIN lb USING (doc_id) GROUP BY f),
           sc AS (SELECT doc_id, CAST(sum(c * diff) AS BIGINT) AS score_raw
                  FROM ft JOIN m USING (f) GROUP BY doc_id)
           SELECT d.doc_id, coalesce(sc.score_raw, 0) AS score_raw,
             coalesce(sc.score_raw, 0) > 0 AS keep
           FROM documents d LEFT JOIN sc USING (doc_id)""",

      // DSIR restated: hashed unigram+bigram features (16-bit md5 % 4096),
      // add-0.5 bucket models for target (lang='en') and raw (all docs),
      // per-doc log-weight folded in feature-id order (associativity
      // discipline), Gumbel key from the md5 16-bit uniform, top-200 by
      // (rounded key desc, doc_id) — op order mirrors the Spark side
      // exactly (quotient inside ln, subtract, multiply by the count)
      "q_dsir" ->
        raw"""WITH nt AS (SELECT doc_id, lang, $normText AS nt FROM documents),
           tk AS (SELECT doc_id, tok, i FROM (
                    SELECT doc_id, unnest(string_split(nt, ' ')) AS tok,
                           generate_subscripts(string_split(nt, ' '), 1) AS i
                    FROM nt) t WHERE length(tok) > 0),
           gr AS (SELECT doc_id, tok AS gram FROM tk
                  UNION ALL
                  SELECT a.doc_id, a.tok || ' ' || b.tok AS gram
                  FROM tk a JOIN tk b ON b.doc_id = a.doc_id AND b.i = a.i + 1),
           ft AS (SELECT doc_id,
                    CAST(('0x' || substr(md5(gram), 1, 4))::UBIGINT % 4096 AS INT) AS f,
                    CAST(count(*) AS BIGINT) AS c
                  FROM gr GROUP BY 1, 2),
           p AS (SELECT f, CAST(sum(c) AS BIGINT) AS cp
                 FROM ft JOIN (SELECT doc_id FROM documents WHERE lang = 'en') USING (doc_id)
                 GROUP BY f),
           q AS (SELECT f, CAST(sum(c) AS BIGINT) AS cq FROM ft GROUP BY f),
           np AS (SELECT CAST(sum(cp) AS BIGINT) AS np FROM p),
           nq AS (SELECT CAST(sum(cq) AS BIGINT) AS nq FROM q),
           tm AS (SELECT ft.doc_id, ft.f, ft.c * (
                    ln((CAST(COALESCE(p.cp, 0) AS DOUBLE) + 0.5) /
                       (CAST(np.np AS DOUBLE) + 2048.0)) -
                    ln((CAST(COALESCE(q.cq, 0) AS DOUBLE) + 0.5) /
                       (CAST(nq.nq AS DOUBLE) + 2048.0))) AS term
                  FROM ft LEFT JOIN p USING (f) LEFT JOIN q USING (f), np, nq),
           w AS (SELECT doc_id,
                   list_reduce(list_prepend(CAST(0 AS DOUBLE), list(term ORDER BY f)),
                     (a, x) -> a + x) AS logw
                 FROM tm GROUP BY doc_id),
           al AS (SELECT d.doc_id, COALESCE(w.logw, CAST(0 AS DOUBLE)) AS logw
                  FROM documents d LEFT JOIN w USING (doc_id)),
           ky AS (SELECT doc_id, ${Portable.round4Sql("logw")} AS logw,
                    ${Portable.round4Sql(
                      "logw + (-ln(-ln((CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::UBIGINT AS BIGINT) AS DOUBLE) + 0.5) / 65536.0)))")} AS gumbel_key
                  FROM al)
           SELECT doc_id, logw, gumbel_key FROM ky
           ORDER BY gumbel_key DESC, doc_id LIMIT 200""",

      // water-filling restated: per-source counts, saturation thresholds
      // t = n/sqrt(n), prefix/suffix sums over the t-ordered source table
      // pick the unique linear segment containing lambda, and each row's
      // md5 gate compares against floor(frac*65536 + 0.5). All arithmetic
      // (sqrt, /, *) is correctly rounded IEEE, so the engines agree
      // bit-for-bit on membership.
      "q_source_mix" ->
        raw"""WITH n AS (SELECT source, CAST(count(*) AS BIGINT) AS n
                  FROM documents GROUP BY source),
           s AS (SELECT source, n, sqrt(CAST(n AS DOUBLE)) AS w,
                   CAST(n AS DOUBLE) / sqrt(CAST(n AS DOUBLE)) AS t FROM n),
           tot AS (SELECT CAST(sum(n) AS DOUBLE) AS nn FROM s),
           seg AS (SELECT s.*, 0.35 * tot.nn AS b,
                     coalesce(sum(n) OVER (ORDER BY t ASC, source ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre_n,
                     sum(w) OVER (ORDER BY t DESC, source DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS post_w,
                     lag(t) OVER (ORDER BY t ASC, source ASC) AS prev_t
                   FROM s, tot),
           lam AS (SELECT min(CASE WHEN (b - pre_n) / post_w <= t
                       AND (prev_t IS NULL OR (b - pre_n) / post_w >= prev_t)
                     THEN (b - pre_n) / post_w END) AS lambda FROM seg),
           alloc AS (SELECT source,
                       CASE WHEN lambda IS NULL THEN 1.0
                            ELSE least(1.0, lambda / t) END AS frac
                     FROM s, lam)
           SELECT d.doc_id, d.source
           FROM documents d JOIN alloc a ON d.source IS NOT DISTINCT FROM a.source
           WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4))::UBIGINT AS BIGINT)
             < CAST(floor(a.frac * 65536.0 + 0.5) AS BIGINT)""",

      "q_profile" -> Seq("doc_id", "text", "lang", "source", "n_chars").map { c =>
        raw"""SELECT '$c' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
             CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
             CAST(min(length(CAST($c AS VARCHAR))) AS BIGINT) AS min_len,
             CAST(max(length(CAST($c AS VARCHAR))) AS BIGINT) AS max_len
           FROM documents"""
      }.mkString("\n UNION ALL \n"),

      "q_repetition" ->
        raw"""WITH nt AS (SELECT doc_id, $normText AS nt FROM documents),
           tk AS (SELECT doc_id, tok, i FROM (
                    SELECT doc_id, unnest(string_split(nt, ' ')) AS tok,
                           generate_subscripts(string_split(nt, ' '), 1) AS i
                    FROM nt) t WHERE length(tok) > 0),
           ts AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nt_total,
                         CAST(count(DISTINCT tok) AS BIGINT) AS nt_distinct
                  FROM tk GROUP BY 1),
           bg AS (SELECT a.doc_id, a.tok || ' ' || b.tok AS g
                  FROM tk a JOIN tk b ON b.doc_id = a.doc_id AND b.i = a.i + 1),
           bc AS (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS f FROM bg GROUP BY 1, 2),
           bs AS (SELECT doc_id, CAST(sum(f) AS BIGINT) AS nbg,
                         CAST(sum(CASE WHEN f >= 2 THEN f ELSE 0 END) AS BIGINT) AS dup_occ
                  FROM bc GROUP BY 1),
           top AS (SELECT doc_id, g, f FROM (
                     SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY f DESC, g) AS rn
                     FROM bc) WHERE rn = 1)
           SELECT n.doc_id,
             ${Portable.round4Sql("CASE WHEN nt_total > 0 THEN 1.0 - CAST(nt_distinct AS DOUBLE) / CAST(nt_total AS DOUBLE) ELSE 0.0 END")} AS dup_token_ratio,
             ${Portable.round4Sql("CASE WHEN nbg IS NOT NULL THEN CAST(f * length(g) AS DOUBLE) / CAST(length(n.nt) AS DOUBLE) ELSE 0.0 END")} AS top_bigram_char_frac,
             ${Portable.round4Sql("CASE WHEN nbg IS NOT NULL THEN CAST(dup_occ AS DOUBLE) / CAST(nbg AS DOUBLE) ELSE 0.0 END")} AS dup_bigram_frac
           FROM nt n
           LEFT JOIN ts USING (doc_id)
           LEFT JOIN bs USING (doc_id)
           LEFT JOIN top USING (doc_id)""",

      // smoothed TF-IDF; tf/df/N cast to DOUBLE before any arithmetic so
      // DuckDB never routes an intermediate through DECIMAL (whose rounding
      // differs from the all-double Spark plan in the last ulp)
      "q_tfidf" ->
        raw"""WITH ltk AS (SELECT doc_id, unnest(string_split($normText, ' ')) AS token FROM documents),
           tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
                  FROM ltk WHERE length(token) > 0 GROUP BY 1, 2),
           df AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
           st AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n FROM tf)
           SELECT doc_id, token, tf,
             ${Portable.round4Sql("CAST(tf AS DOUBLE) * (ln((1.0 + CAST(n AS DOUBLE)) / (1.0 + CAST(df AS DOUBLE))) + 1.0)")} AS tfidf
           FROM tf JOIN df USING (token), st""",

      // BM25 per-term contributions; every float constant is interpolated
      // from the Scala-computed double (Double.toString round-trips exactly
      // through DuckDB's parser — spelling k1+1 as the literal 2.2 would
      // cast to a DIFFERENT double than Scala's 1.2 + 1.0)
      "q_bm25" ->
        raw"""$bm25Ctes
           SELECT tf.doc_id, tf.token,
             ${Portable.round4Sql(bm25ScoreSql)} AS score
           FROM tf JOIN df USING (token) JOIN dl USING (doc_id), st""",

      // composed per-doc BM25: per-term scores UNROUNDED, then the
      // cross-term sum folded in token order (list(... ORDER BY token) +
      // list_reduce — the same deterministic accumulation Relevance.bm25
      // does with array_sort + aggregate), rounded once at the end
      "q_bm25_doc" ->
        raw"""$bm25Ctes,
           ts AS (SELECT tf.doc_id, tf.token, $bm25ScoreSql AS score
                  FROM tf JOIN df USING (token) JOIN dl USING (doc_id), st)
           SELECT doc_id,
             ${Portable.round4Sql(
               "list_reduce(list_prepend(CAST(0 AS DOUBLE), list(score ORDER BY token)), (a, x) -> a + x)")} AS score
           FROM ts GROUP BY doc_id""",

      // the ingest gate's decision surface: the q_quality quality chain +
      // the q_repetition dup-token chain + the boolean keep verdict computed
      // on the UNROUNDED signals (exactly what qualityGateAnnotated filters
      // on); signals rounded for display only
      "q_quality_gate" ->
        raw"""WITH f AS (SELECT doc_id,
             list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), x -> length(x) > 0) AS lt,
             len(regexp_extract_all(lower(text), '[a-z ]')) * 1.0 / length(text) AS alpha,
             len(regexp_extract_all(text, '[.,;:!?''"()\[\]{}-]')) * 1.0 / length(text) AS punct,
             list_filter(regexp_split_to_array(trim(text), '\s+'), x -> length(x) > 0) AS t
             FROM documents),
           g AS (SELECT doc_id, alpha, punct,
             len(list_filter(lt, x -> x IN (${graft.textanalysis.TextAnalysis.stopwords.map("'" + _ + "'").mkString(",")}))) * 1.0 / len(lt) AS stopr,
             len(t) AS nt FROM f),
           q AS (SELECT doc_id,
             greatest(least(least(nt / 100.0, 1.0) * 0.3 + alpha * 0.4 + stopr * 0.3 - punct * 0.5, 1.0), 0.0) AS quality
             FROM g),
           dtk AS (SELECT doc_id, tok FROM (
                     SELECT doc_id, unnest(string_split($normText, ' ')) AS tok FROM documents) u
                   WHERE length(tok) > 0),
           dts AS (SELECT doc_id, count(*) AS nt_total, count(DISTINCT tok) AS nt_distinct
                   FROM dtk GROUP BY 1),
           d AS (SELECT q.doc_id, q.quality,
                 COALESCE(1.0 - CAST(nt_distinct AS DOUBLE) / CAST(nt_total AS DOUBLE), 0.0) AS dup
                 FROM q LEFT JOIN dts ON dts.doc_id = q.doc_id)
           SELECT doc_id, ${Portable.round4Sql("quality")} AS quality,
             ${Portable.round4Sql("dup")} AS dup_token_ratio,
             CAST(CASE WHEN quality >= 0.3 AND dup <= 0.6 THEN 1 ELSE 0 END AS BIGINT) AS keep
           FROM d""",

      "q_embed_norm" ->
        raw"""SELECT vec_id, floor(${normSql("embedding")} * 10000 + 0.5) / 10000 AS nrm
           FROM embeddings""",

      "q_ann_topk" ->
        raw"""WITH p AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                    q.embedding AS qv, c.embedding AS cv
                 FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id WHERE q.vec_id < 10),
           s AS (SELECT query_id, neighbor_id,
                 floor((${dotSql("qv", "cv")} / (${normSql("qv")} * ${normSql("cv")})) * 10000 + 0.5) / 10000 AS sim
                 FROM p)
           SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, sim FROM (
             SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
             FROM s) WHERE rank <= 5""",

      // SQ8 restatement: the same symmetric quantization rule, computed in
      // the same double-op order (x*127.0/m + 0.5, floored) so the int8
      // codes are bit-identical; every output is BIGINT or a floor-rounded
      // double, the engine's portable oracle surface
      "q_sq8" ->
        raw"""WITH qt AS (SELECT vec_id, embedding,
                 list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS m
               FROM embeddings),
           qc AS (SELECT vec_id,
                 CASE WHEN m IS NULL OR m = 0 THEN 0.0 ELSE m / 127.0 END AS scale,
                 CASE WHEN m IS NULL OR m = 0
                      THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
                      ELSE list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / m + 0.5) AS BIGINT))
                 END AS q
               FROM qt)
           SELECT vec_id,
             CAST(len(q) AS BIGINT) AS n_dims,
             floor(scale * 1000000 + 0.5) / 1000000 AS scale6,
             CAST(list_min(q) AS BIGINT) AS q_min,
             CAST(list_max(q) AS BIGINT) AS q_max,
             CAST(list_sum(list_transform(q, x -> abs(x))) AS BIGINT) AS q_l1,
             CAST(list_sum(list_transform(q, (x, i) -> x * i)) AS BIGINT) AS q_cksum
           FROM qc""",

      // integer dots are exact in any engine; the only floating point is
      // one division and two sqrts, so the rounded sim is bit-identical
      "q_sq8_topk" ->
        raw"""WITH qt AS (SELECT vec_id, embedding,
                 list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS m
               FROM embeddings),
           qc AS (SELECT vec_id,
                 CASE WHEN m IS NULL OR m = 0
                      THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
                      ELSE list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / m + 0.5) AS BIGINT))
                 END AS q
               FROM qt),
           p AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, a.q AS qa, b.q AS qb
                 FROM qc a JOIN qc b ON b.vec_id != a.vec_id WHERE a.vec_id < 10),
           s AS (SELECT query_id, neighbor_id,
                 CAST(list_sum(list_transform(list_zip(qa, qb), pr -> pr[1] * pr[2])) AS BIGINT) AS dot,
                 CAST(list_sum(list_transform(qa, x -> x * x)) AS BIGINT) AS aa,
                 CAST(list_sum(list_transform(qb, x -> x * x)) AS BIGINT) AS bb
                 FROM p),
           r AS (SELECT query_id, neighbor_id,
                 CASE WHEN aa = 0 OR bb = 0 THEN 0.0
                      ELSE floor((CAST(dot AS DOUBLE) / (sqrt(CAST(aa AS DOUBLE)) * sqrt(CAST(bb AS DOUBLE)))) * 10000 + 0.5) / 10000
                 END AS sim FROM s)
           SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, sim FROM (
             SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
             FROM r) WHERE rank <= 5""",

      // PQ restated: seed codebooks = first-16 vectors sliced into 8
      // subspaces; assignment = argmin L2² with ties to the lowest code
      // (Spark's array_position-first rule); ADC = per-subspace partial
      // dots / squared norms summed IN SUBSPACE ORDER (the engine's fold),
      // asymmetric cosine floor-rounded, ties by neighbor id
      "q_pq_topk" ->
        raw"""WITH js AS (SELECT unnest(range(0, 8)) AS j),
           cbv AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INT) - 1 AS code,
                     embedding AS cv
                   FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 16)),
           cb AS (SELECT CAST(js.j AS INT) AS j, code,
                    list_transform(cv[(CAST(js.j AS INT) * 8 + 1):(CAST(js.j AS INT) * 8 + 8)],
                      x -> CAST(x AS DOUBLE)) AS cent
                  FROM cbv, js),
           sv AS (SELECT vec_id, CAST(js.j AS INT) AS j,
                    list_transform(embedding[(CAST(js.j AS INT) * 8 + 1):(CAST(js.j AS INT) * 8 + 8)],
                      x -> CAST(x AS DOUBLE)) AS sub
                  FROM embeddings, js),
           asg AS (SELECT vec_id, j, code FROM (
                     SELECT sv.vec_id, sv.j, cb.code,
                       row_number() OVER (PARTITION BY sv.vec_id, sv.j ORDER BY
                         ${foldSum("list_transform(list_zip(sub, cent), p -> (p[1] - p[2]) * (p[1] - p[2]))")} ASC,
                         cb.code ASC) AS rn
                     FROM sv JOIN cb USING (j)) WHERE rn = 1),
           q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 8),
           qsub AS (SELECT query_id, CAST(js.j AS INT) AS j,
                      list_transform(qv[(CAST(js.j AS INT) * 8 + 1):(CAST(js.j AS INT) * 8 + 8)],
                        x -> CAST(x AS DOUBLE)) AS qs
                    FROM q, js),
           lut AS (SELECT query_id, j, code,
                     ${foldSum("list_transform(list_zip(qs, cent), p -> p[1] * p[2])")} AS dp
                   FROM qsub JOIN cb USING (j)),
           nn2 AS (SELECT j, code,
                     ${foldSum("list_transform(cent, x -> x * x)")} AS nn
                   FROM cb),
           parts AS (SELECT l.query_id, a.vec_id AS neighbor_id, a.j, l.dp, nn2.nn
                     FROM asg a JOIN lut l ON l.j = a.j AND l.code = a.code
                     JOIN nn2 ON nn2.j = a.j AND nn2.code = a.code
                     WHERE a.vec_id != l.query_id),
           agg AS (SELECT query_id, neighbor_id,
                     list_reduce(list_prepend(CAST(0 AS DOUBLE), list(dp ORDER BY j)), (acc, x) -> acc + x) AS dt,
                     list_reduce(list_prepend(CAST(0 AS DOUBLE), list(nn ORDER BY j)), (acc, x) -> acc + x) AS cn2
                   FROM parts GROUP BY 1, 2),
           qn AS (SELECT query_id, ${normSql("qv")} AS qn FROM q),
           sc AS (SELECT agg.query_id, neighbor_id,
                    CASE WHEN qn.qn * sqrt(cn2) = 0 THEN 0.0
                         ELSE floor((dt / (qn.qn * sqrt(cn2))) * 10000 + 0.5) / 10000
                    END AS sim
                  FROM agg JOIN qn USING (query_id))
           SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, sim FROM (
             SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
             FROM sc) WHERE rank <= 10""",

      // IVF-PQ restated: the q_pq_topk PQ chain, with candidates gated by
      // the coarse quantizer — cell assignment = argmax dot against the
      // UNIT seed centroids (the assignWithCentroids normalization, norms
      // folded in dim order), probes = top-2 cells per query by raw-
      // centroid cosine, both with the lowest-centroid-id tie rule
      "q_ivf_pq" ->
        raw"""WITH js AS (SELECT unnest(range(0, 8)) AS j),
           ivfc AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INT) - 1 AS centroid_id,
                      embedding AS cv
                    FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 8)),
           ivfu AS (SELECT centroid_id,
                      list_transform(cv, x -> CAST(x AS DOUBLE) / ${normSql("cv")}) AS ucv
                    FROM ivfc),
           cell AS (SELECT vec_id, centroid_id FROM (
                      SELECT e.vec_id, u.centroid_id,
                        row_number() OVER (PARTITION BY e.vec_id ORDER BY
                          ${dotSql("e.embedding", "u.ucv")} DESC, u.centroid_id ASC) AS rn
                      FROM embeddings e CROSS JOIN ivfu u) WHERE rn = 1),
           q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 8),
           probes AS (SELECT query_id, centroid_id FROM (
                        SELECT q.query_id, c.centroid_id,
                          row_number() OVER (PARTITION BY q.query_id ORDER BY
                            ${dotSql("q.qv", "c.cv")} / (${normSql("q.qv")} * ${normSql("c.cv")}) DESC,
                            c.centroid_id ASC) AS rn
                        FROM q CROSS JOIN ivfc c) WHERE rn <= 2),
           cbv AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INT) - 1 AS code,
                     embedding AS cv
                   FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 16)),
           cb AS (SELECT CAST(js.j AS INT) AS j, code,
                    list_transform(cv[(CAST(js.j AS INT) * 8 + 1):(CAST(js.j AS INT) * 8 + 8)],
                      x -> CAST(x AS DOUBLE)) AS cent
                  FROM cbv, js),
           sv AS (SELECT vec_id, CAST(js.j AS INT) AS j,
                    list_transform(embedding[(CAST(js.j AS INT) * 8 + 1):(CAST(js.j AS INT) * 8 + 8)],
                      x -> CAST(x AS DOUBLE)) AS sub
                  FROM embeddings, js),
           asg AS (SELECT vec_id, j, code FROM (
                     SELECT sv.vec_id, sv.j, cb.code,
                       row_number() OVER (PARTITION BY sv.vec_id, sv.j ORDER BY
                         ${foldSum("list_transform(list_zip(sub, cent), p -> (p[1] - p[2]) * (p[1] - p[2]))")} ASC,
                         cb.code ASC) AS rn
                     FROM sv JOIN cb USING (j)) WHERE rn = 1),
           qsub AS (SELECT query_id, CAST(js.j AS INT) AS j,
                      list_transform(qv[(CAST(js.j AS INT) * 8 + 1):(CAST(js.j AS INT) * 8 + 8)],
                        x -> CAST(x AS DOUBLE)) AS qs
                    FROM q, js),
           lut AS (SELECT query_id, j, code,
                     ${foldSum("list_transform(list_zip(qs, cent), p -> p[1] * p[2])")} AS dp
                   FROM qsub JOIN cb USING (j)),
           nn2 AS (SELECT j, code,
                     ${foldSum("list_transform(cent, x -> x * x)")} AS nn
                   FROM cb),
           parts AS (SELECT pr.query_id, a.vec_id AS neighbor_id, a.j, l.dp, nn2.nn
                     FROM asg a
                     JOIN cell ON cell.vec_id = a.vec_id
                     JOIN probes pr ON pr.centroid_id = cell.centroid_id
                     JOIN lut l ON l.query_id = pr.query_id AND l.j = a.j AND l.code = a.code
                     JOIN nn2 ON nn2.j = a.j AND nn2.code = a.code
                     WHERE a.vec_id != pr.query_id),
           agg AS (SELECT query_id, neighbor_id,
                     list_reduce(list_prepend(CAST(0 AS DOUBLE), list(dp ORDER BY j)), (acc, x) -> acc + x) AS dt,
                     list_reduce(list_prepend(CAST(0 AS DOUBLE), list(nn ORDER BY j)), (acc, x) -> acc + x) AS cn2
                   FROM parts GROUP BY 1, 2),
           qn AS (SELECT query_id, ${normSql("qv")} AS qn FROM q),
           sc AS (SELECT agg.query_id, neighbor_id,
                    CASE WHEN qn.qn * sqrt(cn2) = 0 THEN 0.0
                         ELSE floor((dt / (qn.qn * sqrt(cn2))) * 10000 + 0.5) / 10000
                    END AS sim
                  FROM agg JOIN qn USING (query_id))
           SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, sim FROM (
             SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
             FROM sc) WHERE rank <= 10""",

      "q_lsh_ann_bands" -> {
        // the same driver-computed hyperplane literals as the Spark plan
        // (java.lang.Double.toString round-trips exactly through DuckDB's
        // decimal parser), folded in the same left-to-right order
        def dotPlane(p: Int) = {
          val lits = (0 until 64).map(i =>
            java.lang.Double.toString(Similarity.planeValue(p, i))).mkString(", ")
          foldSum(s"list_transform(list_zip(embedding, [$lits]), pr -> CAST(pr[1] AS DOUBLE) * pr[2])")
        }
        val signs = (0 until 8).map(p =>
          s"CASE WHEN ${dotPlane(p)} >= 0 THEN '1' ELSE '0' END AS s$p").mkString(", ")
        val arms = (0 until 4).map(b =>
          s"SELECT vec_id, CAST($b AS BIGINT) AS band, 'b$b:' || s${2 * b} || s${2 * b + 1} AS band_key FROM s")
          .mkString(" UNION ALL ")
        raw"""WITH s AS (SELECT vec_id, $signs FROM embeddings) $arms"""
      },

      "q_cosine_neardup" ->
        raw"""WITH e AS (SELECT * FROM embeddings WHERE vec_id < 120),
           p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.embedding AS va, b.embedding AS vb
                 FROM e a JOIN e b ON a.vec_id < b.vec_id),
           s AS (SELECT id_a, id_b,
                 floor((${dotSql("va", "vb")} / (${normSql("va")} * ${normSql("vb")})) * 10000 + 0.5) / 10000 AS sim
                 FROM p)
           SELECT id_a, id_b, sim FROM s WHERE sim >= 0.25""",

      "q_semdedup_pairs" ->
        raw"""${semDedupCtes("WITH")}
           SELECT id_a, id_b, centroid_id, sim FROM spairs""",

      // survivors: NOT IN the non-min members of each connected component
      // of the semantic-pair graph (the q_dedup_cc transitive-closure CTE)
      "q_semdedup" ->
        raw"""${semDedupCtes("WITH RECURSIVE")},
           sym AS (SELECT id_a AS u, id_b AS v FROM spairs
                   UNION SELECT id_b, id_a FROM spairs),
           reach(u, r) AS (
             SELECT u, u FROM (SELECT DISTINCT u FROM sym) n
             UNION
             SELECT s.u, e.v FROM reach s JOIN sym e ON e.u = s.r),
           losers AS (SELECT u FROM reach GROUP BY u HAVING u <> min(r))
           SELECT vec_id FROM embeddings
           WHERE vec_id NOT IN (SELECT u FROM losers)""",

      "q1_agg" ->
        raw"""SELECT l_returnflag, l_linestatus, CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_cents,
             CAST(count(*) AS BIGINT) AS n
           FROM lineitem WHERE l_quantity < 30 GROUP BY l_returnflag, l_linestatus""",

      "q_join_agg" ->
        raw"""SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_orders,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents
           FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY c_mktsegment""",

      "q_window_events" ->
        raw"""SELECT event_id, user_id,
             CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS rn,
             lag(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_event
           FROM events WHERE user_id < 40""",

      "q_sessionize" ->
        raw"""WITH e AS (SELECT event_id, user_id, ts,
                  lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pts FROM events),
           s AS (SELECT event_id, user_id, ts,
                 CASE WHEN pts IS NULL OR (epoch_us(ts) - epoch_us(pts)) > 1800000000 THEN 1 ELSE 0 END AS brk
                 FROM e)
           SELECT event_id, user_id,
             CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
           FROM s"""
    )
  }
}
