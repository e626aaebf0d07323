package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Large-scale corpus deduplication operators — the training-data-pipeline
 * layer over the `documents`-shaped table `(doc_id, text, ...)`.
 *
 * All hot paths are pure Column expressions (whole-stage codegen, no UDFs);
 * hashes are derived from `md5` so every operator is oracle-checkable against
 * an independent SQL engine bit-for-bit (DuckDB computes the identical md5
 * hex), unlike `xxhash64`, whose seed/implementation is Spark-private.
 *
 * Scale design (100 TB):
 *  - Exact dedup is one hash-aggregate on a 16-byte fingerprint — the shuffle
 *    carries (fingerprint, doc_id) pairs only, never the text.
 *  - MinHash/LSH: signatures are computed scan-side (narrow), the only wide
 *    ops are the band-key self-join (shuffle keyed on 16-byte band keys; AQE
 *    skew-join handles hot buckets of boilerplate docs) and the final
 *    verification join, which runs on the *candidate pairs* only — the
 *    classic candidate-generation/verification split that keeps the O(n²)
 *    pair space off the cluster.
 *  - SimHash: a 32-bit signature per doc via one explode + two aggregations;
 *    near-dup candidates = equal signature ([[simHashGroups]]) or banded
 *    sub-keys for Hamming tolerance ([[simHashNearDupPairs]], pigeonhole-
 *    complete candidate generation + bit_count verification).
 */
object Dedup {

  /**
   * Bind `expr` ONCE as a lambda variable inside `body` — manual common-
   * subexpression elimination for Column trees. HOF lambdas get fresh
   * variable ids per construction, so Catalyst/codegen never dedups a derived
   * expression referenced several times inside them; wrapping it as the
   * element of a one-element `transform` makes every use in `body` read the
   * already-evaluated lambda variable instead. (Across SEPARATE output
   * columns, materialize a real column instead — see ngramJaccardPairs.)
   */
  def let(expr: Column)(body: Column => Column): Column =
    element_at(transform(array(expr), v => body(v)), 1)

  /** Canonical text form shared by every dedup operator: lowercase,
    * whitespace runs collapsed, trimmed. */
  def normalizeText(c: Column): Column = trim(regexp_replace(lower(c), "\\s+", " "))

  /** 128-bit content fingerprint of the normalized text (hex string). */
  def fingerprint(c: Column): Column = md5(normalizeText(c))

  /**
   * Exact deduplication groups: one row per distinct normalized text with the
   * canonical survivor (min doc_id) and the group size. `n_docs > 1` rows are
   * the duplicate sets. One shuffle on the fingerprint.
   */
  def exactGroups(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs
      .select(col(idCol), fingerprint(col(textCol)).as("text_fp"))
      .groupBy(col("text_fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_docs"))

  /** Exact dedup: keep exactly the survivor row per fingerprint group. */
  def dedupExact(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val keep = exactGroups(docs, idCol, textCol).select(col("keep_id").as(idCol))
    docs.join(keep, Seq(idCol), "left_semi")
  }

  /** Whitespace tokens of the normalized text. */
  def tokens(c: Column): Column = split(normalizeText(c), " ")

  /**
   * Word `k`-shingles over an ALREADY-MATERIALIZED token-array column; a doc
   * with fewer than `k` tokens yields its single full-token shingle.
   *
   * Pass an attribute (a real column), not the [[tokens]] expression inline:
   * `toks` is referenced inside the `transform` lambda, and any expression
   * substituted there is re-evaluated PER SHINGLE by the interpreted HOF —
   * inlining the tokenizer turns shingling O(tokens) into O(tokens²) per doc
   * (measured: ~2× on q_minhash, ~4× on q_ngram_jaccard at sf0.1).
   */
  def tokenShingles(toks: Column, k: Int): Column =
    when(size(toks) <= k, array(array_join(toks, " ")))
      .otherwise(transform(
        sequence(lit(0), size(toks) - k),
        i => array_join(slice(toks, i + 1, lit(k)), " ")))

  /** [[tokenShingles]] over the raw text — the tokenizer is bound once via
    * [[let]] so even the per-row form tokenizes each doc exactly once. Hot
    * relational paths still materialize the token array as a real column. */
  def wordShingles(c: Column, k: Int): Column =
    let(tokens(c))(t => tokenShingles(t, k))

  /**
   * MinHash signature as a single per-row array expression — the SAME affine
   * family and values as [[minHashSignatures]] (equivalence-tested), shaped
   * linearly with [[let]]: shingles and their base hashes are each bound
   * once, then one fold updates all `nHashes` running minima per shingle.
   * One md5 per shingle total, narrow and shuffle-free.
   */
  def minHashSignature(c: Column, shingleK: Int, nHashes: Int): Column = {
    val ab = array((0 until nHashes).map(k =>
      struct(lit(minHashA(k)).as("a"), lit(minHashB(k)).as("b"))): _*)
    let(wordShingles(c, shingleK)) { sh =>
      let(transform(sh, s =>
        shiftright(conv(substring(md5(s), 1, 8), 16, 10).cast("long"), 1))) { hbs =>
        aggregate(hbs, array_repeat(lit(Long.MaxValue), nHashes),
          (acc, hb) => zip_with(acc, ab,
            (m, p) => least(m, pmod(hb * p("a") + p("b"), lit(MinHashP)))))
      }
    }
  }

  /** Mersenne-prime modulus of the affine MinHash family (2^61 - 1). */
  val MinHashP = 2305843009213693951L

  /** Deterministic 31-bit multiplier/offset for hash function `k` — fixed
    * constants derived from SplitMix64 so both engines can restate them. */
  def minHashA(k: Int): Long = 1L + 2L * ((graft.gen.DetRng.hash64(s"mha$k") >>> 34) & 0x3FFFFFFFL)
  def minHashB(k: Int): Long = (graft.gen.DetRng.hash64(s"mhb$k") >>> 33)

  /** 60-bit XOR mask for ensemble-minhash position `k` — fixed constants,
    * embedded as literals by engine and oracle alike. FNV-1a alone is NOT
    * enough here: on the short "cem<k>" seeds its top ~36 bits barely move
    * (measured 11 distinct top-20-bit values over 64 masks), and XOR masks
    * agreeing on their high bits all pick the SAME argmin — zero position
    * diversity. The SplitMix64 finalizer avalanches the full word first. */
  def ensembleMask(k: Int): Long = {
    var z = graft.gen.DetRng.hash64(s"cem$k")
    z ^= (z >>> 30); z *= 0xBF58476D1CE4E5B9L
    z ^= (z >>> 27); z *= 0x94D049BB133111EBL
    z ^= (z >>> 31)
    z >>> 4
  }

  /**
   * MinHash signatures, one row per doc with columns `h0..h{n-1}`: the
   * native codegen'd [[org.apache.spark.sql.graft.MinHashKernel]] kernel runs
   * the whole normalize → shingle → md5 → affine-minima pipeline per row, so
   * signature computation is NARROW — a scan-side map with no exchange at
   * all (the exploded form below pays an O(shingles) row blowup through a
   * hash aggregate; measured ~4× slower at sf0.1). One md5 per shingle, the
   * standard affine family `(a_k * base + b_k) mod (2^61-1)` (31-bit base ×
   * 31-bit odd multiplier stays far from Long overflow, so the arithmetic is
   * exact and portable to the SQL oracle). The h-columns all read one shared
   * `minhash_sig` subexpression — whole-stage-codegen subexpression
   * elimination evaluates the kernel once per row (plan-asserted in
   * DedupSpec).
   *
   * KNOWN BIAS at small Jaccard: the affine map sends the 31-bit base
   * through at most one wrap of the 61-bit modulus — a two-segment MONOTONE
   * map, so the per-position argmin concentrates on the same extreme-base
   * shingles for every k instead of permuting independently. At the
   * near-dup family's operating point (J ≳ 0.5, sets sharing their
   * extremes) the collision estimate holds (recall specs pass); for
   * subset-vs-superset pairs at small J it collapses (measured 0/128
   * position matches at true J = 0.116). Operators that NEED
   * P(position match) = J at small J — [[containmentPairsEnsemble]] — use
   * per-position independent md5 draws instead.
   */
  def minHashSignatures(docs: DataFrame, shingleK: Int, nHashes: Int,
                        idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    org.apache.spark.sql.graft.NativeFunctions.register(docs.sparkSession)
    // (a Fanout.fanout before the kernel was MEASURED SLOWER at sf0.1 —
    // q_lsh_pairs 0.38 → 0.69 s, q_dedup_cc 0.80 → 1.15 s, q_star_pairs
    // 0.38 → 0.66 s warm: the signature chain re-executes per consumer and
    // each execution pays the exchange, while the kernel itself is ~0.1 s
    // serial at probe scale)
    val sig = call_function("minhash_sig", col(textCol), lit(shingleK), lit(nHashes))
    docs
      .where(col(textCol).isNotNull) // the exploded form dropped null-text docs too
      .select(col(idCol) +: (0 until nHashes).map(k =>
        element_at(sig, k + 1).as(s"h$k")): _*)
  }

  /** The explode + min-aggregation restatement of [[minHashSignatures]] —
    * one row per shingle through a partial/final hash agg. Kept as the
    * independent second implementation the equivalence spec checks the
    * kernel against (the DuckDB oracle is a third). */
  def minHashSignaturesExploded(docs: DataFrame, shingleK: Int, nHashes: Int,
                                idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val sh = docs
      .withColumn("__toks", tokens(col(textCol)))
      .select(col(idCol), explode(tokenShingles(col("__toks"), shingleK)).as("sh"))
    val base = sh.select(col(idCol),
      shiftright(conv(substring(md5(col("sh")), 1, 8), 16, 10).cast("long"), 1).as("hb"))
    val aggs = (0 until nHashes).map { k =>
      min(pmod(col("hb") * minHashA(k) + minHashB(k), lit(MinHashP))).as(s"h$k")
    }
    base.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** LSH band keys: the signature split into `nBands` bands of `rowsPerBand`,
    * each band hashed to a compact 16-byte key. Output: one row per
    * (doc, band). Built on [[minHashSignatures]]. */
  def lshBands(docs: DataFrame, shingleK: Int, nBands: Int, rowsPerBand: Int,
               idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val sig = minHashSignatures(docs, shingleK, nBands * rowsPerBand, idCol, textCol)
    val bandKeys = (0 until nBands).map { b =>
      md5(concat(lit("b"), lit(b).cast("string"), lit(":"),
        concat_ws(",", (0 until rowsPerBand).map(r =>
          col(s"h${b * rowsPerBand + r}").cast("string")): _*)))
    }
    sig.select(col(idCol), posexplode(array(bandKeys: _*)).as(Seq("band", "band_key")))
  }

  /**
   * MinHash-LSH candidate pairs: docs sharing at least one band key.
   * The self-join shuffles on the band key (small), never the text; pairs are
   * deduplicated across bands. Standard LSH guarantee: a pair with Jaccard
   * similarity s collides in ≥1 of b bands with prob 1-(1-s^r)^b.
   */
  def lshCandidatePairs(docs: DataFrame, shingleK: Int = 3, nBands: Int = 4,
                        rowsPerBand: Int = 2, idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame = {
    val bands = lshBands(docs, shingleK, nBands, rowsPerBand, idCol, textCol)
    val a = bands.select(col("band"), col("band_key"), col(idCol).as("id_a"))
    val b = bands.select(col("band"), col("band_key"), col(idCol).as("id_b"))
    // shuffle_hash: both sides are the corpus-sized band table, but
    // Catalyst sizes the Generate-over-scan subtree at its parquet bytes
    // and BROADCASTS one side (plan-audited at sf1) — co-partitioning on
    // the band key is the only shape that survives 100 TB
    a.join(b.hint("shuffle_hash"), Seq("band", "band_key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
  }

  /**
   * Shingle-set Jaccard similarity for given (id_a, id_b) pairs — the
   * verification stage after LSH candidate generation. Set sizes are
   * pre-aggregated; the intersection comes from one equi-join restricted to
   * candidate docs, keyed on a 60-bit md5 of each shingle rather than the
   * shingle STRING — the shuffle carries 8 bytes per shingle instead of the
   * k-word text (exact up to 60-bit collisions, ~n²/2⁶⁰ per doc pair).
   * Shuffles scale with candidate-set shingle counts, not corpus size.
   *
   * Mega-cluster caveat: a doc appearing in p candidate pairs replicates its
   * shingle set p times through the join — a boilerplate cluster of k
   * near-identical docs is ~k²/2 pairs. For DEDUP (rather than an exhaustive
   * pair list) use [[dedupNearLsh]], which verifies O(k) star pairs per
   * cluster; for pair-level workloads run [[dedupExact]] first so exact
   * mega-clusters collapse to one representative before LSH.
   */
  def jaccardVerify(docs: DataFrame, pairs: DataFrame, shingleK: Int = 3,
                    idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    overlapVerify(docs, pairs, shingleK, idCol, textCol)
      .select(col("id_a"), col("id_b"),
        (col("n_inter") / (col("n_a") + col("n_b") - col("n_inter"))).as("jaccard"))

  /** The overlap statistics behind [[jaccardVerify]] and
    * [[containmentVerify]]: `(id_a, id_b, n_inter, n_a, n_b)` — exact
    * shingle-set intersection and sizes for the given candidate pairs,
    * same 60-bit-hash join discipline (shuffles carry 8 bytes per shingle,
    * never the k-word text). */
  def overlapVerify(docs: DataFrame, pairs: DataFrame, shingleK: Int = 3,
                    idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    org.apache.spark.sql.graft.NativeFunctions.register(docs.sparkSession)
    // Round-7 shape: per-doc SORTED distinct-shingle hash ARRAYS (one
    // narrow `shingle_hashes` kernel call per candidate doc) joined to the
    // pair table, intersection counted per pair by the codegen'd
    // merge-count kernel `hash_overlap_count`. The former exploded form
    // (kept as [[overlapVerifyExploded]], the equivalence witness)
    // replicated every doc's shingle ROWS once per candidate pair it
    // appears in — a doc in p pairs shipped p·|shingles| rows into a
    // (id, hash)-keyed join (measured 1.64 s of q_containment_lsh's 2.63 s
    // warm at 60k candidates over 800 docs ≈ 18M join rows); here each
    // pair carries the two doc arrays once (same bytes, |shingles|× fewer
    // rows, no exploded mid-join shuffle and no 18M-row aggregation).
    // Bit-equal by construction: n_inter = Σ_v cntA(v)·cntB(v) is exactly
    // the exploded join's row count (60-bit hash collisions cross-join in
    // both forms — kernel-pinned in DedupSpec), zero-overlap pairs emit no
    // row (the n_inter > 0 filter restores the inner-join semantics), and
    // docs with null text carry no array and drop their pairs as before.
    // shuffle_hash pins on the array sides: their size estimates descend
    // from the parquet scan (the Generate-family mis-estimate), and a
    // candidate-restricted side is still corpus-scale at 100 TB.
    val ids = pairs.select(col("id_a").as("id")).union(pairs.select(col("id_b").as("id"))).distinct()
    val hs = docs.join(ids, col(idCol) === col("id"), "left_semi")
      .select(col(idCol).as("id"),
        sort_array(call_function("shingle_hashes", col(textCol), lit(shingleK))).as("__hs"))
      .filter(col("__hs").isNotNull)
      .select(col("id"), col("__hs"), size(col("__hs")).cast("long").as("n"))
    pairs
      .join(hs.select(col("id").as("id_a"), col("__hs").as("__hs_a"), col("n").as("n_a"))
        .hint("shuffle_hash"), Seq("id_a"))
      .join(hs.select(col("id").as("id_b"), col("__hs").as("__hs_b"), col("n").as("n_b"))
        .hint("shuffle_hash"), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        call_function("hash_overlap_count", col("__hs_a"), col("__hs_b")).as("n_inter"),
        col("n_a"), col("n_b"))
      .filter(col("n_inter") > 0)
  }

  /** The exploded-row restatement of [[overlapVerify]] (the pre-kernel
    * shape) — kept as the independent equivalence witness: one (id, hash)
    * row per candidate-doc shingle, intersection = equi-join row count. */
  private[graft] def overlapVerifyExploded(docs: DataFrame, pairs: DataFrame, shingleK: Int = 3,
                                           idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    org.apache.spark.sql.graft.NativeFunctions.register(docs.sparkSession)
    val ids = pairs.select(col("id_a").as("id")).union(pairs.select(col("id_b").as("id"))).distinct()
    val sh = docs.join(ids, col(idCol) === col("id"), "left_semi")
      .select(col(idCol).as("id"),
        explode(call_function("shingle_hashes", col(textCol), lit(shingleK))).as("sh"))
    val sizes = sh.groupBy(col("id")).agg(count(lit(1)).as("n"))
    val shA = sh.select(col("id").as("id_a"), col("sh").as("sh_a"))
    val shB = sh.select(col("id").as("jb"), col("sh").as("sh_b"))
    pairs
      .join(shA.hint("shuffle_hash"), Seq("id_a"))
      .join(shB.hint("shuffle_hash"), col("id_b") === col("jb") && col("sh_a") === col("sh_b"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("n_inter"))
      .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n", "n_a"), Seq("id_a"))
      .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n", "n_b"), Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("n_inter"), col("n_a"), col("n_b"))
  }

  /**
   * Containment verification (Broder'97's second resemblance measure):
   * `containment_a = |A∩B| / |A|` — the fraction of doc A's shingles that
   * appear in B, and symmetrically `containment_b`. The NEAR-SUPERSET
   * detector: a short doc quoted wholesale inside a long one has
   * containment_a ≈ 1 while Jaccard ≈ |A|/|B| ≈ 0 — the inclusion case
   * every symmetric-similarity dedup misses by construction. Jaccard rides
   * along (free from the same overlap stats).
   */
  def containmentVerify(docs: DataFrame, pairs: DataFrame, shingleK: Int = 3,
                        idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    overlapVerify(docs, pairs, shingleK, idCol, textCol)
      .select(col("id_a"), col("id_b"),
        (col("n_inter") / (col("n_a") + col("n_b") - col("n_inter"))).as("jaccard"),
        (col("n_inter") / col("n_a")).as("containment_a"),
        (col("n_inter") / col("n_b")).as("containment_b"))

  /**
   * Near-superset pair detection over MinHash-LSH candidates: pairs whose
   * LARGER containment reaches `threshold`. DOCUMENTED CANDIDATE GAP,
   * different from the Jaccard family's: LSH recalls by JACCARD, so an
   * extreme-size-ratio inclusion (tiny A inside huge B ⇒ Jaccard ≈ |A|/|B|)
   * can miss candidacy even though its containment is 1.0 — the regime
   * where containment-aware indexes (LSH Ensemble, Zhu et al. VLDB'16) are
   * the scale upgrade; within moderate size ratios (boilerplate pages,
   * quoted articles with commentary) band candidacy holds and this form is
   * exact on its candidates ([[containmentVerify]] on exhaustive pairs is
   * the gap-free oracle surface).
   */
  def containmentPairs(docs: DataFrame, threshold: Double, shingleK: Int = 3,
                       nBands: Int = 4, rowsPerBand: Int = 2,
                       idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    containmentVerify(docs,
        lshCandidatePairs(docs, shingleK, nBands, rowsPerBand, idCol, textCol),
        shingleK, idCol, textCol)
      .filter(greatest(col("containment_a"), col("containment_b")) >= threshold)

  /**
   * LSH ENSEMBLE containment pairs (Zhu, Deng, Nandi, Miller — "LSH
   * Ensemble: Internet-Scale Domain Search", VLDB 2016): the
   * containment-aware candidate index that closes [[containmentPairs]]'s
   * documented gap. Plain MinHash-LSH recalls by JACCARD, and an inclusion
   * with size ratio R has Jaccard ≈ containment/R — beyond the band
   * scheme's reach long before containment drops. The ensemble move:
   *
   *  1. PARTITION the corpus by distinct-shingle-set size into radix-2
   *     buckets `p = ⌊log₂ n⌋` (size ratio ≤ 2 within a bucket — the
   *     bounded-ratio property Zhu's equi-depth partitions exist for).
   *  2. For every ordered bucket pair (s ≤ l), a containment-`t` inclusion
   *     of an s-doc in an l-doc has Jaccard ≥ J_{sl} = t·2ˢ/(2ˢ+2ˡ⁺¹), so
   *     tune THAT pair's banding: the largest rows-per-band r whose
   *     `1−(1−J_{sl}^r)^{⌊H/r⌋} ≥ minRecall` (fewer rows, more bands as
   *     the ratio grows — r = 1 at the extreme, the ensemble's
   *     small-Jaccard regime).
   *  3. Docs emit band keys under every scheme their bucket participates
   *     in; candidates join per (scheme, band, key); exact
   *     [[containmentVerify]] keeps pairs whose larger containment
   *     reaches `threshold` — so every reported pair is exact, the index
   *     only bounds recall.
   *
   * COVERAGE is explicit instead of silently missing: a bucket pair where
   * even r = 1 cannot reach `minRecall` is skipped. With
   * J_min = 1−(1−minRecall)^(1/H) that supports size ratios up to
   * ~ threshold/J_min − 1 (H = 128, recall 0.9, t = 0.9 → ratios to ~49,
   * i.e. l−s ≤ ~4) — raise `nHashes` to widen the window linearly; plain
   * [[containmentPairs]] at default banding loses inclusions past ratio
   * ~3 (spec-asserted side by side in DedupSpec).
   *
   * Scale shape: signatures and set sizes are NARROW (the codegen'd
   * minhash kernel + a scan-side distinct-shingle count, no shuffle);
   * the scheme table is metadata (≤ (log₂ maxSize)² rows, broadcast);
   * key volume per doc is bounded by its bucket's schemes × bands; the
   * candidate join shuffles 16-byte keys, never text; verification pays
   * only candidate pairs.
   */
  def containmentPairsEnsemble(docs: DataFrame, threshold: Double, shingleK: Int = 3,
                               nHashes: Int = 128, minRecall: Double = 0.9,
                               idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, s"threshold in (0,1], got $threshold")
    require(nHashes >= 1, s"nHashes must be >= 1, got $nHashes")
    require(minRecall > 0.0 && minRecall < 1.0, s"minRecall in (0,1), got $minRecall")
    val spark = docs.sparkSession
    import spark.implicits._
    // XOR minhash — `h_k = min over shingles of (base ⊕ m_k)`, ONE 60-bit
    // md5 base per shingle and a fixed 60-bit constant per position —
    // instead of [[minHashSignatures]]'s affine family: the affine map
    // sends the 31-bit base through at most one wrap of the 61-bit modulus
    // — a two-segment MONOTONE map whose argmin concentrates on the same
    // extreme-base shingles for every k, so a subset that misses the
    // superset's extreme shingle misses on nearly every position at once
    // (measured: 0 of 128 positions matching at true J = 0.116). Harmless
    // at the near-dup family's J ≈ 0.9; fatal in the ensemble's small-J
    // regime, whose recall bound NEEDS P(position match) ≈ J. XOR-ing a
    // random constant walks a random path of the (md5-uniform) base trie —
    // the per-position argmin is unbiased and positions are independent
    // (spec-asserted: the inclusion IS caught). Overflow-free Long-exact
    // integer ops, one md5 per shingle, portable to the DuckDB oracle
    // verbatim.
    //
    // Signature AND size come from ONE narrow codegen'd kernel call per row
    // (`ensemble_minhash` — the minhash_sig discipline applied to the XOR
    // family): the former shingle-explode + 64-min hash aggregation and the
    // separate size scan + sig⋈sizes join are gone (round 7; bit-equal to
    // the relational form, equivalence-fuzzed in DedupSpec). Docs with no
    // shingles carry no containment evidence (null text → null signature —
    // the dedup family's passthrough policy; `__n` is ≥ 1 otherwise, the
    // filter is kept as the explicit policy statement).
    org.apache.spark.sql.graft.NativeFunctions.register(spark)
    val es = call_function("ensemble_minhash", col(textCol), lit(shingleK), lit(nHashes))
    // one row per doc (nHashes longs + size): materialize once — the
    // partition collect and BOTH key sides read it. NOTE: a Fanout.fanout
    // before the kernel (and one in overlapVerify's hs build) was MEASURED
    // SLOWER at sf0.1 (q_containment_lsh 1.43 → 1.98 s, q_containment
    // 0.74 → 0.94 s warm): at the bench's candidate volumes the serial
    // kernel work is ~0.1 s, below the exchange + extra-stage cost — the
    // fan-out pays only where scan-side work outweighs a stage
    // (char_ngram_profile, pqEncode, semDedupPairs)
    val withP = docs.select(col(idCol), es.as("__es"))
      .filter(col("__es").isNotNull)
      .select(col(idCol),
        slice(col("__es"), 1, nHashes).as("__sig"),
        element_at(col("__es"), nHashes + 1).as("__n"))
      .filter(col("__n") > 0)
      // +1e-9: log(2, 2^k) can land a hair under k in floating point and
      // floor a power-of-two doc into the wrong bucket (oracle SQL applies
      // the same epsilon)
      .withColumn("__p", floor(log(2.0, col("__n")) + 1e-9).cast("long"))
      .localCheckpoint()

    val parts = withP.select(col("__p")).distinct().collect().map(_.getLong(0)).sorted
    def recall(j: Double, r: Int): Double =
      1.0 - math.pow(1.0 - math.pow(j, r), nHashes / r)
    val schemes = for {
      s <- parts; l <- parts if l >= s
      jsl = threshold * math.pow(2.0, s.toDouble) /
        (math.pow(2.0, s.toDouble) + math.pow(2.0, (l + 1).toDouble))
      r <- (nHashes to 1 by -1).find(r => recall(jsl, r) >= minRecall)
    } yield (s, l, r, nHashes / r)
    val schemeDf = broadcast(schemes.toSeq.toDF("__s", "__l", "__r", "__b"))

    def keysFor(sideCol: String, idAs: String) =
      withP.join(schemeDf, col("__p") === col(sideCol))
        .select(col(idCol).as(idAs), col("__s"), col("__l"),
          explode(transform(sequence(lit(0), col("__b") - 1), bi =>
            md5(concat(lit("ce:"), col("__s").cast("string"), lit(":"),
              col("__l").cast("string"), lit(":"), bi.cast("string"), lit(":"),
              array_join(transform(slice(col("__sig"), bi * col("__r") + 1, col("__r")),
                h => h.cast("string")), ","))))).as("__bk"))
    val cands = keysFor("__s", "__ia")
      .join(keysFor("__l", "__ib"), Seq("__s", "__l", "__bk"))
      .filter(col("__ia") =!= col("__ib"))
      .select(least(col("__ia"), col("__ib")).as("id_a"),
        greatest(col("__ia"), col("__ib")).as("id_b"))
      .distinct()
    containmentVerify(docs, cands, shingleK, idCol, textCol)
      .filter(greatest(col("containment_a"), col("containment_b")) >= threshold)
  }

  /** Star reduction of a candidate-pair set: one row `(id_a, id_b)` per
    * non-minimal member, where `id_a` is the member's SMALLEST candidate
    * partner. A k-member near-dup clique collapses from k(k-1)/2 pairs to
    * k-1 star pairs — the piece that keeps verification volume linear in
    * cluster size. One hash-agg shuffle on bare ids. */
  def starPairs(pairs: DataFrame): DataFrame =
    pairs.groupBy(col("id_b")).agg(min(col("id_a")).as("id_a"))
      .select(col("id_a"), col("id_b"))

  /**
   * Scale-safe near-duplicate DEDUP: exact-collapse → LSH candidates →
   * star-wise Jaccard verification → survivors.
   *
   *  1. [[dedupExact]] first: an exact boilerplate mega-cluster of k docs
   *     collapses to its min-id representative BEFORE any pair generation
   *     (k²/2 candidate pairs → 0).
   *  2. [[lshCandidatePairs]] over the representatives.
   *  3. [[starPairs]]: each doc is verified once against its smallest
   *     candidate partner, not against every partner — a near-identical
   *     (non-exact) cluster of k docs costs O(k·|shingles|) verification
   *     join rows instead of O(k²·|shingles|).
   *  4. A doc is dropped when its star pair verifies at `jaccard >=
   *     threshold`; output is the surviving doc rows.
   *
   * Star semantics: clusters are formed greedily around min-id
   * representatives (the same survivor rule as [[dedupExact]]/
   * [[exactGroups]]). For genuine near-dup clusters this keeps exactly the
   * min-id doc; a chain a~b~c where jaccard(a, c) < threshold keeps {a, c}
   * (b verifies against a) — pairwise-greedy would decide b via (a, b) too,
   * so survivors agree; only exhaustive-pair workloads need [[jaccardVerify]]
   * on the full pair set.
   */
  def dedupNearLsh(docs: DataFrame, threshold: Double, shingleK: Int = 3,
                   nBands: Int = 4, rowsPerBand: Int = 2,
                   idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val reps = dedupExact(docs, idCol, textCol)
    val stars = starPairs(lshCandidatePairs(reps, shingleK, nBands, rowsPerBand, idCol, textCol))
    val removed = jaccardVerify(reps, stars, shingleK, idCol, textCol)
      .filter(col("jaccard") >= threshold)
      .select(col("id_b").as(idCol))
    reps.join(removed, Seq(idCol), "left_anti")
  }

  /**
   * Near-duplicate dedup with EXACT transitive clusters: exact-collapse →
   * LSH candidates → pair-level Jaccard verification → connected components
   * → keep each component's min-id doc.
   *
   * Versus [[dedupNearLsh]] (the default): star-wise verification is linear
   * in cluster size but greedy — a chain a~b~c with `jaccard(a, c) <
   * threshold` keeps {a, c}. This form labels the chain as ONE component
   * ([[ConnectedComponents.run]] over the verified pairs) and keeps {a}
   * only — the semantics a crawl-dedup pipeline usually wants, where
   * near-dup chains of re-edited boilerplate should collapse entirely.
   *
   * Cost note: verification runs on the FULL candidate pair list, so a
   * non-exact mega-cluster of k docs costs O(k²·|shingles|) verify rows
   * (the [[dedupExact]] pre-step inside collapses exact mega-clusters
   * first, which removes the dominant source of those). Choose this form
   * when transitive-cluster semantics matter; choose [[dedupNearLsh]] when
   * verification volume does.
   */
  /** Shared CC-collapse tail of the transitive dedup paths: label the pair
    * graph, drop every non-root member, keep the rest of `reps`. */
  private def keepComponentMin(reps: DataFrame, pairs: DataFrame, idCol: String): DataFrame = {
    val removed = ConnectedComponents.run(pairs)
      .where(col("id") =!= col("component"))
      .select(col("id").as(idCol))
    reps.join(removed, Seq(idCol), "left_anti")
  }

  def dedupNearCC(docs: DataFrame, threshold: Double, shingleK: Int = 3,
                  nBands: Int = 4, rowsPerBand: Int = 2,
                  idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val reps = dedupExact(docs, idCol, textCol)
    val pairs = lshCandidatePairs(reps, shingleK, nBands, rowsPerBand, idCol, textCol)
    val verified = jaccardVerify(reps, pairs, shingleK, idCol, textCol)
      .filter(col("jaccard") >= threshold)
    keepComponentMin(reps, verified.select(col("id_a"), col("id_b")), idCol)
  }

  /** Distinct word `k`-shingle set of a text column. */
  def shingleSet(c: Column, k: Int): Column = array_distinct(wordShingles(c, k))

  /**
   * N-gram Jaccard similarity between explicit doc pairs (e.g. consecutive
   * ids): |A∩B| / |A∪B| over distinct word shingles via the native
   * [[org.apache.spark.sql.graft.NgramJaccardKernel]] kernel — one codegen'd call
   * per pair, no explode, no extra shuffle beyond the pair join itself.
   * Value-identical to [[ngramJaccardPairsColumns]] (equivalence-tested) and
   * the DuckDB oracle.
   */
  def ngramJaccardPairs(pairs: DataFrame, aText: String, bText: String,
                        shingleK: Int, outCol: String = "jaccard"): DataFrame = {
    org.apache.spark.sql.graft.NativeFunctions.register(pairs.sparkSession)
    pairs.withColumn(outCol,
      call_function("ngram_jaccard", col(aText), col(bText), lit(shingleK)))
  }

  /**
   * Column-expression restatement of [[ngramJaccardPairs]] — kept as the
   * independent implementation the equivalence spec checks the kernel
   * against. The shingle sets and the intersection size are materialized as
   * REAL aliased columns, each referenced more than once downstream, so
   * CollapseProject keeps them as separate projections and every expensive
   * subtree is evaluated exactly once per row. (Building the whole formula as
   * one Column re-evaluates the shingle pipeline per reference: HOF lambdas
   * get fresh variable ids per construction, defeating subexpression
   * elimination — measured 10×+ slower.)
   */
  def ngramJaccardPairsColumns(pairs: DataFrame, aText: String, bText: String,
                               shingleK: Int, outCol: String = "jaccard"): DataFrame =
    pairs
      .withColumn("__ta", tokens(col(aText)))
      .withColumn("__tb", tokens(col(bText)))
      .withColumn("__sh_a", array_distinct(tokenShingles(col("__ta"), shingleK)))
      .withColumn("__sh_b", array_distinct(tokenShingles(col("__tb"), shingleK)))
      .withColumn("__ni", size(array_intersect(col("__sh_a"), col("__sh_b"))).cast("double"))
      .withColumn(outCol,
        col("__ni") / (size(col("__sh_a")) + size(col("__sh_b")) - col("__ni")))
      .drop("__ta", "__tb", "__sh_a", "__sh_b", "__ni")

  /**
   * 32-bit SimHash of the whitespace-tokenized normalized text: per bit, the
   * sign of the sum of ±1 votes from each token's md5-derived hash (token
   * multiplicity counts, matching the classic definition with tf weights).
   * Pure expression: explode-free, one `aggregate` fold over the token array
   * updating a 32-lane counter vector.
   */
  def simHash32(c: Column): Column = {
    val toks = split(normalizeText(c), " ")
    val masks = array((0 until 32).map(b => lit(1L << b)): _*)
    // hash each token ONCE via transform, then fold over the hash values —
    // folding over raw tokens would place the md5 inside the per-lane lambda
    // and recompute it 32× per token (lambda-bound subtrees get no CSE)
    val hvs = transform(toks, t => conv(substring(md5(t), 1, 8), 16, 10).cast("long"))
    val lanes = aggregate(
      hvs,
      array_repeat(lit(0), 32),
      (acc, hv) =>
        zip_with(acc, masks, (a, m) => a + when(hv.bitwiseAND(m) =!= 0, 1).otherwise(-1)))
    aggregate(
      zip_with(lanes, masks, (s, m) => when(s >= 0, m).otherwise(lit(0L))),
      lit(0L), (a, x) => a + x)
  }

  /**
   * Per-doc 32-bit SimHash via the native codegen'd
   * [[org.apache.spark.sql.graft.SimHashKernel]] kernel — the scale/bench
   * path: one kernel call per row, NARROW (no explode, no aggregate, no
   * exchange), so the banded near-dup pipeline's only wide op is the
   * band-key self-join. Identical output to [[simHash32]] (interpreted HOF
   * fold) and [[simHash32Exploded]] (explode + 32-lane agg) — all three
   * equivalence-tested, the DuckDB oracle restates the semantics a 4th time.
   */
  def simHash32Relational(docs: DataFrame, idCol: String = "doc_id",
                          textCol: String = "text"): DataFrame = {
    org.apache.spark.sql.graft.NativeFunctions.register(docs.sparkSession)
    docs
      .where(col(textCol).isNotNull) // exploded form dropped null-text docs too
      .select(col(idCol), call_function("simhash_sig", col(textCol)).as("simhash"))
  }

  /** The explode + 32-lane aggregation restatement of [[simHash32Relational]]
    * — kept as the independent implementation the equivalence spec checks
    * the kernel against. */
  def simHash32Exploded(docs: DataFrame, idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame = {
    val hv = docs.select(col(idCol),
      explode(split(normalizeText(col(textCol)), " ")).as("tok"))
      .select(col(idCol), conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("long").as("hv"))
    val laneSums = (0 until 32).map { b =>
      sum(when(col("hv").bitwiseAND(lit(1L << b)) =!= 0, 1).otherwise(-1)).as(s"s$b")
    }
    hv.groupBy(col(idCol))
      .agg(laneSums.head, laneSums.tail: _*)
      .select(col(idCol),
        (0 until 32).map(b => when(col(s"s$b") >= 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
  }

  /** SimHash near-dup candidates: equal full signature (hamming distance 0)
    * — for tolerance use [[simHashNearDupPairs]] (banded sub-keys). One
    * shuffle on the 4-byte signature. */
  def simHashGroups(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs
      .select(col(idCol), simHash32(col(textCol)).as("simhash"))
      .groupBy(col("simhash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_docs"))

  /** Contiguous [lo, width) bit ranges splitting 32 bits into `nBands` chunks
    * (widths differ by at most 1 when nBands ∤ 32). */
  private def bandRanges(nBands: Int): Seq[(Int, Int)] =
    (0 until nBands).map { b =>
      val lo = b * 32 / nBands
      val hi = (b + 1) * 32 / nBands
      (lo, hi - lo)
    }

  /**
   * SimHash band sub-keys for Hamming-tolerant near-dup search: the 32-bit
   * signature split into `nBands` contiguous chunks, one row per (doc, band).
   * Pigeonhole guarantee: two signatures within Hamming distance d < nBands
   * agree on at least one whole band, so the band-key self-join is a
   * COMPLETE candidate generator for `maxHamming = nBands - 1`.
   * Built on the relational (codegen'd aggregate) signature path.
   */
  def simHashBands(docs: DataFrame, nBands: Int = 4,
                   idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val keys = bandRanges(nBands).map { case (lo, width) =>
      shiftright(col("simhash"), lo).bitwiseAND(lit((1L << width) - 1))
    }
    simHash32Relational(docs, idCol, textCol)
      .select(col(idCol), col("simhash"),
        posexplode(array(keys: _*)).as(Seq("band", "band_key")))
  }

  /**
   * SimHash near-duplicate pairs within Hamming distance `maxHamming`:
   * candidates from the banded self-join (complete by pigeonhole with
   * `maxHamming + 1` bands), verified exactly with `bit_count(xor)`. The
   * shuffle carries (id, 8-byte signature, band key) — never the text; hot
   * band buckets are AQE-skew-handled like the MinHash-LSH join.
   */
  def simHashNearDupPairs(docs: DataFrame, maxHamming: Int = 3,
                          idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val bands = simHashBands(docs, maxHamming + 1, idCol, textCol)
    val a = bands.select(col("band"), col("band_key"),
      col(idCol).as("id_a"), col("simhash").as("sig_a"))
    val b = bands.select(col("band"), col("band_key"),
      col(idCol).as("id_b"), col("simhash").as("sig_b"))
    // shuffle_hash: corpus-sized band table on both sides — see
    // lshCandidatePairs (Catalyst sizes the kernel-scan subtree at its
    // parquet bytes and would broadcast one side)
    a.join(b.hint("shuffle_hash"), Seq("band", "band_key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /**
   * SimHash-based near-duplicate dedup with exact transitive clusters:
   * exact-collapse → Hamming-banded candidate pairs (`bit_count` verified)
   * → connected components → keep each component's min-id doc. The
   * signature-space sibling of [[dedupNearCC]] — cheaper per doc (one
   * 32-bit signature, no shingle sets through the verification join) and
   * the right tool when "near-dup" means token-distribution similarity
   * rather than shingle-overlap similarity.
   */
  def dedupNearSimHash(docs: DataFrame, maxHamming: Int = 3,
                       idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val reps = dedupExact(docs, idCol, textCol)
    val pairs = simHashNearDupPairs(reps, maxHamming, idCol, textCol)
    keepComponentMin(reps, pairs.select(col("id_a"), col("id_b")), idCol)
  }
}
