package graft.textanalysis

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * BPE tokenizer training — Sennrich, Haddow, Birch, "Neural Machine
 * Translation of Rare Words with Subword Units" (ACL 2016): learn a merge
 * table by repeatedly fusing the most frequent adjacent symbol pair, the
 * vocabulary-construction step every modern LM pipeline runs over its
 * corpus (the engine's `bpeTokenCount` estimates subword counts; this
 * TRAINS the actual subword vocabulary).
 *
 * Scale shape — the part that matters at 100 TB: the corpus collapses ONCE
 * to the distinct-word frequency table `(word, n)` (one hash aggregation;
 * the only corpus-sized shuffle), and every training step runs over that
 * table — bounded by VOCABULARY size (~10⁶ rows for web text), not corpus
 * size. Two merge-loop drivers share that statistic:
 *
 *  - [[trainMergesLocal]] (the PRODUCTION path): collect the top-`maxWords`
 *    word counts once and run the loop on the driver with incremental
 *    pair-count deltas — what real trainers do; 81× the relational loop's
 *    merges/minute on the sf0.1 corpus (OPTIMIZATION_r07.md), making 32k
 *    production vocabularies seconds of driver CPU after one corpus pass.
 *  - [[trainMerges]]: fully relational for unbounded vocabularies; merges
 *    are selected in provably-sequential-equal BATCHES (up to `maxBatch`
 *    per pair-count aggregation — see its scaladoc for the argument), with
 *    deferred `localCheckpoint`s (~every 12 merges) keeping the fold plan
 *    shallow without a materialization job per pass. 2.7× the per-merge
 *    loop on the same corpus; the residual gap is conflict structure — top
 *    pairs of a Zipfian corpus share symbols, capping exact batch sizes.
 *
 * Determinism: counts are integers (exact in any partitioning); the argmax
 * pair breaks ties by `(left, right)` lexicographically ascending; the
 * merge rewrite is the LEFTMOST-first non-overlapping rule ("aaa" + merge
 * (a,a) → ["aa","a"]) — all spec-asserted bit-equal against a driver-side
 * reference implementation.
 *
 * Symbols are code units of the normalized word plus a terminal
 * end-of-word marker `</w>` (the paper's formulation — word-final units
 * merge separately from word-internal ones). A merged symbol could in
 * principle spell the literal marker; the standard implementations accept
 * that theoretical collision and so does this one.
 */
object Bpe {

  val EndOfWord = "</w>"

  /** Distinct-word frequency table of the corpus: `(word, n)` — the ONLY
    * corpus-sized aggregation in BPE training. */
  def wordCounts(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(explode(graft.dedup.Dedup.tokens(col(textCol))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("n"))

  /** Initial symbolization of a word: its characters plus [[EndOfWord]]. */
  private def initSymbols(word: Column): Column =
    concat(split(word, ""), array(lit(EndOfWord)))

  /** Weighted adjacent-pair counts over a symbolized word table
    * `(s: array<string>, n)`: `(l, r, cnt)` — overlapping positions count
    * separately (the paper's statistic: "aaa" contributes (a,a) twice). */
  private def pairCountsFromSymbols(sym: DataFrame): DataFrame =
    sym.select(col("n"), posexplode(
        // size guard: a fully merged word has ONE symbol, and Spark's
        // sequence(1, 0) DESCENDS instead of being empty
        when(size(col("s")) >= 2,
          transform(sequence(lit(1), size(col("s")) - 1),
            i => struct(element_at(col("s"), i).as("l"),
              element_at(col("s"), i + 1).as("r"))))
          .otherwise(array().cast("array<struct<l:string,r:string>>")))
        .as(Seq("p0", "pr")))
      .groupBy(col("pr.l").as("l"), col("pr.r").as("r"))
      .agg(sum(col("n")).cast("long").as("cnt"))

  /** The public pair statistic straight from a docs table (the
    * `q_bpe_pairs` surface): weighted adjacent-symbol pair counts of the
    * INITIAL (character) symbolization. */
  def pairCounts(docs: DataFrame, textCol: String = "text"): DataFrame =
    pairCountsFromSymbols(
      wordCounts(docs, textCol).select(initSymbols(col("word")).as("s"), col("n")))

  /** One leftmost-first non-overlapping merge of the adjacent pair (a, b)
    * in a symbol array — a single left fold with a one-symbol pending
    * buffer ("" = empty; symbols are never empty strings). */
  private def mergeFold(s: Column, a: String, b: String): Column =
    aggregate(s,
      struct(array().cast("array<string>").as("acc"), lit("").as("pend")),
      (st, x) => when(st("pend") === a && x === b,
          struct(concat(st("acc"), array(lit(a + b))).as("acc"), lit("").as("pend")))
        .otherwise(struct(
          when(st("pend") === "", st("acc"))
            .otherwise(concat(st("acc"), array(st("pend")))).as("acc"),
          x.as("pend"))),
      st => when(st("pend") === "", st("acc"))
        .otherwise(concat(st("acc"), array(st("pend")))))

  /**
   * Learn `numMerges` BPE merges from the corpus. Returns the merge table
   * in rank order; stops early when no pair reaches `minPairCount`
   * (default 2 — merging a pair seen once builds a symbol no second word
   * shares).
   *
   * Batched passes, BIT-EQUAL to the one-merge-at-a-time loop: a single
   * merge step only changes the count of pairs that TOUCH the merged pair
   * (a, b) — pairs destroyed are (x,a)/(a,b)/(b,y), pairs created are
   * (x,ab)/(ab,y). So a rank-prefix of the pair table whose members are
   * pairwise symbol-disjoint has every member's count invariant under the
   * others' merges, and the sequential argmax walks exactly that prefix,
   * provided nothing OUTSIDE the prefix can outrank its tail:
   *
   *  - every unaccepted pair has `cnt <= stopCnt` (the count at the first
   *    conflicting row, the batch-cap row, or the last collected row when
   *    the collect may have a tail) and a merge never increases it;
   *  - every CREATED pair (x,ab) corresponds occurrence-for-occurrence to
   *    an original (x,a), which shares `a` with an accepted pair and is
   *    therefore unaccepted — so created counts are also `<= stopCnt`;
   *  - created counts never splice into an EXISTING pair's count because
   *    each accepted concatenation `a+b` is fresh: absent from the
   *    driver-side symbol universe (initial symbols plus every accepted
   *    concat — a superset of all symbols that ever exist in the table,
   *    since each merge adds exactly its concat), and pairs containing an
   *    earlier accepted concat as a symbol are conflicts;
   *
   * so the batch is trimmed to counts STRICTLY above `stopCnt` (the head
   * is always safe — it is the global argmax verbatim) and the sequential
   * loop provably picks the same pairs in the same order. Asserted
   * bit-equal against the driver-side Sennrich reference at batch sizes
   * 1/4/16 in BpeSpec.
   *
   * Cost: one vocabulary-sized aggregation + one top-k collect + one
   * scan-side rewrite per PASS instead of per MERGE — the driver-latency
   * fix for production vocabularies (32k merges at ~10 accepted per pass
   * is ~3k Spark actions, not ~64k). `maxBatch = 1` degenerates to the
   * sequential loop.
   */
  def trainMerges(docs: DataFrame, numMerges: Int, minPairCount: Long = 2L,
                  textCol: String = "text", maxBatch: Int = 16): Seq[(String, String)] = {
    require(numMerges >= 1, s"numMerges must be >= 1, got $numMerges")
    require(maxBatch >= 1, s"maxBatch must be >= 1, got $maxBatch")
    // The symbol table is vocabulary-sized; 8 partitions keeps per-pass job
    // scheduling cheap (the loop cost is actions, not data) while leaving
    // room for 10⁶-word vocabularies.
    var sym = wordCounts(docs, textCol)
      .select(initSymbols(col("word")).as("s"), col("n"))
      .coalesce(8)
      .localCheckpoint()
    // Superset of every symbol that can ever appear: the initial alphabet
    // (character-sized — one tiny collect) plus each accepted merge's
    // concatenation. Symbols can vanish when fully consumed but never
    // appear from outside this set, so `!universe(l+r)` proves the new
    // symbol collides with nothing anywhere in the table — including below
    // the collected top-k cut. A vanished symbol only makes the check
    // conservative (ends a batch early), never wrong.
    val universe = scala.collection.mutable.Set.empty[String]
    sym.select(explode(col("s")).as("x")).distinct().collect()
      .foreach(r => universe += r.getString(0))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var exhausted = false
    var unCheckpointed = 0
    while (merges.length < numMerges && !exhausted) {
      val want = math.min(maxBatch, numMerges - merges.length)
      // Collect well past the batch: rows at the stop count certify count
      // ties (below), and seeing the WHOLE table in the endgame (rows < k)
      // removes the unseen-tail guard entirely.
      val k = math.max(8 * want, 256)
      val rows = pairCountsFromSymbols(sym)
        .orderBy(col("cnt").desc, col("l").asc, col("r").asc)
        .limit(k).collect()
      if (rows.isEmpty || rows.head.getLong(2) < minPairCount) exhausted = true
      else {
        val used = scala.collection.mutable.Set.empty[String]
        val concats = scala.collection.mutable.Set.empty[String]
        val accepted = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
        var stopCnt = -1L        // count at the first unaccepted row, if any
        var sawStop = false      // a conflict / cap / below-min row was seen
        var belowMin = false     // the stop row was below minPairCount
        val it = rows.iterator
        while (it.hasNext && !sawStop) {
          val row = it.next()
          val (l, r, c) = (row.getString(0), row.getString(1), row.getLong(2))
          if (c < minPairCount) { sawStop = true; belowMin = true }
          else if (accepted.isEmpty) {
            // The head is the sequential argmax verbatim — always merged.
            // But if its concat collides with a live symbol, the merge can
            // GROW counts of pairs containing that symbol, so nothing after
            // it is provably stable: the batch is the head alone.
            accepted += ((l, r, c))
            if (universe(l + r)) { sawStop = true; stopCnt = Long.MaxValue }
            else { used += l; used += r; concats += (l + r) }
          }
          else if (accepted.length >= want ||
                   used(l) || used(r) ||          // shares a symbol: count changes
                   concats(l) || concats(r) ||    // contains a new symbol: count grows
                   universe(l + r) || concats(l + r)) {  // concat not fresh
            sawStop = true; stopCnt = c
          } else {
            accepted += ((l, r, c)); used += l; used += r; concats += (l + r)
          }
        }
        // Tail bound: a full k-row collect may hide pairs below the cut;
        // they all count <= the last collected row.
        if (!sawStop && rows.length == k) { sawStop = true; stopCnt = rows.last.getLong(2) }
        // Trim the accepted prefix so the sequential argmax provably walks
        // it. An UNACCEPTED ORIGINAL pair can never beat an accepted one:
        // its count only decreases and its original rank — count ties
        // included, the (l, r) tie-break is part of the rank — is after
        // the whole accepted prefix. The only threat is a CREATED pair
        // tying an accepted count: created (x, a+b) counts are bounded by
        // their source original (x, a) / (b, y) — conflicting, hence
        // unaccepted, hence <= stopCnt — so accepted pairs with
        // cnt > stopCnt are safe outright, and a tie at stopCnt is safe iff
        // every potential created NAME (enumerable from the seen rows at
        // the stop count; complete when the stop count is strictly above
        // the collect cut) ranks lexicographically after it.
        val kept =
          if (!sawStop || belowMin) accepted.toSeq // full table seen, or tail below min
          else if (stopCnt == Long.MaxValue) accepted.take(1) // non-fresh head
          else {
            val tiesSeen = stopCnt > rows.last.getLong(2) || rows.length < k
            lazy val createdAtStop: Seq[(String, String)] = {
              val leftOf = accepted.map(p => p._1 -> (p._1 + p._2)).toMap  // a -> ab
              val rightOf = accepted.map(p => p._2 -> (p._1 + p._2)).toMap // b -> ab
              rows.iterator
                .filter(q => q.getLong(2) == stopCnt)
                .flatMap { q =>
                  val (x, z) = (q.getString(0), q.getString(1))
                  if (accepted.exists(p => p._1 == x && p._2 == z)) Nil
                  else {
                    // each side replaced by its merge's concat (a symbol is
                    // in at most one accepted pair, so at most once)
                    val cx = rightOf.get(x) // x ends accepted (a, x): (ax, z)
                    val cz = leftOf.get(z)  // z starts accepted (z, b): (x, zb)
                    cx.map(_ -> z).toSeq ++ cz.map(x -> _).toSeq ++
                      (for (a <- cx; b <- cz) yield (a, b)).toSeq
                  }
                }.toSeq
            }
            def tieSafe(p: (String, String, Long)): Boolean =
              tiesSeen && createdAtStop.forall { case (cl, cr) =>
                val c = if (cl == p._1) cr.compareTo(p._2) else cl.compareTo(p._1)
                c > 0
              }
            accepted.head +: accepted.tail.takeWhile(p => p._3 > stopCnt || tieSafe(p))
          }
        if (sys.env.contains("BPE_TRACE"))
          println(s"pass: accepted=${accepted.length} kept=${kept.length} " +
            s"belowMin=$belowMin stopCnt=$stopCnt cnts=${accepted.map(_._3).mkString(",")}")
        kept.foreach { case (l, r, _) =>
          merges += ((l, r))
          universe += (l + r)
          sym = sym.withColumn("s", mergeFold(col("s"), l, r))
        }
        // One checkpoint per ~12 applied merges, not per pass: the table is
        // vocabulary-sized, so recomputing a few nested folds under the next
        // pass's collect is cheaper than a materialization job per pass
        // (measured, OPTIMIZATION_r07.md); 12 stays under the HOF-depth
        // regime encodeWords already uses (chunk 16).
        unCheckpointed += kept.length
        if (unCheckpointed >= 12) { sym = sym.localCheckpoint(); unCheckpointed = 0 }
        // Below-min stop with every >=min row accepted: any pair a further
        // merge could create is bounded by a conflicting original < min,
        // so the sequential loop would also stop here.
        if (belowMin && kept.length == accepted.length) exhausted = true
      }
    }
    merges.toSeq
  }

  /**
   * Learn BPE merges with the merge loop on the DRIVER — the production
   * path for real tokenizer training, mirroring what reference trainers
   * (SentencePiece, HF tokenizers) do: the corpus-sized work is exactly one
   * distributed aggregation ([[wordCounts]]); the loop then runs over the
   * collected top-`maxWords` distinct words with incremental pair-count
   * deltas (each merge touches only the words containing the merged pair),
   * so 32k merges take seconds of CPU instead of tens of thousands of
   * Spark actions. Bit-equal to [[trainMerges]] on any corpus within the
   * cap (spec-asserted, fuzz included).
   *
   * `maxWords` bounds driver memory (default 2²⁰ ≈ 10⁶ words ~ tens of MB):
   * training statistics cover the most frequent `maxWords` words,
   * tie-broken lexicographically — at web scale this is the standard
   * frequency-floor truncation every practical trainer applies. Use
   * [[trainMerges]] when the statistic must cover an unbounded vocabulary.
   */
  def trainMergesLocal(docs: DataFrame, numMerges: Int, minPairCount: Long = 2L,
                       textCol: String = "text", maxWords: Int = 1 << 20): Seq[(String, String)] = {
    require(numMerges >= 1, s"numMerges must be >= 1, got $numMerges")
    require(maxWords >= 1, s"maxWords must be >= 1, got $maxWords")
    val wc = wordCounts(docs, textCol)
      .orderBy(col("n").desc, col("word").asc)
      .limit(maxWords)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    localMergeLoop(wc, numMerges, minPairCount)
  }

  /** The driver-side delta-maintained merge loop over a `(word, n)` table.
    * Semantics identical to the relational loop: integer counts, argmax by
    * `(cnt desc, l asc, r asc)`, leftmost-first non-overlapping rewrite,
    * stop below `minPairCount`. */
  private[textanalysis] def localMergeLoop(wc: Seq[(String, Long)], numMerges: Int,
                                           minPairCount: Long): Seq[(String, String)] = {
    import scala.collection.mutable
    val words = wc.map { case (w, _) =>
      mutable.ArrayBuffer.from(w.map(_.toString)) += EndOfWord
    }.toIndexedSeq
    val freq = wc.map(_._2).toIndexedSeq
    val pairCnt = mutable.Map.empty[(String, String), Long]
    val pairWords = mutable.Map.empty[(String, String), mutable.Set[Int]]
    // rank order: highest count first, then (l, r) ascending
    val queue = mutable.TreeSet.empty[(Long, String, String)](
      Ordering.Tuple3(Ordering.Long.reverse, Ordering.String, Ordering.String))

    def adjust(p: (String, String), delta: Long, wordIdx: Int): Unit = {
      val old = pairCnt.getOrElse(p, 0L)
      if (old > 0) queue.remove((old, p._1, p._2))
      val now = old + delta
      if (now > 0) { pairCnt(p) = now; queue.add((now, p._1, p._2)) }
      else pairCnt.remove(p)
      val set = pairWords.getOrElseUpdate(p, mutable.Set.empty)
      if (delta > 0) set += wordIdx
      // negative deltas keep (possibly stale) membership: cheap, and the
      // merge rewrite tolerates words that no longer contain the pair
    }

    def contribute(i: Int, sign: Long): Unit = {
      val s = words(i); val n = freq(i) * sign
      var j = 0
      while (j + 1 < s.length) { adjust((s(j), s(j + 1)), n, i); j += 1 }
    }

    words.indices.foreach(contribute(_, 1L))

    val merges = mutable.ArrayBuffer.empty[(String, String)]
    while (merges.length < numMerges && queue.nonEmpty && queue.head._1 >= minPairCount) {
      val (_, a, b) = queue.head
      merges += ((a, b))
      val affected = pairWords.getOrElse((a, b), mutable.Set.empty).toArray
      affected.foreach { i =>
        val s = words(i)
        var has = false
        var j = 0
        while (!has && j + 1 < s.length) { has = s(j) == a && s(j + 1) == b; j += 1 }
        if (has) {
          contribute(i, -1L)
          // leftmost-first non-overlapping rewrite in place
          var r = 0; var w = 0
          while (r < s.length) {
            if (r + 1 < s.length && s(r) == a && s(r + 1) == b) { s(w) = a + b; r += 2 }
            else { s(w) = s(r); r += 1 }
            w += 1
          }
          s.dropRightInPlace(s.length - w)
          contribute(i, 1L)
        }
      }
      pairWords.remove((a, b))
      // all occurrences merged: the pair is gone from every word
      pairCnt.remove((a, b)).foreach(c => queue.remove((c, a, b)))
    }
    merges.toSeq
  }

  /** Tokenize a distinct-word table `(word)` with a learned merge list:
    * `(word, tokens: array<string>)`, marker included on the final token
    * run. PRODUCTION PATH (round 7, the round-6 verdict item): ONE narrow
    * codegen'd `bpe_encode` kernel call applies the whole merge table per
    * word — the encode-side sibling of [[trainMergesLocal]]. The merge
    * table travels as two `array<string>` plan literals (one object each),
    * so a 32k-merge vocabulary is one scan-side pass instead of
    * [[encodeWordsFold]]'s ~2,000 sequential materializations of the
    * distinct-word table (measured, OPTIMIZATION_r07.md; bit-equal
    * fuzz-asserted in BpeSpec at 1/16/1k merges). */
  def encodeWords(words: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    org.apache.spark.sql.graft.NativeFunctions.register(words.sparkSession)
    words.select(col("word"),
      call_function("bpe_encode", col("word"),
        typedLit(merges.map(_._1)), typedLit(merges.map(_._2))).as("tokens"))
  }

  /** The per-merge fold-column restatement of [[encodeWords]] — one
    * [[mergeFold]] column per merge, every `chunk` rewrites the plan is cut
    * with a `localCheckpoint` (the table is distinct-words-sized) so
    * arbitrarily long merge lists never build an arbitrarily deep
    * expression tree. Kept as the independent equivalence witness the
    * kernel is spec-checked against (latency ∝ merges/chunk actions —
    * superseded as the production path by the kernel). */
  def encodeWordsFold(words: DataFrame, merges: Seq[(String, String)],
                      chunk: Int = 16): DataFrame = {
    require(chunk >= 1, s"chunk must be >= 1, got $chunk")
    var df = words.select(col("word"), initSymbols(col("word")).as("tokens"))
    merges.zipWithIndex.foreach { case ((a, b), i) =>
      df = df.withColumn("tokens", mergeFold(col("tokens"), a, b))
      if ((i + 1) % chunk == 0 && i + 1 < merges.length) df = df.localCheckpoint()
    }
    df
  }

  /** Tokenize whole docs: `(idCol, tokens)` — the corpus's DISTINCT words
    * tokenize once through [[encodeWords]] and join back to word
    * occurrences (the same distinct-word discipline as training; per-doc
    * token arrays reassemble in word-position order). */
  def encodeDocs(docs: DataFrame, merges: Seq[(String, String)],
                 idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val occ = docs.select(col(idCol),
        posexplode(filter(graft.dedup.Dedup.tokens(col(textCol)), t => length(t) > 0))
          .as(Seq("pos", "word")))
    val wt = encodeWords(occ.select(col("word")).distinct(), merges)
    occ.join(wt, Seq("word"))
      .groupBy(col(idCol))
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("pos"), col("tokens")))),
        x => x("tokens"))).as("tokens"))
  }

  /** Persist a merge table: `dir/merges` = (rank, l, r) parquet. */
  def saveMerges(spark: SparkSession, merges: Seq[(String, String)], dir: String): Unit = {
    import spark.implicits._
    merges.zipWithIndex.map { case ((l, r), i) => (i, l, r) }
      .toDF("rank", "l", "r").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/merges")
  }

  /** Load a persisted merge table in rank order. */
  def loadMerges(spark: SparkSession, dir: String): Seq[(String, String)] = {
    val df = spark.read.parquet(s"$dir/merges")
    require(df.columns.toSet == Set("rank", "l", "r"),
      s"BPE merges $dir/merges must have (rank, l, r), got ${df.columns.mkString(",")}")
    df.orderBy(col("rank")).collect().map(r => (r.getString(1), r.getString(2))).toSeq
  }
}
