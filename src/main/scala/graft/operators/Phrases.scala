package graft.operators

import graft.functions.TextFunctions

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Phrase mining — collocation statistics over a tokenized corpus, the
  * word2phrase step that decides which adjacent word pairs ("new york",
  * "machine learning") should fuse into single tokens before vocabulary
  * construction.
  *
  * The score is the standard corpus-lift statistic
  * `lift(a,b) = count(ab) * N / (count(a) * count(b))` with `N` the
  * total unigram occurrence count: how much more often the pair occurs
  * than independence predicts (>1 = attraction). All counts are exact
  * integers; the products stay inside the double-exact 2^53 range for
  * any corpus this library certifies per-shard, and ONE final division
  * + round(6) makes the value cross-engine reproducible (the same
  * single-division discipline as [[UnigramModel]]).
  *
  * Scale shape: ONE corpus scan and ONE count shuffle — unigrams and
  * bigrams ride the same explode as a tagged union (a token can never
  * contain a space, a space-joined bigram always does, so the tag is
  * free) and the map-side-combined count collapses both per partition
  * before the exchange. The total token count comes from summing the
  * BOUNDED unigram frame (vocabulary-sized — 10^4-10^6 entries, not
  * corpus-sized), never from a second corpus pass, and the bigram frame
  * joins that same unigram table twice by broadcast. `minCount` prunes
  * the bigram tail BEFORE the joins — the word2phrase discard threshold.
  */
object Phrases {

  /** (w1, w2, n_pair, n_w1, n_w2, lift) for every adjacent token pair
    * occurring at least `minCount` times. Duplicate-preserving bigrams
    * (collocation counts need the multiset, not the distinct set).
    *
    * The two unigram-count joins are broadcast-HINTED only while the
    * vocabulary is at most `broadcastThreshold` rows; above that the
    * join is left unhinted — same model-size discipline as
    * [[UnigramModel.scoreLarge]]/[[Vocab.encodeLarge]], so no corpus
    * statistic is ever forced through the driver at 100 TB (a web-scale
    * vocabulary runs 10^8 tokens; AQE still broadcasts it whenever it
    * measures small).
    */
  def bigramLift(
      docs: DataFrame,
      textCol: String,
      minCount: Long = 5L,
      broadcastThreshold: Long = 4096L
  ): DataFrame = {
    require(minCount >= 1)
    // one pass: every document contributes its tokens AND its space-joined
    // adjacent pairs to a single exploded count. The counts frame is
    // localCheckpoint'ed (it is vocabulary + bigram-vocabulary sized, NOT
    // corpus-sized) so the corpus explode+shuffle runs exactly once even
    // though three consumers read it — and, unlike persist, its blocks
    // free on GC instead of leaking in the CacheManager (the Pack rule).
    val counts = Spread.small(docs)
      .select(TextFunctions.tokens(col(textCol)).as("__ts"))
      .select(explode(concat(col("__ts"), TextFunctions.tokenNgrams(col("__ts"), 2))).as("g"))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val uni = counts.where(!col("g").contains(" "))
      .select(col("g").as("w"), col("n").as("n_w"))
    // coalesce: sum over zero rows is null — an empty/all-blank corpus
    // must yield an empty result, not an NPE
    val nTotal = uni.agg(coalesce(sum(col("n_w")), lit(0L))).head.getLong(0)
    val pairs = counts.where(col("g").contains(" ") && col("n") >= minCount)
      .select(
        split_part(col("g"), lit(" "), lit(1)).as("w1"),
        split_part(col("g"), lit(" "), lit(2)).as("w2"),
        col("n").as("n_pair"))
    // vocabulary size off the localCheckpointed counts — no corpus re-scan
    val hint =
      if (uni.count() <= broadcastThreshold) (d: DataFrame) => broadcast(d)
      else (d: DataFrame) => d
    pairs
      .join(hint(uni.select(col("w").as("w1"), col("n_w").as("n_w1"))), "w1")
      .join(hint(uni.select(col("w").as("w2"), col("n_w").as("n_w2"))), "w2")
      .select(col("w1"), col("w2"), col("n_pair"), col("n_w1"), col("n_w2"),
        round(col("n_pair").cast("double") * nTotal /
          (col("n_w1").cast("double") * col("n_w2")), 6).as("lift"))
  }

  /** 0-based start positions of adjacent token pairs present in the
    * phrase literal — the match set the greedy walk consumes.
    */
  private def matchedPairPositions(ts: Column, phraseLit: Column): Column = {
    val emptyI = array().cast("array<int>")
    when(size(ts) < 2, emptyI).otherwise(
      filter(sequence(lit(0), size(ts) - 2), i =>
        array_contains(phraseLit,
          concat_ws(" ", element_at(ts, i + 1), element_at(ts, i + 2)))))
  }

  /** The greedy left-to-right non-overlap rule on a SORTED match-position
    * list: position m fuses iff matched and m−1 did not just fuse. The
    * walk is sequential by nature, but it runs over the sparse MATCH
    * list, never the token array — the r19 rewrite that took the fuse
    * step from O(tokens²) to O(tokens + matches²) per document (the old
    * per-token `aggregate` fold copied its accumulated output array on
    * every token; PhrasesSpec keeps that fold as the reference).
    */
  private def fusePositions(mp: Column): Column = {
    val st0 = struct(array().cast("array<int>").as("out"),
      lit(-2).as("prev"), lit(false).as("prevFused"))
    aggregate(mp, st0, (st, m) => {
      val fused = !(st.getField("prevFused") && (m === st.getField("prev") + 1))
      struct(
        when(fused, concat(st.getField("out"), array(m)))
          .otherwise(st.getField("out")).as("out"),
        m.as("prev"), fused.as("prevFused"))
    }, st => st.getField("out"))
  }

  /** Emit the fused token stream for precomputed fuse positions: each
    * index yields its fused pair, nothing (consumed by the previous
    * fuse), or the token itself. `fs` MUST be a named column at the call
    * site — it sits inside the lambda, so an inline expression would be
    * re-evaluated once per token.
    */
  private def emitFused(ts: Column, fs: Column): Column = {
    val emptyS = array().cast("array<string>")
    when(size(ts) < 1, emptyS).otherwise(
      flatten(transform(sequence(lit(0), size(ts) - 1), i =>
        when(array_contains(fs, i),
          array(concat_ws("_", element_at(ts, i + 1), element_at(ts, i + 2))))
          .when(array_contains(fs, i - 1), emptyS)
          .otherwise(array(element_at(ts, i + 1))))))
  }

  /** The APPLY step of word2phrase over a corpus: (idCol, fused) with
    * `fused` the token sequence of `textCol` with each adjacent pair found
    * in `phrases` fused into a single `w1_w2` token, greedily left to
    * right, no overlap (a token consumed by a fusion cannot start
    * another: "a a a" with phrase (a,a) becomes "a_a a") — the
    * tokenization a vocabulary build runs AFTER phrase mining. A pure
    * projection, no shuffle: each document rewrites independently from
    * its staged match-position columns. `phrases` is the mined top-N,
    * inlined as a sorted array literal, so keep N modest (the same
    * small-literal rule as [[Vocab.encodeColumn]]); PhrasesSpec pins the
    * result against a per-token fold on randomized corpora.
    */
  def fuseCorpus(docs: DataFrame, idCol: String, textCol: String, phrases: Seq[(String, String)]): DataFrame = {
    require(phrases.nonEmpty, "phrases must contain at least one (w1, w2) pair")
    val phraseLit = typedlit(phrases.map { case (a, b) => s"$a $b" }.distinct.sorted)
    Spread.small(docs)
      .select(col(idCol), TextFunctions.tokens(col(textCol)).as("__ts"))
      .withColumn("__mp", matchedPairPositions(col("__ts"), phraseLit))
      .withColumn("__fs", fusePositions(col("__mp")))
      .select(col(idCol),
        // the old fold null-propagates on a null token array; keep that
        when(col("__ts").isNull, lit(null).cast("array<string>"))
          .otherwise(emitFused(col("__ts"), col("__fs"))).as("fused"))
  }

  /** [[fuseCorpus]] for a phrase set too large to inline as an array
    * literal (a real mined phrase table runs 10^4-10^5 pairs; the literal
    * is probed by LINEAR scan per token and bloats codegen — the same
    * hazard as [[Vocab.encodeColumn]]'s map literal). Value-exact with
    * the literal path; chooses the plan by phrase count:
    *
    *  - P <= `literalThreshold`: collect + [[fuseCorpus]]'s literal walk.
    *  - P > `literalThreshold`: adjacent pairs explode row-locally with
    *    their start positions, a BROADCAST hash join against the phrase
    *    table marks matching positions (O(1) probes, the corpus never
    *    builds a join hash table), matched positions regroup per document
    *    (ONE shuffle of (doc, pos) hits — posting-list sized, the
    *    standard reassembly price, same as [[Vocab.encode]]'s join path),
    *    and the greedy left-to-right non-overlap walk runs row-locally
    *    over (tokens, matched positions): fuse at i unless i-1 already
    *    fused — alternating positions within runs, exactly
    *    [[fuseCorpus]]'s semantics.
    *
    * `phrasesDf` columns: (w1, w2).
    */
  def fuseCorpusLarge(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      phrasesDf: DataFrame,
      literalThreshold: Int = 4096,
      broadcastThreshold: Long = 1L << 22
  ): DataFrame = {
    val phraseCount = phrasesDf.count()
    if (phraseCount <= literalThreshold) {
      val ps = phrasesDf.select(col("w1"), col("w2")).collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq
      if (ps.isEmpty)
        return docs.select(col(idCol), TextFunctions.tokens(col(textCol)).as("fused"))
      return fuseCorpus(docs, idCol, textCol, ps)
    }
    val toks = Spread.small(docs).select(col(idCol), TextFunctions.tokens(col(textCol)).as("__ts"))
    // adjacent "w1 w2" pair strings with 0-based start positions — staged
    // into its own projection BEFORE the generator (a generator sharing a
    // select with a lambda expression strips struct field names)
    val n1 = greatest(size(col("__ts")) - 1, lit(0))
    val staged = toks.select(col(idCol),
      zip_with(slice(col("__ts"), lit(1), n1), slice(col("__ts"), lit(2), n1),
        (a, b) => concat_ws(" ", a, b)).as("__pairs"))
    // a mined phrase table is normally bounded (top-N by lift), so the
    // semi join broadcasts by hint up to broadcastThreshold pairs; past
    // that the hint drops and AQE picks the strategy from measured size
    val phraseKeys = phrasesDf.select(concat_ws(" ", col("w1"), col("w2")).as("__pair"))
    val hinted = if (phraseCount <= broadcastThreshold) broadcast(phraseKeys) else phraseKeys
    val hits = staged
      .select(col(idCol), posexplode(col("__pairs")).as(Seq("__pos", "__pair")))
      .join(hinted, Seq("__pair"), "leftsemi")
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(col("__pos"))).as("__mp"))
    toks
      .join(hits, Seq(idCol), "left")
      // matched positions arrive sorted (sort_array above); the greedy
      // walk runs over them alone, then a per-token emission pass reads
      // the fuse set — O(tokens + matches²), not the old per-token fold's
      // O(tokens²). __fs staged as a named column (see emitFused).
      .withColumn("__fs",
        fusePositions(coalesce(col("__mp"), array().cast("array<int>"))))
      .select(col(idCol), emitFused(col("__ts"), col("__fs")).as("fused"))
  }
}
