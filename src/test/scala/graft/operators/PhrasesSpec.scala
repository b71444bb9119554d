package graft.operators

import graft.SparkTestSession
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class PhrasesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("bigram lift matches a hand computation") {
    // tokens: "new york" x 3 plus scattered singles.
    // unigrams: new=4, york=3, city=2, old=1  (N=10)
    val docs = Seq(
      "new york new york",
      "new york city",
      "old new city"
    ).toDF("text")
    val out = Phrases.bigramLift(docs, "text", minCount = 2L)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))).toMap
    // "new york": pair=3, lift = 3*10/(4*3) = 2.5
    assert(out(("new", "york")) == ((3L, 4L, 3L, 2.5)))
    // "york new" occurs once -> pruned by minCount
    assert(!out.contains(("york", "new")))
  }

  test("minCount prunes the tail before the joins; short docs yield no bigrams") {
    val docs = Seq("single", "", "two tokens").toDF("text")
    assert(Phrases.bigramLift(docs, "text", minCount = 2L).count() == 0)
    val one = Phrases.bigramLift(docs, "text", minCount = 1L)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(one == Set(("two", "tokens")))
  }

  test("fuseTokens: greedy left-to-right, no overlap, flush of a trailing pending token") {
    val docs = Seq(
      (1L, "new york city hall"),     // (new,york) and (city,hall) both fuse
      (2L, "a a a"),                  // greedy: (a,a) then lone a — no overlap
      (3L, "york new york"),          // first token can't fuse; (new,york) does
      (4L, "plain words here"),       // nothing fuses
      (5L, "")                        // empty stays empty
    ).toDF("doc_id", "text")
    val phrases = Seq(("new", "york"), ("city", "hall"), ("a", "a"))
    val out = Phrases.fuseCorpus(docs, "doc_id", "text", phrases)
      .as[(Long, Seq[String])].collect().toMap
    assert(out(1L) == Seq("new_york", "city_hall"))
    assert(out(2L) == Seq("a_a", "a"))
    assert(out(3L) == Seq("york", "new_york"))
    assert(out(4L) == Seq("plain", "words", "here"))
    assert(out(5L) == Seq.empty)
  }

  test("fuseCorpusLarge join path is value-exact with the literal walk") {
    val docs = Seq(
      (1L, "new york city hall"),
      (2L, "a a a"),                  // overlap: greedy alternation inside a run
      (3L, "a a a a"),                // even run: both alternating pairs fuse
      (4L, "york new york"),
      (5L, "plain words here"),
      (6L, "")
    ).toDF("doc_id", "text")
    val phrases = Seq(("new", "york"), ("city", "hall"), ("a", "a"))
    val phrasesDf = phrases.toDF("w1", "w2")
    val literal = Phrases.fuseCorpus(docs, "doc_id", "text", phrases)
      .as[(Long, Seq[String])].collect().toMap
    // literalThreshold = 0 forces the broadcast-join plan
    val joined = Phrases.fuseCorpusLarge(docs, "doc_id", "text", phrasesDf, literalThreshold = 0)
      .as[(Long, Seq[String])].collect().toMap
    assert(joined == literal, s"join path diverged:\n$joined\nvs\n$literal")
    assert(joined(3L) == Seq("a_a", "a_a"))
    // delegation below the threshold (and an empty phrase table is identity)
    val delegated = Phrases.fuseCorpusLarge(docs, "doc_id", "text", phrasesDf)
      .as[(Long, Seq[String])].collect().toMap
    assert(delegated == literal)
    val none = Phrases.fuseCorpusLarge(docs, "doc_id", "text",
      Seq.empty[(String, String)].toDF("w1", "w2"))
      .as[(Long, Seq[String])].collect().toMap
    assert(none(1L) == Seq("new", "york", "city", "hall") && none(6L) == Seq.empty)
  }

  test("bigramLift with broadcastThreshold 0 is value-exact and drops the broadcast hint") {
    // a web-scale vocabulary can't be force-broadcast; the unhinted plan
    // must produce identical counts/lifts and carry no BroadcastHashJoin
    // introduced by OUR hint (AQE may still choose one from measured
    // sizes at runtime, which is the point — so assert on the hint-free
    // logical plan, not the executed one)
    val docs = Seq(
      (1L, "new york is big"), (2L, "is big is big"),
      (3L, "new york is big"), (4L, "is big is big"),
      (5L, "new york is big"), (6L, "is big is big")
    ).toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy($"w1", $"w2").collect().map(_.toString).toSeq
    val hinted = Phrases.bigramLift(docs, "text", minCount = 2L)
    val unhinted = Phrases.bigramLift(docs, "text", minCount = 2L, broadcastThreshold = 0L)
    assert(rows(hinted) == rows(unhinted), "plans disagree on values")
    def hintCount(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.analyzed.collect {
        case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
      }.size
    assert(hintCount(hinted) == 2 && hintCount(unhinted) == 0,
      s"expected 2 vs 0 broadcast hints, got ${hintCount(hinted)} vs ${hintCount(unhinted)}")
  }

  test("lift > 1 flags attraction, < 1 flags repulsion") {
    // "a b" always adjacent (attraction); "a z" never adjacent
    val docs = Seq.fill(5)("a b filler").toDF("text")
      .union(Seq.fill(5)("z filler a b").toDF("text"))
    val out = Phrases.bigramLift(docs, "text", minCount = 1L)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(5)).toMap
    assert(out(("a", "b")) > 1.0)
    assert(out.get(("z", "a")).forall(_ < out(("a", "b"))))
  }

  test("fuseCorpus positional path == the fuseTokens fold (randomized)") {
    // tiny alphabet + self-pair phrases so overlapping match RUNS (the
    // greedy alternation's hard case) occur constantly
    val rnd = new scala.util.Random(20260819)
    val vocab = Seq("a", "b", "c", "d")
    val docs = ((0 until 150).map { i =>
      val len = rnd.nextInt(24)
      (i.toLong, (0 until len).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" "))
    } ++ Seq((900L, ""), (901L, "   "), (902L, "a a a a a a a"))).toDF("doc_id", "text")
    val phrases = Seq(("a", "a"), ("a", "b"), ("b", "a"), ("c", "d"))
    val got = Phrases.fuseCorpus(docs, "doc_id", "text", phrases)
      .as[(Long, Seq[String])].collect().toMap
    // reference: the per-token fold, exactly the pre-r19 fuseCorpus body
    val want = Spread.small(docs)
      .select($"doc_id", graft.functions.TextFunctions.tokens($"text").as("__ts"))
      .select($"doc_id", fuseTokens($"__ts", phrases).as("fused"))
      .as[(Long, Seq[String])].collect().toMap
    assert(got == want, {
      val bad = want.keys.filter(k => got.get(k) != want.get(k)).take(3)
      s"positional fuse diverges from the fold at docs $bad: " +
        bad.map(k => s"$k: got=${got.get(k)} want=${want.get(k)}").mkString("; ")
    })
  }

  /** The reference fold for [[Phrases.fuseCorpus]]: rewrite a token
    * array, greedily fusing each adjacent pair found in `phrases` into a
    * single `w1_w2` token, left to right, no overlap, in one Catalyst
    * `aggregate` carrying (emitted, pending-previous-token). Simple to
    * read but O(tokens²) per document (the fold copies its accumulated
    * output array on every token), hence not the operator's plan.
    */
  private def fuseTokens(ts: Column, phrases: Seq[(String, String)]): Column = {
    require(phrases.nonEmpty, "phrases must contain at least one (w1, w2) pair")
    val phraseLit = typedlit(phrases.map { case (a, b) => s"$a $b" }.distinct.sorted)
    val empty = array().cast("array<string>")
    val st0 = struct(empty.as("out"), lit(null).cast("string").as("prev"))
    val flush = (st: Column) =>
      when(st.getField("prev").isNotNull, concat(st.getField("out"), array(st.getField("prev"))))
        .otherwise(st.getField("out"))
    aggregate(
      ts,
      st0,
      (st, t) => {
        // concat_ws skips the null prev, so the probe never matches a
        // 2-word phrase when there is nothing pending
        val pair = concat_ws(" ", st.getField("prev"), t)
        when(st.getField("prev").isNotNull && array_contains(phraseLit, pair),
          struct(
            concat(st.getField("out"),
              array(concat_ws("_", st.getField("prev"), t))).as("out"),
            lit(null).cast("string").as("prev")))
          .otherwise(struct(flush(st).as("out"), t.as("prev")))
      },
      flush)
  }
}
