package graft

import graft.functions.TextFunctions
import org.apache.spark.sql.functions._

class TextFunctionsSpec extends SparkSpec {

  private def evalOne(c: org.apache.spark.sql.Column): Any = {
    import spark.implicits._
    Seq(1).toDF("x").select(c.as("r")).head().get(0)
  }

  test("cleanText lowercases, strips rt prefix, URLs and punctuation") {
    import spark.implicits._
    val got = Seq("rt Check https://x.co/Ab1 Solar, Power!")
      .toDF("t")
      .select(TextFunctions.cleanText($"t"))
      .head()
      .getString(0)
    assert(got == "check  solar power")
  }

  test("daysAgo parses the intended 'N days ago' prefix and nulls otherwise") {
    import spark.implicits._
    val got = Seq("3 days ago — something", "1 day ago x", "no prefix 5 days ago")
      .toDF("t")
      .select(TextFunctions.daysAgo($"t").as("d"))
      .collect()
      .map(r => if (r.isNullAt(0)) None else Some(r.getInt(0)))
    assert(got.toSeq == Seq(Some(3), Some(1), None))
  }

  test("occurrences counts non-overlapping literal matches") {
    assert(evalOne(TextFunctions.occurrences(lit("the cat the dog the"), "the")) == 3)
    assert(evalOne(TextFunctions.occurrences(lit("abc"), "zz")) == 0)
  }

  test("removeStopWords preserves duplicates of non-stopwords") {
    import spark.implicits._
    val got = Seq(Seq("the", "spark", "a", "spark", "engine"))
      .toDF("toks")
      .select(TextFunctions.removeStopWords($"toks"))
      .head()
      .getSeq[String](0)
    assert(got == Seq("spark", "spark", "engine"))
  }

  test("cleanTechTerms is the reference's 31-term dictionary") {
    assert(TextFunctions.cleanTechTerms.size == 31)
    assert(TextFunctions.cleanTechTerms("biofuel") == 40)
    assert(TextFunctions.cleanTechTerms("technology") == 30)
  }

  test("termScore meets lemmatized tokens: biogas scores 12, batteries scores battery's 1") {
    def score(token: String): Any = evalOne(TextFunctions.termScore(
      TextFunctions.lemmatize(array(lit(token))), TextFunctions.cleanTechTerms))
    assert(score("biogas") == 12)
    assert(score("batteries") == 1)
    assert(score("battery") == 1)
    // a key in normal form keeps its weight over a key that lemmatizes onto it
    assert(evalOne(TextFunctions.termScore(TextFunctions.lemmatize(array(lit("batteries"))),
      Map("batteries" -> 7, "battery" -> 1))) == 1)
  }

  test("bpeTrain learns the hand-computed merges (Sennrich corpus), greedy and tie-broken") {
    import spark.implicits._
    import graft.operators.Bpe
    // vocab {low:5, lowest:2, newer:6, wider:3}; by hand:
    //   iter 1: er = 6 (newer) + 3 (wider) = 9            -> (e, r)
    //   iter 2: lo = ow = 7 tie, 'lo' < 'ow' alphabetical -> (l, o)
    //   iter 3: lo+w = 5 (low) + 2 (lowest) = 7           -> (lo, w)
    val text = (List.fill(5)("low") ++ List.fill(2)("lowest") ++
      List.fill(6)("newer") ++ List.fill(3)("wider")).mkString(" ")
    val merges = Bpe.bpeTrain(Seq(text).toDF("text"), "text", numMerges = 3)
    assert(merges == Seq(
      Bpe.Merge("e", "r", 9L),
      Bpe.Merge("l", "o", 7L),
      Bpe.Merge("lo", "w", 7L)), s"got $merges")
    // greedy left-to-right non-overlap: "aaaa" -> [aa][aa], "aaa" ->
    // [aa][a]. Pair counts: iter 1 'aa' = 3 pairs x wc 2 (aaaa) +
    // 2 pairs x wc 1 (aaa) = 8; iter 2 (aa,aa) = 2 beats (aa,a) = 1.
    val m = Bpe.bpeTrain(Seq("aaaa aaaa aaa").toDF("text"), "text", numMerges = 2)
    assert(m.head == Bpe.Merge("a", "a", 8L), s"got $m")
    assert(m(1) == Bpe.Merge("aa", "aa", 2L), s"got $m")
    // the first trained merge IS q92's top-1 candidate by construction
    val q92top = QueriesText.q92_bpe_pair_counts(spark, sfDir).head()
    val first  = Bpe.bpeTrain(Tables.documents(spark, sfDir), "text", numMerges = 1).head
    assert(first.left + first.right == q92top.getString(0) && first.count == q92top.getLong(1))
  }

  test("bpeEncodeWords applies trained merges greedily; token counts reconcile") {
    import spark.implicits._
    import graft.operators.Bpe
    val text   = (List.fill(5)("low") ++ List.fill(2)("lowest") ++
      List.fill(6)("newer") ++ List.fill(3)("wider")).mkString(" ")
    val docs   = Seq((1L, text), (2L, "low wider")).toDF("doc_id", "text")
    val merges = Bpe.bpeTrain(docs, "text", numMerges = 3) // er, lo, low
    val enc = Bpe.bpeEncodeWords(docs, "text", merges).collect()
      .map(r => r.getString(0) -> r.getSeq[String](1).toList).toMap
    // hand-applied: low -> [low]; lowest -> [low, e, s, t];
    // newer -> [n, e, w, er]; wider -> [w, i, d, er]
    assert(enc("low") == List("low"))
    assert(enc("lowest") == List("low", "e", "s", "t"))
    assert(enc("newer") == List("n", "e", "w", "er"))
    assert(enc("wider") == List("w", "i", "d", "er"))
    // reconstruction invariant: concatenating tokens yields the word
    enc.foreach { case (w, toks) => assert(toks.mkString == w) }
    // per-doc counts = sum of per-word token counts, corpus-side join
    val counts = Bpe.bpeTokenCounts(docs, "doc_id", "text", merges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts(2L) == 1 + 4) // low + wider
    assert(counts(1L) == 5 * 1 + 2 * 4 + 6 * 4 + 3 * 4)
  }
}
