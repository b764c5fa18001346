package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.LangModel

/** Unigram LM scoring contract tests: hand-computed probabilities on
  * a tiny corpus, OOV accounting under a capped vocabulary, and the
  * empty-document edge.
  */
class LangModelSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local("4")

  private def score(vocabK: Int, rows: (Long, String)*) = {
    import spark.implicits._
    LangModel.unigramScore(rows.toDF("doc_id", "text"), "doc_id", "text", vocabK)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) Double.NaN else r.getDouble(3))))
      .toMap
  }

  test("hand-computed probabilities on a 5-token corpus") {
    // corpus tokens: a a a b c  -> total=5; K=10 -> denom = 5+11 = 16
    // p(a)=(3+1)/16, p(b)=p(c)=(1+1)/16
    val out = score(10, 1L -> "a a a", 2L -> "b c")
    val pa = math.log(4.0 / 16.0)
    val pb = math.log(2.0 / 16.0)
    assert(out(1L)._1 == 3L && out(1L)._2 == 0L)
    assert(math.abs(out(1L)._3 - BigDecimal(pa).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
    assert(out(2L)._1 == 2L && out(2L)._2 == 0L)
    assert(math.abs(out(2L)._3 - BigDecimal(pb).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
  }

  test("vocabulary cap sends rare words to the OOV bucket") {
    // K=1: only the most frequent word ("the", cnt 4) is in-model;
    // every other token is OOV with p = 1/(total+2)
    val out = score(1,
      1L -> "the the the the",
      2L -> "rare words only here")
    assert(out(1L)._2 == 0L, "model word counted as OOV")
    assert(out(2L)._2 == 4L, s"expected all 4 tokens OOV, got ${out(2L)}")
    val total = 8L // 4 + 4 tokens
    val expected = math.log(1.0 / (total + 2.0))
    assert(math.abs(out(2L)._3 - BigDecimal(expected).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
    // OOV scores below any in-model score
    assert(out(2L)._3 < out(1L)._3)
  }

  test("empty and whitespace-only docs score zero tokens with null avg") {
    val out = score(10, 1L -> "some real text", 2L -> "", 3L -> "   ")
    assert(out(2L)._1 == 0L && out(2L)._2 == 0L && out(2L)._3.isNaN)
    assert(out(3L)._1 == 0L && out(3L)._3.isNaN)
    assert(out(1L)._1 == 3L)
  }

  test("deterministic top-K tie-break: count desc then word asc") {
    // b and c tie at cnt=2; K=1 must pick b (asc) — c becomes OOV
    val out = score(1, 1L -> "b b c c")
    // total=4, K=1 -> denom = 4+2 = 6; p(b)=(2+1)/6, p(c OOV)=1/6
    val exp = (math.log(3.0 / 6.0) + math.log(3.0 / 6.0) +
      math.log(1.0 / 6.0) + math.log(1.0 / 6.0)) / 4.0
    assert(out(1L)._2 == 2L, s"exactly the two c tokens should be OOV: ${out(1L)}")
    assert(math.abs(out(1L)._3 - BigDecimal(exp).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
  }

  private def bscore(vocabK: Int, bigramK: Int, rows: (Long, String)*) = {
    import spark.implicits._
    LangModel.bigramScore(rows.toDF("doc_id", "text"), "doc_id", "text", vocabK, bigramK)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) Double.NaN else r.getDouble(3))))
      .toMap
  }

  test("bigram: hand-computed stupid backoff on a tiny corpus") {
    // doc1 tokens: a b a b  -> bigrams: "a b","b a","a b"
    // doc2 tokens: a c      -> bigram:  "a c"
    // bigram counts: "a b"=2, "b a"=1, "a c"=1; bigramK=1 keeps "a b" only
    // unigram counts: a=3, b=2, c=1; total=6; vocabK=10 -> denom=6+11=17
    val out = bscore(10, 1, 1L -> "a b a b", 2L -> "a c")
    // doc1: "a b" hit ln(2/3) twice; "b a" backoff ln(0.4*(3+1)/17)
    val exp1 = (math.log(2.0 / 3.0) * 2 + math.log(0.4 * (4.0 / 17.0))) / 3.0
    // doc2: "a c" backoff onto unigram c: ln(0.4*(1+1)/17)
    val exp2 = math.log(0.4 * (2.0 / 17.0))
    assert(out(1L)._1 == 3L && out(1L)._2 == 2L, s"doc1 counts: ${out(1L)}")
    assert(math.abs(out(1L)._3 - BigDecimal(exp1).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
    assert(out(2L)._1 == 1L && out(2L)._2 == 0L, s"doc2 counts: ${out(2L)}")
    assert(math.abs(out(2L)._3 - BigDecimal(exp2).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
  }

  test("bigram: backoff onto an OOV second word uses the OOV bucket") {
    // vocabK=1 keeps only "a" (cnt 3); bigramK=1 keeps "a a" (cnt 2)
    // doc2's "a z": miss -> backoff; z OOV -> p = 1/(total+2)
    val out = bscore(1, 1, 1L -> "a a a", 2L -> "a z")
    val total = 5.0 // a=3 + a,z from doc2? a appears 4 times, z once -> total 5
    val exp2 = math.log(0.4 * (1.0 / (total + 2.0)))
    assert(out(2L)._1 == 1L && out(2L)._2 == 0L)
    assert(math.abs(out(2L)._3 - BigDecimal(exp2).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
  }

  test("bigram: sub-2-token docs emit zero bigrams with null avg") {
    val out = bscore(10, 10, 1L -> "one", 2L -> "", 3L -> "two words")
    assert(out(1L)._1 == 0L && out(1L)._3.isNaN)
    assert(out(2L)._1 == 0L && out(2L)._3.isNaN)
    assert(out(3L)._1 == 1L && out(3L)._2 == 1L)
  }

  private def dsir(vocabK: Int, rows: (Long, String)*) = {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    LangModel.dsirWeights(rows.toDF("doc_id", "text"), "doc_id", "text",
        col("doc_id") === 1L, vocabK)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) Double.NaN else r.getDouble(3))))
      .toMap
  }

  test("dsir: hand-computed importance weights on a tiny corpus") {
    // target = doc 1 ("a a b"), raw = doc 2 ("a c")
    // cnt_t: a=2, b=1; cnt_r: a=1, c=1; total_t=3, total_r=2; K=10 -> +11
    val out = dsir(10, 1L -> "a a b", 2L -> "a c")
    val lwA = math.log(3.0 / 14.0) - math.log(2.0 / 13.0)
    val lwB = math.log(2.0 / 14.0) - math.log(1.0 / 13.0)
    val lwC = math.log(1.0 / 14.0) - math.log(2.0 / 13.0)
    val exp1 = (lwA * 2 + lwB) / 3.0
    val exp2 = (lwA + lwC) / 2.0
    assert(out(1L)._1 == 3L && out(1L)._2 == 0L)
    assert(math.abs(out(1L)._3 - BigDecimal(exp1).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
    assert(out(2L)._1 == 2L && out(2L)._2 == 0L)
    assert(math.abs(out(2L)._3 - BigDecimal(exp2).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
    // a target-typical token scores above a raw-typical one
    assert(lwB > lwA && lwA > lwC)
  }

  test("dsir: OOV tokens contribute the constant ratio of totals") {
    // vocabK=1 keeps only "a" (cnt 3); "z" in doc 2 is OOV:
    // logw = ln(1/(3+2)) - ln(1/(2+2)) with K=1 -> denoms total+2
    val out = dsir(1, 1L -> "a a a", 2L -> "a z")
    val lwOov = math.log(1.0 / 5.0) - math.log(1.0 / 4.0)
    val lwA = math.log(4.0 / 5.0) - math.log(2.0 / 4.0)
    val exp2 = (lwA + lwOov) / 2.0
    assert(out(2L)._1 == 2L && out(2L)._2 == 1L)
    assert(math.abs(out(2L)._3 - BigDecimal(exp2).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
  }

  private def kl(vocabK: Int, rows: (String, String)*) = {
    import spark.implicits._
    LangModel.sourceKl(rows.toDF("source", "text"), "source", "text", vocabK)
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
  }

  test("sourceKl: a single group IS the corpus — KL exactly 0") {
    val out = kl(10, "s" -> "a a b c", "s" -> "b c d")
    assert(out("s")._1 == 7L && out("s")._2 == 0L)
    assert(out("s")._3 == 0.0, s"single-group KL must be exactly 0, got ${out("s")._3}")
  }

  test("sourceKl: divergent vocabulary scores higher KL; counts add up") {
    // s1 speaks the corpus-majority language; s2 is disjoint
    val out = kl(4,
      "s1" -> "a a a b b", "s1" -> "a b a b",
      "s2" -> "x y x y")
    assert(out("s1")._1 == 9L && out("s2")._1 == 4L)
    assert(out("s1")._3 >= 0.0 && out("s2")._3 >= 0.0)
    assert(out("s2")._3 > out("s1")._3,
      s"disjoint-vocab group must diverge more: ${out("s2")._3} vs ${out("s1")._3}")
    // vocabK=4 holds all of a,b,x,y -> no OOV anywhere
    assert(out("s1")._2 == 0L && out("s2")._2 == 0L)
  }

  test("sourceKl: the OOV bucket absorbs beyond-vocab tokens") {
    // vocabK=1 -> only the global top word "a" is in-vocab
    val out = kl(1, "s1" -> "a a a z", "s2" -> "a q r")
    assert(out("s1")._2 == 1L, s"s1 OOV: ${out("s1")}")
    assert(out("s2")._2 == 2L, s"s2 OOV: ${out("s2")}")
  }

  test("nb quality classifier separates seed vocabulary from crawl vocabulary") {
    import spark.implicits._
    // seed docs speak "clean" vocabulary, crawl docs speak "spam"
    // vocabulary, two probe docs (one per dialect) are labeled BAD so
    // their own tokens don't teach the classifier their class — their
    // verdicts must come from the shared vocabulary alone
    val seedWords = Seq("theorem", "proof", "lemma", "algebra", "integral")
    val crawlWords = Seq("click", "buy", "cheap", "winner", "pills")
    val docs =
      (0L until 20L).map(i => (i, seedWords(i.toInt % 5) + " " + seedWords((i.toInt + 1) % 5), "seed")) ++
      (20L until 40L).map(i => (i, crawlWords(i.toInt % 5) + " " + crawlWords((i.toInt + 1) % 5), "crawl")) ++
      Seq((100L, "theorem proof integral", "probe"), (101L, "click buy pills", "probe"))
    val df = docs.toDF("doc_id", "text", "src")
    val scores = graft.operators.TextOps
      .nbQualityScores(df, "doc_id", "text", goodIf = org.apache.spark.sql.functions.col("src") === "seed")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("score_micro")).toMap
    assert(scores(100L) > 0, s"seed-dialect probe scored ${scores(100L)}")
    assert(scores(101L) < 0, s"crawl-dialect probe scored ${scores(101L)}")
    assert(scores(100L) > scores(101L))
  }

  test("vocabFromCounts bounds topK: 0 and 1001 are rejected, 20 still ranks") {
    import spark.implicits._
    val counts = Seq(("a", 3L), ("b", 2L), ("c", 1L)).toDF("w", "cnt")
    Seq(0, 1001).foreach { k =>
      intercept[IllegalArgumentException](LangModel.vocabFromCounts(counts, k))
    }
    val top = LangModel.vocabFromCounts(counts, 20).orderBy("rk").collect()
    assert(top.map(_.getAs[String]("w")).toSeq == Seq("a", "b", "c"))
    assert(top.last.getAs[Double]("coverage") == 1.0)
  }
}
