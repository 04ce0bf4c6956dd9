package graft.mr

import graft.SparkSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property tests for the tokenizer (SURVEY.md §7 risk: Go
  * `unicode.IsLetter` vs Java `\p{L}` parity). Two invariants over
  * ScalaCheck-generated unicode text (fixed seed — deterministic):
  * MRApps' code-point scanner returns exactly the maximal category-L runs
  * (checked against an independent Character.isLetter scanner and against
  * the JVM regex `split(TokenPattern)`), and the SQL `split` path used by
  * the DataFrame queries agrees with both JVM paths.
  */
class TokenizerPropSpec extends SparkSuite {

  private val textGen: Gen[String] = Gen.listOf(Gen.frequency(
    6 -> Gen.alphaChar,
    2 -> Gen.oneOf(' ', '\t', '\n', ',', '.', ';', '1', '9', '-'),
    1 -> Gen.oneOf('é', 'ß', 'λ', '中', '文', 'Ж'),
    1 -> Gen.oneOf('€', '☃'))).map(_.mkString)

  private def samples(n: Int): Seq[String] =
    (0 until n).flatMap(i => textGen.apply(Gen.Parameters.default, Seed(42L + i)))

  /** Independent oracle: linear scan with Character.isLetter. */
  private def scanTokens(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      if (Character.isLetter(cp)) cur.appendAll(Character.toChars(cp))
      else if (cur.nonEmpty) { out += cur.toString(); cur.clear() }
      i += Character.charCount(cp)
    }
    if (cur.nonEmpty) out += cur.toString()
    out.result()
  }

  private def regexTokens(s: String): Seq[String] =
    s.split(MRApps.TokenPattern).filter(_.nonEmpty).toSeq

  test("tokenize == maximal Character.isLetter runs over 500 generated texts") {
    val texts = samples(500)
    assert(texts.exists(_.nonEmpty))
    texts.foreach { s =>
      assert(MRApps.tokenize(s).toSeq == scanTokens(s), s"input: ${s.take(80)}")
      assert(MRApps.tokenize(s).toSeq == regexTokens(s), s"input: ${s.take(80)}")
    }
  }

  test("SQL split path agrees with JVM regex path over 200 generated texts") {
    import spark.implicits._
    val texts = samples(200)
    val viaSql = texts.toDF("text")
      .selectExpr(s"split(text, '${MRApps.TokenPattern.replace("\\", "\\\\")}') AS toks")
      .collect()
      .map(_.getSeq[String](0).filter(_.nonEmpty).toList)
    assert(viaSql.toSeq == texts.map(regexTokens(_).toList))
    assert(viaSql.toSeq == texts.map(MRApps.tokenize(_).toList))
  }
}
