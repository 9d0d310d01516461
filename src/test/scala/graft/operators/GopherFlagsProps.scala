package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties}

import graft.SparkTestBase

/** t6's typed per-document pass ([[TextAnalysis.gopherQuality]]) equals
  * the Spark column expression it replaced, kept here as the reference,
  * on generated adversarial text: every Java `\s` char, the line
  * terminators `$` matches before (U+0085, U+2028, U+2029), U+00A0,
  * leading/trailing blanks, ASCII and Arabic-Indic digits, surrogate
  * pairs, lone surrogates, control chars, empty and null text. */
object GopherFlagsProps extends Properties("GopherFlags") {

  private lazy val spark = SparkTestBase.spark

  /** t6 as a split + two HOF `filter`s with an RLIKE per token. */
  private def columnForm(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs
      .withColumn("toks", split(trim($"text"), "\\s+"))
      .withColumn("n_tok", size($"toks").cast("long"))
      .withColumn("n_nonspace", length(regexp_replace($"text", "\\s", "")).cast("long"))
      .withColumn("n_num",
        size(expr("filter(toks, t -> t RLIKE '^[0-9]+$')")).cast("long"))
      .withColumn("n_short",
        size(expr("filter(toks, t -> length(t) <= 2)")).cast("long"))
      .withColumn("mean_word_len", $"n_nonspace".cast("double") / $"n_tok")
      .withColumn("frac_numeric", $"n_num".cast("double") / $"n_tok")
      .withColumn("frac_short", $"n_short".cast("double") / $"n_tok")
      .select(
        $"doc_id", $"mean_word_len", $"frac_numeric", $"frac_short",
        ($"n_tok" >= 50 && $"n_tok" <= 100000 &&
          $"mean_word_len" >= 3 && $"mean_word_len" <= 10 &&
          $"frac_numeric" < 0.2).as("keep"))
  }

  private val pieces = Seq(
    "", " ", "  ", "\t", "\n", "\r", "\r\n", "\u000B", "\f", "\u0085", "\u2028",
    "\u2029", "\u00A0", "\u001F", "\u0000", "0", "7", "123", "0042", "\u0663\u0664",
    "a", "ab", "abc", "word", "quality", "x\u0085", "12\u0085", "12\u2028", "1\u2029",
    "12\u0085\u0085", "\u008512", "-5", "3.14", "1e3", "\uD83D\uDE00", "a\uD83D\uDE00",
    "\uD83D\uDE00\uD83D\uDE00\uD83D\uDE00", "\uD800", "\uDC00x", "\u00E9t\u00E9")

  private val genText: Gen[String] = Gen.frequency(
    1 -> Gen.const(null),
    1 -> Gen.const(""),
    12 -> Gen.choose(0, 40).flatMap(n => Gen.listOfN(n, Gen.oneOf(pieces)).map(_.mkString)),
    // long enough to reach the keep gate's 50-token floor
    4 -> Gen.choose(45, 70).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("abcd", "12", "efghij", "a", "99", "xyz\u0085"))
        .map(_.mkString(" "))))

  property("typed t6 equals the column expression") =
    Prop.forAll(Gen.listOfN(40, genText)) { texts =>
      val s = spark
      import s.implicits._
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      def rows(df: DataFrame): Seq[Row] = df.orderBy($"doc_id").collect().toSeq
      val want = rows(columnForm(docs))
      val got = rows(TextAnalysis.gopherQuality(docs))
      Prop(got == want) :| s"typed $got\ncolumn $want\ntexts ${texts.map(Option(_).map(_.map(_.toInt)))}"
    }
}
