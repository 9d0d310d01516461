package graft.kernel

import org.scalacheck.{Gen, Prop, Properties}

import graft.kernel.Parsers.HtmlParser

/** The HTML parser's linear scans equal the regexes they replaced, kept
  * here as the reference: comment stripping, then script/style
  * stripping, then tag/text tokenization. The generator mixes unclosed
  * and mixed-case openers and closers, lone `<`/`>`, and non-ASCII
  * letters whose Unicode case folds to ASCII (U+017F, U+0131, U+212A),
  * which the regexes' ASCII-only case-insensitivity does not match. */
object HtmlStripProps extends Properties("HtmlStrip") {

  override def overrideParameters(p: org.scalacheck.Test.Parameters): org.scalacheck.Test.Parameters =
    p.withMinSuccessfulTests(2000)

  private val Comment = "(?s)<!--.*?-->".r
  private val ScriptOrStyle = "(?is)<(script|style)[^>]*>.*?</\\1>".r
  private val TagOrText = "(?s)<[^>]*>|[^<]+".r

  private def regexStrip(raw: String): String =
    ScriptOrStyle.replaceAllIn(Comment.replaceAllIn(raw, ""), "")

  private val pieces = Seq(
    "<!--", "-->", "<!-->", "--", "<script>", "<SCRIPT type=\"x\">", "<Script\n>",
    "</script>", "</SCRIPT>", "</scripT >", "</script", "<scripts>", "<style>",
    "<STYLE media=all>", "</style>", "</Style>", "</style", "<styl", "<", ">", "</",
    "x", "text ", "<p>", "</p>", "<b", "-", "!", "\n", "\u017Fcript", "<\u017Fcript>",
    "</\u017Fcript>", "<scr\u0131pt>", "</scr\u0131pt>", "\u212A", "\uD83D\uDE00")

  private val genHtml: Gen[String] =
    Gen.choose(0, 30).flatMap(n => Gen.listOfN(n, Gen.oneOf(pieces)).map(_.mkString))

  property("stripHidden equals the comment then script/style regexes") =
    Prop.forAll(genHtml) { html =>
      val want = regexStrip(html)
      val got = HtmlParser.stripHidden(html)
      Prop(got == want) :| s"html ${html.map(_.toInt)}\nlinear $got\nregex  $want"
    }

  property("tagsAndText equals the tag-or-text regex tokens") =
    Prop.forAll(genHtml) { html =>
      val want = TagOrText.findAllIn(html).toList
      val got = HtmlParser.tagsAndText(html).toList
      Prop(got == want) :| s"html ${html.map(_.toInt)}\nlinear $got\nregex  $want"
    }
}
