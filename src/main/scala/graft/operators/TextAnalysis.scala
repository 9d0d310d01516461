package graft.operators

import graft.{QuerySpec, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators over the `documents` corpus (builder-prompt
  * extension plane): corpus stats, token counting (whitespace + BPE-ish
  * regex), quality scoring, per-language token profiles, and a rolling-hash
  * document fingerprint.
  *
  * Everything here is a single scan + hash aggregate (or scan + explode +
  * aggregate): at 100 TB these parallelize per-split with map-side partial
  * aggregation, no cross-partition state. The per-character fingerprint
  * fold runs as a typed map (HOF aggregate/transform are CodegenFallback —
  * interpreted per element — which benchmarked ~4x slower; same rationale
  * as [[Shingles]]), with the DuckDB oracle pinning value equality.
  */
object TextAnalysis {

  /** Deterministic 31-base polynomial rolling hash mod 2^31-1 — the JVM
    * twin of the oracle's char fold; the corpus is ASCII so charAt equals
    * the oracle's ascii(substring(col,i,1)) codepoint. */
  private[operators] def polyHashJvm(s: String): Long = {
    var acc = 0L
    var i = 0
    while (i < s.length) {
      acc = (acc * 31 + s.charAt(i).toLong) % 2147483647L
      i += 1
    }
    acc
  }

  /** DuckDB rendering of the same fold. */
  private def polyHashSql(col: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(generate_series(1, length($col)), i -> CAST(ascii(substring($col, i, 1)) AS BIGINT))), " +
      s"(acc, x) -> (acc * 31 + x) % 2147483647)"

  /** t6's Gopher metrics of one text as `(mean_word_len, frac_numeric,
    * frac_short, keep)`, or None for null text (every column then null,
    * as the column form gives under ANSI). One pass over the chars, no
    * token strings. It reproduces the column form it replaced (pinned by
    * GopherFlagsProps; the DuckDB oracle pins the values) on valid UTF-8:
    *  - tokens are `trim(text)` (U+0020 only) split on Java `\s+` with
    *    limit −1, so leading/trailing empty tokens count and "" is one
    *    empty token;
    *  - `n_nonspace` is the code points of the untrimmed text minus its
    *    `\s` chars ([ \t\n\x0B\f\r]);
    *  - a token is numeric when `^[0-9]+$` `find()`s in it; `$` also
    *    matches before one final U+0085/U+2028/U+2029 (the other line
    *    terminators are `\s`, so they never sit inside a token);
    *  - a token is short when it has at most 2 code points. */
  private[operators] def gopherFlags(text: String): Option[(Double, Double, Double, Boolean)] = {
    if (text == null) return None
    def isSpace(c: Char) = c == ' ' || (c >= '\t' && c <= '\r')
    def isLineEnd(c: Char) = c == '\u0085' || c == '\u2028' || c == '\u2029'
    val n = text.length
    var nonSpace = text.codePointCount(0, n)
    var i = 0
    while (i < n) { if (isSpace(text.charAt(i))) nonSpace -= 1; i += 1 }
    var b = 0
    var e = n
    while (b < e && text.charAt(b) == ' ') b += 1
    while (e > b && text.charAt(e - 1) == ' ') e -= 1
    var nTok, nNum, nShort = 0L
    var start = b
    i = b
    var more = true
    while (more) {
      if (i == e || isSpace(text.charAt(i))) {
        val len = i - start
        if (len <= 2 || (len <= 4 && text.codePointCount(start, i) <= 2)) nShort += 1
        var k = start
        while (k < i && text.charAt(k) >= '0' && text.charAt(k) <= '9') k += 1
        if (k > start && (k == i || k == i - 1 && isLineEnd(text.charAt(k)))) nNum += 1
        nTok += 1
        if (i == e) more = false
        else {
          while (i < e && isSpace(text.charAt(i))) i += 1
          start = i
        }
      } else i += 1
    }
    val meanWordLen = nonSpace.toDouble / nTok
    val fracNumeric = nNum.toDouble / nTok
    Some((meanWordLen, fracNumeric, nShort.toDouble / nTok,
      nTok >= 50 && nTok <= 100000 && meanWordLen >= 3 && meanWordLen <= 10 && fracNumeric < 0.2))
  }

  /** t6's rows, unordered, for a `(doc_id, text)` frame: [[gopherFlags]]
    * per document in one typed map. */
  private[operators] def gopherQuality(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select($"doc_id", $"text").as[(Long, String)]
      .map { case (id, text) =>
        val f = gopherFlags(text)
        (id, f.map(_._1), f.map(_._2), f.map(_._3), f.map(_._4))
      }
      .toDF("doc_id", "mean_word_len", "frac_numeric", "frac_short", "keep")
  }

  private val stopwords = Seq("the", "a", "of", "and", "to", "in", "is", "on")
  private val stopwordsSqlList = stopwords.map(s => s"'$s'").mkString(", ")

  /** t17's BM25 scorer (k1=1.2, b=0.75), factored so s10's hybrid-fusion
    * query can reuse the exact text-ranking stage: unordered
    * `(doc_id, bm25 round6, n_terms_hit)` for documents hitting >= 1
    * query term. Scale shape documented at the t17 spec (one corpus
    * scan, term filter before aggregation, broadcast df/stats). */
  def bm25Scores(s: org.apache.spark.sql.SparkSession, dir: String,
                 terms: Seq[String]): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val docs = Tables(s, dir, "documents").filter($"text".isNotNull)
      .select($"doc_id", split(trim($"text"), "\\s+").as("toks"))
      .select($"doc_id", $"toks", size($"toks").cast("long").as("dl"))
    val stats = docs.agg(count(lit(1)).as("n_docs"), avg($"dl").as("avgdl"))
    val tf = docs
      .select($"doc_id", $"dl", explode($"toks").as("term"))
      .filter($"term".isin(terms: _*))
      .groupBy($"doc_id", $"term")
      .agg(count(lit(1)).as("tf"), min($"dl").as("dl"))
    val df = tf.groupBy($"term").agg(count(lit(1)).as("df"))
    tf.join(broadcast(df), "term")
      .crossJoin(broadcast(stats))
      .withColumn("w",
        log(($"n_docs" - $"df" + lit(0.5)) / ($"df" + lit(0.5)) + lit(1.0)) *
          ($"tf" * lit(2.2)) /
          ($"tf" + lit(1.2) * (lit(0.25) + lit(0.75) * $"dl" / $"avgdl")))
      .groupBy($"doc_id")
      .agg(round(sum($"w"), 6).as("bm25"),
        count(lit(1)).cast("long").as("n_terms_hit"))
  }

  val specs: Seq[QuerySpec] = Seq(

    // ----------------------------------------------------------------- t1
    // Corpus stats per language: the groupBy(lang) histogram + char stats.
    QuerySpec(
      "t1_corpus_stats",
      (s, dir) => {
        import s.implicits._
        Tables(s, dir, "documents")
          .groupBy($"lang")
          .agg(
            count(lit(1)).as("n_docs"),
            sum($"n_chars").as("total_chars"),
            (sum($"n_chars").cast("double") / count(lit(1))).as("avg_chars"),
            min($"n_chars").as("min_chars"),
            max($"n_chars").as("max_chars"),
            countDistinct($"source").as("n_sources"))
          .orderBy($"lang")
      },
      Some("""
        SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
               MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars,
               COUNT(DISTINCT source) AS n_sources
        FROM documents GROUP BY lang ORDER BY lang""")),

    // ----------------------------------------------------------------- t2
    // Token counting: whitespace tokens and a BPE-ish regex token count
    // (word pieces | digit runs | single punctuation).
    QuerySpec(
      "t2_token_counts",
      (s, dir) => {
        import s.implicits._
        Tables(s, dir, "documents")
          .select(
            $"doc_id",
            size(split(trim($"text"), "\\s+")).cast("long").as("ws_tokens"),
            regexp_count($"text", lit("[a-z]+|[0-9]+|[^a-z0-9\\s]")).cast("long").as("bpe_ish_tokens"),
            length($"text").cast("long").as("n_chars"))
          .orderBy($"doc_id")
      },
      Some("""
        SELECT doc_id,
               CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS ws_tokens,
               CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS bpe_ish_tokens,
               CAST(length(text) AS BIGINT) AS n_chars
        FROM documents ORDER BY doc_id""")),

    // ----------------------------------------------------------------- t3
    // Quality scoring: stopword ratio, punctuation ratio, lexical diversity,
    // and a CASE-WHEN quality bucket — the reference's "is this document
    // worth keeping" filter generalized to corpus scale.
    QuerySpec(
      "t3_quality_scores",
      (s, dir) => {
        import s.implicits._
        Tables(s, dir, "documents")
          .withColumn("toks", split(trim($"text"), "\\s+"))
          .withColumn("n_tok", size($"toks").cast("long"))
          .withColumn("n_stop",
            size(expr(s"filter(toks, t -> t IN (${stopwordsSqlList}))")).cast("long"))
          .withColumn("n_uniq", size(array_distinct($"toks")).cast("long"))
          .withColumn("n_punct",
            (length($"text") - length(regexp_replace($"text", "[^a-z0-9\\s]", ""))).cast("long"))
          .select(
            $"doc_id",
            ($"n_stop".cast("double") / $"n_tok").as("stopword_ratio"),
            ($"n_uniq".cast("double") / $"n_tok").as("lexical_diversity"),
            ($"n_punct".cast("double") / length($"text")).as("punct_ratio"),
            when($"n_tok" < 10, "too_short")
              .when($"n_uniq".cast("double") / $"n_tok" < 0.3, "repetitive")
              .otherwise("ok").as("quality_bucket"))
          .orderBy($"doc_id")
      },
      Some(s"""
        WITH t AS (
          SELECT doc_id, text, regexp_split_to_array(trim(text), '\\s+') AS toks
          FROM documents),
        m AS (
          SELECT doc_id, text,
                 CAST(len(toks) AS BIGINT) AS n_tok,
                 CAST(len(list_filter(toks, tok -> tok IN (${stopwordsSqlList}))) AS BIGINT) AS n_stop,
                 CAST(len(list_distinct(toks)) AS BIGINT) AS n_uniq,
                 CAST(length(text) - length(regexp_replace(text, '[^a-z0-9\\s]', '', 'g')) AS BIGINT) AS n_punct
          FROM t)
        SELECT doc_id,
               CAST(n_stop AS DOUBLE) / n_tok AS stopword_ratio,
               CAST(n_uniq AS DOUBLE) / n_tok AS lexical_diversity,
               CAST(n_punct AS DOUBLE) / length(text) AS punct_ratio,
               CASE WHEN n_tok < 10 THEN 'too_short'
                    WHEN CAST(n_uniq AS DOUBLE) / n_tok < 0.3 THEN 'repetitive'
                    ELSE 'ok' END AS quality_bucket
        FROM m ORDER BY doc_id""")),

    // ----------------------------------------------------------------- t6
    // Gopher-style heuristic quality flags (Rae et al. 2021 §A1.1 /
    // Dolma's rule filters): mean word length, numeric-token fraction,
    // short-token fraction, and the composite keep/drop decision. Single
    // scan; at 100 TB this is the map-side filter that runs BEFORE any
    // shuffle-heavy dedup. The per-token counting is one typed map
    // (gopherFlags): HOF filters over split tokens are CodegenFallback,
    // interpreted once per token.
    QuerySpec(
      "t6_gopher_quality_flags",
      (s, dir) => {
        import s.implicits._
        gopherQuality(Tables(s, dir, "documents")).orderBy($"doc_id")
      },
      Some(raw"""
        WITH t AS (
          SELECT doc_id, text, regexp_split_to_array(trim(text), '\s+') AS toks
          FROM documents),
        m AS (
          SELECT doc_id,
                 CAST(len(toks) AS BIGINT) AS n_tok,
                 CAST(length(regexp_replace(text, '\s', '', 'g')) AS BIGINT) AS n_nonspace,
                 CAST(len(list_filter(toks, tok -> regexp_full_match(tok, '[0-9]+'))) AS BIGINT) AS n_num,
                 CAST(len(list_filter(toks, tok -> length(tok) <= 2)) AS BIGINT) AS n_short
          FROM t)
        SELECT doc_id,
               CAST(n_nonspace AS DOUBLE) / n_tok AS mean_word_len,
               CAST(n_num AS DOUBLE) / n_tok AS frac_numeric,
               CAST(n_short AS DOUBLE) / n_tok AS frac_short,
               (n_tok >= 50 AND n_tok <= 100000
                AND CAST(n_nonspace AS DOUBLE) / n_tok >= 3
                AND CAST(n_nonspace AS DOUBLE) / n_tok <= 10
                AND CAST(n_num AS DOUBLE) / n_tok < 0.2) AS keep
        FROM m ORDER BY doc_id""")),

    // ----------------------------------------------------------------- t4
    // Language token profile: top-3 most frequent tokens per language —
    // the profile-building half of an n-gram language-ID model.
    QuerySpec(
      "t4_lang_token_profile",
      (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy($"lang").orderBy($"n".desc, $"token")
        Tables(s, dir, "documents")
          .select($"lang", explode(split(trim($"text"), "\\s+")).as("token"))
          .groupBy($"lang", $"token").agg(count(lit(1)).as("n"))
          .withColumn("rnk", row_number().over(w))
          .filter($"rnk" <= 3)
          .select($"lang", $"rnk", $"token", $"n")
          .orderBy($"lang", $"rnk")
      },
      Some("""
        WITH tok AS (
          SELECT lang, unnest(regexp_split_to_array(trim(text), '\s+')) AS token
          FROM documents),
        cnt AS (SELECT lang, token, COUNT(*) AS n FROM tok GROUP BY lang, token),
        rnk AS (SELECT lang, token, n,
                       ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, token) AS rnk
                FROM cnt)
        SELECT lang, rnk, token, n FROM rnk WHERE rnk <= 3
        ORDER BY lang, rnk""")),

    // ----------------------------------------------------------------- t9
    // Repetition signals (the other half of Gopher's rule filters, §A1.1:
    // "fraction of characters in the most common n-gram"): per document,
    // the most frequent word-2-gram (deterministic tie-break), the
    // fraction of all 2-gram slots it covers, and the distinct-2-gram
    // ratio. Duplicate-preserving bigrams come from a typed flatMap (the
    // Shingles rationale — HOFs are CodegenFallback), then one
    // groupBy(doc, bigram) + per-doc window argmax. Docs with <2 tokens
    // have no bigrams and drop from both sides. The totals (sum/count of
    // bigrams per doc) come from WINDOW aggregates over the same counts
    // frame, not a second aggregation + self-join: both window specs
    // share the doc_id partitioning, so the whole query is ONE
    // scan→flatMap→exchange chain — no double compute (the r4 defect)
    // and no persist (measured slower here: materializing millions of
    // (doc,bigram,n) rows costs more than the recompute it saves).
    QuerySpec(
      "t9_repetition_signals",
      (s, dir) => {
        import s.implicits._
        val bigrams = Tables(s, dir, "documents")
          .select($"doc_id", $"text").as[(Long, String)]
          .flatMap { case (id, text) =>
            if (text == null) Iterator.empty
            else {
              val toks = text.trim.split("\\s+")
              (0 until toks.length - 1).iterator.map(i =>
                (id, toks(i) + " " + toks(i + 1)))
            }
          }.toDF("doc_id", "bigram")
        val counts = bigrams.groupBy($"doc_id", $"bigram").agg(count(lit(1)).as("n"))
        val wDoc = Window.partitionBy($"doc_id")
        val wOrd = Window.partitionBy($"doc_id").orderBy($"n".desc, $"bigram")
        counts
          .withColumn("total", sum($"n").over(wDoc))
          .withColumn("n_distinct", count(lit(1)).over(wDoc))
          .withColumn("rk", row_number().over(wOrd))
          .filter($"rk" === 1)
          .select(
            $"doc_id",
            $"bigram".as("top_bigram"),
            $"n".as("top_n"),
            ($"n".cast("double") / $"total").as("top_frac"),
            ($"n_distinct".cast("double") / $"total").as("distinct_ratio"))
          .orderBy($"doc_id")
      },
      Some(raw"""
        WITH b AS (
          SELECT doc_id,
                 unnest(list_transform(
                   generate_series(1, greatest(len(regexp_split_to_array(trim(text), '\s+')) - 1, 0)),
                   i -> regexp_split_to_array(trim(text), '\s+')[i] || ' ' ||
                        regexp_split_to_array(trim(text), '\s+')[i+1])) AS bigram
          FROM documents),
        cnt AS (SELECT doc_id, bigram, CAST(COUNT(*) AS BIGINT) AS n
                FROM b GROUP BY doc_id, bigram),
        tot AS (SELECT doc_id, CAST(SUM(n) AS BIGINT) AS total,
                       CAST(COUNT(*) AS BIGINT) AS n_distinct
                FROM cnt GROUP BY doc_id),
        top AS (SELECT doc_id, bigram, n,
                       ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY n DESC, bigram) AS rk
                FROM cnt)
        SELECT t.doc_id, t.bigram AS top_bigram, t.n AS top_n,
               CAST(t.n AS DOUBLE) / tt.total AS top_frac,
               CAST(tt.n_distinct AS DOUBLE) / tt.total AS distinct_ratio
        FROM top t JOIN tot tt ON t.doc_id = tt.doc_id
        WHERE t.rk = 1 ORDER BY t.doc_id""")),

    // ----------------------------------------------------------------- t8
    // Language identification (the n-gram-heuristic classifier t4 builds
    // profiles for): score each document's DISTINCT tokens against the
    // top-20-token profile of every language and take the argmax with a
    // deterministic tie-break. The profile table is tiny (langs × 20) and
    // broadcasts; at 100 TB the per-doc scoring is one explode + broadcast
    // join + partial-aggregated groupBy — no corpus-size shuffle beyond
    // the per-doc score rows. `correct` compares against the ground-truth
    // lang column; docs hitting no profile token drop from both sides.
    QuerySpec(
      "t8_lang_id",
      (s, dir) => {
        import s.implicits._
        val docs = Tables(s, dir, "documents")
        val allToks = docs.select($"lang",
          explode(split(trim($"text"), "\\s+")).as("token"))
        val wProf = Window.partitionBy($"lang").orderBy($"n".desc, $"token")
        val profile = allToks.groupBy($"lang", $"token").agg(count(lit(1)).as("n"))
          .withColumn("rnk", row_number().over(wProf)).filter($"rnk" <= 20)
          .select($"lang".as("cand_lang"), $"token")
        val docToks = docs.select($"doc_id", $"lang",
          explode(array_distinct(split(trim($"text"), "\\s+"))).as("token"))
        val scores = docToks.join(broadcast(profile), "token")
          .groupBy($"doc_id", $"lang", $"cand_lang").agg(count(lit(1)).as("score"))
        val wBest = Window.partitionBy($"doc_id").orderBy($"score".desc, $"cand_lang")
        scores.withColumn("rk", row_number().over(wBest)).filter($"rk" === 1)
          .select($"doc_id", $"cand_lang".as("predicted_lang"), $"score",
            ($"cand_lang" === $"lang").as("correct"))
          .orderBy($"doc_id")
      },
      Some(raw"""
        WITH tok AS (
          SELECT doc_id, lang, unnest(regexp_split_to_array(trim(text), '\s+')) AS token
          FROM documents),
        cnt AS (SELECT lang, token, COUNT(*) AS n FROM tok GROUP BY lang, token),
        prof AS (
          SELECT lang AS cand_lang, token FROM (
            SELECT lang, token,
                   ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, token) AS rnk
            FROM cnt) WHERE rnk <= 20),
        dtok AS (
          SELECT doc_id, lang,
                 unnest(list_distinct(regexp_split_to_array(trim(text), '\s+'))) AS token
          FROM documents),
        sc AS (
          SELECT d.doc_id, d.lang, p.cand_lang, CAST(COUNT(*) AS BIGINT) AS score
          FROM dtok d JOIN prof p ON d.token = p.token
          GROUP BY d.doc_id, d.lang, p.cand_lang),
        best AS (
          SELECT doc_id, lang, cand_lang, score,
                 ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, cand_lang) AS rk
          FROM sc)
        SELECT doc_id, cand_lang AS predicted_lang, score, cand_lang = lang AS correct
        FROM best WHERE rk = 1 ORDER BY doc_id""")),

    // ----------------------------------------------------------------- t7
    // Blocklist scrubbing (the PII/term-redaction shape used by CCNet/
    // Dolma rule filters): replace blocklisted terms with a redaction
    // marker, count the hits, ship the scrubbed text. Pure regexp_replace/
    // regexp_count — codegen'd, single scan, embarrassingly parallel; the
    // same plan carries a real PII lexicon at 100 TB (the corpus here has
    // no emails/URLs, so the blocklist models the lexicon).
    QuerySpec(
      "t7_blocklist_scrub",
      (s, dir) => {
        import s.implicits._
        val pat = "\\b(customer|supplier|orders?)\\b"
        Tables(s, dir, "documents")
          .select(
            $"doc_id",
            regexp_count($"text", lit(pat)).cast("long").as("n_redacted"),
            regexp_replace($"text", pat, "[REDACTED]").as("scrubbed"))
          .filter($"n_redacted" > 0)
          .orderBy($"doc_id")
      },
      Some(raw"""
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, '\b(customer|supplier|orders?)\b')) AS BIGINT) AS n_redacted,
               regexp_replace(text, '\b(customer|supplier|orders?)\b', '[REDACTED]', 'g') AS scrubbed
        FROM documents
        WHERE len(regexp_extract_all(text, '\b(customer|supplier|orders?)\b')) > 0
        ORDER BY doc_id""")),

    // ----------------------------------------------------------------- t5
    // Document fingerprint: rolling polynomial hash over the text, plus a
    // prefix fingerprint (first 32 chars) — the cheap shard-level dedup key.
    QuerySpec(
      "t5_doc_fingerprint",
      (s, dir) => {
        import s.implicits._
        Tables(s, dir, "documents")
          .select($"doc_id", $"text").as[(Long, String)]
          .map { case (id, text) =>
            // null text → null fingerprints, like the oracle's fold over NULL
            if (text == null) (id, None, None)
            else {
              val prefix32 = text.substring(0, math.min(32, text.length))
              (id, Some(polyHashJvm(text)), Some(polyHashJvm(prefix32)))
            }
          }
          .toDF("doc_id", "fingerprint", "prefix_fp")
          .orderBy($"doc_id")
      },
      Some(s"""
        WITH p AS (SELECT doc_id, text, substring(text, 1, 32) AS prefix32 FROM documents)
        SELECT doc_id,
               ${polyHashSql("text")} AS fingerprint,
               ${polyHashSql("prefix32")} AS prefix_fp
        FROM p ORDER BY doc_id""")),

    // ---------------------------------------------------------------- t10
    // Deterministic stratified sampling — every training-data pipeline's
    // "take k docs per stratum, reproducibly" step. The sampling key is
    // md5(doc_id || salt): identical builtin in Spark and DuckDB, so the
    // oracle checks the EXACT sample, not just counts. One shuffle on the
    // stratum (the window partition); rank <= k prunes before any
    // downstream work. At 100 TB the same plan holds — the window sorts
    // within strata only, and k rows per stratum leave the stage.
    QuerySpec(
      "t10_stratified_sample",
      (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy($"lang").orderBy($"h", $"doc_id")
        Tables(s, dir, "documents")
          .select($"doc_id", $"lang",
            md5(concat($"doc_id".cast("string"), lit(":graft5"))).as("h"))
          .withColumn("rk", row_number().over(w))
          .filter($"rk" <= 5)
          .select($"lang", $"rk".cast("long").as("rk"), $"doc_id", $"h")
          .orderBy($"lang", $"rk")
      },
      Some("""
        WITH h AS (
          SELECT doc_id, lang,
                 md5(CAST(doc_id AS VARCHAR) || ':graft5') AS h
          FROM documents),
        r AS (
          SELECT lang, doc_id, h,
                 ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rk
          FROM h)
        SELECT lang, CAST(rk AS BIGINT) AS rk, doc_id, h
        FROM r WHERE rk <= 5 ORDER BY lang, rk""")),

    // ---------------------------------------------------------------- t11
    // Exact per-stratum length quantiles — where a pipeline's length-filter
    // thresholds come from. Deliberately EXACT discrete quantiles (value at
    // row ceil(q·n) of the stratum's sorted order), not percentile_approx:
    // approx sketches differ across engines, exact selection is
    // oracle-deterministic. One shuffle on the stratum; the window sorts
    // within strata only.
    QuerySpec(
      "t11_length_quantiles",
      (s, dir) => {
        import s.implicits._
        val toks = size(split(trim($"text"), "\\s+")).cast("long")
        val w = Window.partitionBy($"lang").orderBy($"n_tokens", $"doc_id")
        val ranked = Tables(s, dir, "documents")
          .filter($"text".isNotNull)
          .select($"doc_id", $"lang", toks.as("n_tokens"))
          .withColumn("rk", row_number().over(w))
          .withColumn("n", count(lit(1)).over(Window.partitionBy($"lang")))
        ranked
          .groupBy($"lang").agg(
            max($"n").as("n_docs"),
            max(when($"rk" === ceil($"n" * 0.5), $"n_tokens")).as("p50_tokens"),
            max(when($"rk" === ceil($"n" * 0.9), $"n_tokens")).as("p90_tokens"),
            min($"n_tokens").as("min_tokens"),
            max($"n_tokens").as("max_tokens"))
          .orderBy($"lang")
      },
      Some(raw"""
        WITH t AS (
          SELECT doc_id, lang,
                 CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
          FROM documents WHERE text IS NOT NULL),
        r AS (
          SELECT lang, doc_id, n_tokens,
                 ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_tokens, doc_id) AS rk,
                 COUNT(*) OVER (PARTITION BY lang) AS n
          FROM t)
        SELECT lang,
               CAST(MAX(n) AS BIGINT) AS n_docs,
               MAX(CASE WHEN rk = CAST(CEIL(n * 0.5) AS BIGINT) THEN n_tokens END) AS p50_tokens,
               MAX(CASE WHEN rk = CAST(CEIL(n * 0.9) AS BIGINT) THEN n_tokens END) AS p90_tokens,
               MIN(n_tokens) AS min_tokens,
               MAX(n_tokens) AS max_tokens
        FROM r GROUP BY lang ORDER BY lang""")),

    // ---------------------------------------------------------------- t12
    // TF-IDF-style salient terms, log-free: score = tf · N / df uses one
    // integer multiply and one divide, so the double is bit-identical in
    // both engines (log-based idf would accumulate ulp differences).
    // Relational shape: token explode → per-(doc,term) tf → per-term df
    // (broadcast-sized at any corpus: |vocab| ≪ |corpus|) → per-doc window
    // top-3. The df frame is the classic map-side-join dimension.
    QuerySpec(
      "t12_salient_terms",
      (s, dir) => {
        import s.implicits._
        val docs = Tables(s, dir, "documents").filter($"text".isNotNull)
        val n = docs.count()
        val tokens = docs
          .select($"doc_id", explode(split(trim($"text"), "\\s+")).as("term"))
        // tf only for the projected doc slice (the filter pushes below the
        // aggregation and window); df must stay corpus-wide — that's the
        // statistic — and broadcasts at vocab size
        val tf = tokens.filter($"doc_id" < 100)
          .groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
        val df = tokens.select($"doc_id", $"term").distinct()
          .groupBy($"term").agg(count(lit(1)).as("df"))
        val w = Window.partitionBy($"doc_id")
          .orderBy(($"tf" * lit(n) / $"df").desc, $"term")
        tf.join(broadcast(df), "term")
          .withColumn("score", $"tf" * lit(n) / $"df")
          .withColumn("rk", row_number().over(w))
          .filter($"rk" <= 3)
          .select($"doc_id", $"rk".cast("long").as("rk"), $"term", $"tf", $"df",
            round($"score", 6).as("score"))
          .orderBy($"doc_id", $"rk")
      },
      Some(raw"""
        WITH docs AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
        n AS (SELECT COUNT(*) AS n FROM docs),
        tok AS (
          SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS term
          FROM docs),
        tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM tok GROUP BY doc_id, term),
        df AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df FROM tok GROUP BY term),
        sc AS (
          SELECT tf.doc_id, tf.term, tf.tf, df.df,
                 tf.tf * (SELECT n FROM n) / CAST(df.df AS DOUBLE) AS score
          FROM tf JOIN df USING (term)),
        r AS (
          SELECT doc_id, term, tf, df, score,
                 ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rk
          FROM sc)
        SELECT doc_id, CAST(rk AS BIGINT) AS rk, term, tf, df, ROUND(score, 6) AS score
        FROM r WHERE rk <= 3 AND doc_id < 100 ORDER BY doc_id, rk""")),

    // ---------------------------------------------------------------- t13
    // PII detection + redaction (the Dolma/CCNet pre-training scrub:
    // emails, IPv4 addresses, phone numbers → typed markers, with per-doc
    // hit counts kept for filtering stats). The corpus has no PII, so the
    // raw column is augmented deterministically from doc_id — the same
    // synthesized-fixture pattern m1–m4/k1 use — and the DuckDB oracle
    // recomputes the identical augmentation, counts, and scrubbed
    // fingerprint. Patterns stay in the RE2∩java.util.regex common
    // dialect (character classes, bounded repeats, \b) so both engines
    // agree byte-for-byte. Pure regexp_count/regexp_replace: codegen'd
    // single scan, zero shuffles before the final sort — the 100 TB scrub
    // is embarrassingly parallel and this plan already is.
    QuerySpec(
      "t13_pii_scrub",
      (s, dir) => {
        import s.implicits._
        val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
        val ipRe = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
        val phoneRe = "\\+\\d-\\d{3}-\\d{4}"
        val raw = concat(
          coalesce($"text", lit("")), lit(" contact user"),
          $"doc_id".cast("string"), lit("@mail"),
          ($"doc_id" % 7).cast("string"), lit(".example.com from 10."),
          ($"doc_id" % 200).cast("string"), lit(".0."),
          ($"doc_id" % 250).cast("string"), lit(" call +1-555-"),
          lpad(($"doc_id" % 10000).cast("string"), 4, "0"))
        Tables(s, dir, "documents")
          .select($"doc_id", raw.as("raw"))
          .withColumn("scrubbed",
            regexp_replace(regexp_replace(regexp_replace($"raw",
              lit(emailRe), lit("<EMAIL>")),
              lit(ipRe), lit("<IP>")),
              lit(phoneRe), lit("<PHONE>")))
          .select(
            $"doc_id",
            regexp_count($"raw", lit(emailRe)).cast("long").as("n_emails"),
            regexp_count($"raw", lit(ipRe)).cast("long").as("n_ips"),
            regexp_count($"raw", lit(phoneRe)).cast("long").as("n_phones"),
            length($"scrubbed").cast("long").as("scrub_len"),
            md5($"scrubbed").as("fp"))
          .orderBy($"doc_id")
      },
      Some(raw"""
        WITH aug AS (
          SELECT doc_id,
            coalesce(text, '') || ' contact user' || CAST(doc_id AS VARCHAR) ||
            '@mail' || CAST(doc_id % 7 AS VARCHAR) || '.example.com from 10.' ||
            CAST(doc_id % 200 AS VARCHAR) || '.0.' || CAST(doc_id % 250 AS VARCHAR) ||
            ' call +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS raw
          FROM documents),
        s AS (
          SELECT doc_id, raw,
            regexp_replace(
              regexp_replace(
                regexp_replace(raw, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
              '\+\d-\d{3}-\d{4}', '<PHONE>', 'g') AS scrubbed
          FROM aug)
        SELECT doc_id,
          CAST(len(regexp_extract_all(raw, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
          CAST(len(regexp_extract_all(raw, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips,
          CAST(len(regexp_extract_all(raw, '\+\d-\d{3}-\d{4}')) AS BIGINT) AS n_phones,
          CAST(length(scrubbed) AS BIGINT) AS scrub_len,
          md5(scrubbed) AS fp
        FROM s ORDER BY doc_id""")),

    // ---------------------------------------------------------------- t14
    // De-stutter scrub — collapse CONSECUTIVE duplicate tokens, the
    // intra-document repetition REMOVAL step (t9 only measures it): the
    // standard cleanup for ASR/OCR-derived text and boilerplate stutter
    // ("the the", repeated watermarks). Pure per-row HOF work — narrow,
    // zero shuffles, embarrassingly parallel at 100 TB. Each token
    // compares to its predecessor in the ORIGINAL sequence, so a run of
    // k equal tokens keeps exactly its first. The corpus demonstrably
    // exercises it: 914 collapses at sf0.01. The oracle re-derives the
    // cleaned text independently (DuckDB lambda indexes are 1-based,
    // Spark's 0-based — both read "previous element") and pins the md5.
    QuerySpec(
      "t14_destutter",
      (s, dir) => {
        import s.implicits._
        Tables(s, dir, "documents")
          .withColumn("ws", split($"text", " "))
          .withColumn("kept", expr(
            "filter(ws, (w, i) -> i = 0 OR w != element_at(ws, i))"))
          .select(
            $"doc_id",
            size($"ws").cast("long").as("n_tokens"),
            (size($"ws") - size($"kept")).cast("long").as("n_collapsed"),
            md5(array_join($"kept", " ")).as("clean_fp"))
          .orderBy($"doc_id")
      },
      Some("""
        WITH w AS (
          SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        k AS (
          SELECT doc_id, ws,
                 list_filter(ws, (x, i) -> i = 1 OR x != ws[i - 1]) AS kept
          FROM w)
        SELECT doc_id,
               CAST(len(ws) AS BIGINT) AS n_tokens,
               CAST(len(ws) - len(kept) AS BIGINT) AS n_collapsed,
               md5(array_to_string(kept, ' ')) AS clean_fp
        FROM k ORDER BY doc_id""")),

    // ---------------------------------------------------------------- t15
    // Context-window chunking — split every document into 64-token
    // chunks at stride 48 (16-token overlap), the step between cleaning
    // and shard packing (p3) that turns long documents into
    // training-window-sized pieces without losing cross-boundary
    // context. Pure per-row HOF fan-out: sequence→transform→slice runs
    // narrow (each doc emits ceil(n/48) rows, no shuffle before the
    // presentation sort), so at 100 TB chunking rides the same scan as
    // the quality filters. The oracle re-derives every chunk's exact
    // fingerprint via DuckDB list slicing.
    QuerySpec(
      "t15_sliding_chunks",
      (s, dir) => {
        import s.implicits._
        Tables(s, dir, "documents")
          .withColumn("ws", split($"text", " "))
          .withColumn("n", size($"ws"))
          .select($"doc_id", posexplode(expr(
            "transform(sequence(0, (n - 1) div 48), i -> slice(ws, i * 48 + 1, 64))"))
            .as(Seq("chunk_idx", "chunk")))
          .select(
            $"doc_id",
            $"chunk_idx".cast("long").as("chunk_idx"),
            size($"chunk").cast("long").as("n_tokens"),
            md5(array_join($"chunk", " ")).as("chunk_fp"))
          .orderBy($"doc_id", $"chunk_idx")
      },
      Some("""
        WITH w AS (
          SELECT doc_id, string_split(text, ' ') AS ws,
                 len(string_split(text, ' ')) AS n
          FROM documents),
        c AS (
          SELECT doc_id, i AS chunk_idx,
                 ws[(i*48+1) : least(i*48+64, n)] AS chunk
          FROM w, UNNEST(range(0, ((n - 1) // 48) + 1)) AS t(i))
        SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
               CAST(len(chunk) AS BIGINT) AS n_tokens,
               md5(array_to_string(chunk, ' ')) AS chunk_fp
        FROM c ORDER BY doc_id, chunk_idx""")),

    // ---------------------------------------------------------------- t16
    // Unigram surprisal — the CCNet/KenLM-style perplexity quality
    // filter, self-trained: score every document by its average
    // -ln p(token) under the CORPUS unigram distribution. t6's flags are
    // hard gates; this is the soft score real pipelines threshold or
    // sample against (high surprisal ⇒ gibberish/rare-token soup, low ⇒
    // boilerplate). Shape at 100 TB: the vocabulary aggregate is the only
    // corpus-wide shuffle and is BOUNDED (natural-language vocab, not
    // corpus size), so it broadcasts back onto the token stream —
    // scoring is then map-side. The token frame persists across its two
    // consumers (vocab build + scoring), the d2 lineage rule, and is
    // released via Materialize.thenRelease before return. ln differs
    // by ≤2 ulp between libms, so the average rounds at 6dp — far above
    // the ~1e-14 accumulated error, far below any data distinction.
    QuerySpec(
      "t16_unigram_surprisal",
      (s, dir) => {
        import s.implicits._
        val toks = Tables(s, dir, "documents")
          .select($"doc_id", explode(split($"text", " ")).as("tok"))
          .persist()
        val vocab = toks.groupBy($"tok").agg(count(lit(1)).as("n"))
        val tot = vocab.agg(sum($"n").as("total"))
        val scored = toks.join(broadcast(vocab), "tok")
          .crossJoin(broadcast(tot))
          .select($"doc_id",
            (-log($"n".cast("double") / $"total".cast("double"))).as("s"))
          .groupBy($"doc_id")
          .agg(count(lit(1)).cast("long").as("n_tokens"),
            round(avg($"s"), 6).as("avg_surprisal"))
        graft.Materialize.thenRelease(scored, toks).orderBy($"doc_id")
      },
      Some("""
        WITH toks AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        vocab AS (SELECT tok, COUNT(*) AS n FROM toks GROUP BY tok),
        tot AS (SELECT SUM(n) AS total FROM vocab),
        scored AS (
          SELECT t.doc_id,
                 -ln(CAST(v.n AS DOUBLE) / CAST((SELECT total FROM tot) AS DOUBLE)) AS s
          FROM toks t JOIN vocab v USING (tok))
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
               ROUND(AVG(s), 6) AS avg_surprisal
        FROM scored GROUP BY doc_id ORDER BY doc_id""")),

    // ---------------------------------------------------------------- t17
    // BM25 retrieval (k1=1.2, b=0.75): the query-driven scorer a curation
    // pipeline runs for decontamination candidate mining and targeted
    // sampling. Relational shape at 100 TB: ONE corpus scan; dl comes
    // map-side from the token array (no corpus-wide length shuffle); the
    // explode filters to the query terms BEFORE any aggregation, so the
    // wide stages only carry docs-containing-query-terms; per-term df and
    // the (N, avgdl) scalars are broadcast-sized. Determinism: ln follows
    // the t16 argument (<= 2 ulp between libms, rounded at 6dp far above
    // the accumulated error), and every float constant is written as the
    // SAME literal in both engines (2.2, 1.2, 0.25, 0.75) rather than
    // derived (k1+1 etc.), so no representation drift enters the score.
    QuerySpec(
      "t17_bm25_retrieval",
      (s, dir) => {
        import s.implicits._
        bm25Scores(s, dir, Seq("join", "vector", "window"))
          .orderBy($"bm25".desc, $"doc_id")
          .limit(20)
      },
      Some(raw"""
        WITH d AS (
          SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
          FROM documents WHERE text IS NOT NULL),
        dl AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS dl FROM d),
        stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl),
        tfq AS (
          SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf, MIN(dl) AS dl
          FROM (SELECT doc_id, dl, unnest(toks) AS term FROM dl)
          WHERE term IN ('join', 'vector', 'window')
          GROUP BY doc_id, term),
        dfq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tfq GROUP BY term),
        sc AS (
          SELECT t.doc_id,
                 ln((s.n_docs - f.df + 0.5) / (f.df + 0.5) + 1.0)
                   * (t.tf * 2.2)
                   / (t.tf + 1.2 * (0.25 + 0.75 * t.dl / s.avgdl)) AS w
          FROM tfq t JOIN dfq f USING (term), stats s)
        SELECT doc_id, ROUND(SUM(w), 6) AS bm25,
               CAST(COUNT(*) AS BIGINT) AS n_terms_hit
        FROM sc GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 20""")),

    // ----------------------------------------------------------------- t18
    // Unicode NFC canonicalization via the native graft_nfc expression
    // (functions/StringExpressions.scala) — the pass every byte-keyed
    // stage (d1 sha2, d2/d4 shingles, d9 passages, p2 md5 routing) needs
    // FIRST on a corpus mixing composed/decomposed forms, or visually
    // identical documents dedup apart. The fixture text is pure ASCII
    // (already NFC), so each doc plants a decomposed sequence
    // deterministically: doc_id%3+1 COMBINING ACUTE ACCENTs (U+0301)
    // after a final 'e' — exercising plain composition (1 mark → é),
    // compose-with-leftover (2-3 marks → é + trailing marks), and the
    // all-ASCII tail's zero-alloc fast path. The oracle replays it with
    // DuckDB's nfc_normalize, so the char-count contraction AND the
    // exact normalized bytes (md5) are engine-cross-checked. One scan,
    // map-side only, whole-stage codegen end to end.
    QuerySpec(
      "t18_nfc_normalize",
      (s, dir) => {
        import s.implicits._
        import graft.functions.GraftStringFunctions.nfc
        val combining = "\u0301" // COMBINING ACUTE ACCENT
        val aug = concat(lit("Cafe"),
          expr(s"repeat('$combining', CAST(doc_id % 3 + 1 AS INT))"),
          lit(" "), $"text")
        Tables(s, dir, "documents").filter($"text".isNotNull)
          .select($"doc_id", aug.as("aug"))
          .select($"doc_id",
            length($"aug").cast("long").as("len_raw"),
            length(nfc($"aug")).cast("long").as("len_nfc"),
            md5(nfc($"aug")).as("nfc_hash"))
          .orderBy($"doc_id")
      },
      Some(raw"""
        WITH a AS (
          SELECT doc_id,
                 'Cafe' || repeat(chr(769), CAST(doc_id % 3 + 1 AS INTEGER)) ||
                 ' ' || text AS aug
          FROM documents WHERE text IS NOT NULL)
        SELECT doc_id,
               CAST(length(aug) AS BIGINT) AS len_raw,
               CAST(length(nfc_normalize(aug)) AS BIGINT) AS len_nfc,
               md5(nfc_normalize(aug)) AS nfc_hash
        FROM a ORDER BY doc_id""")),

    // ---------------------------------------------------------------- t19
    // Bigram-LM perplexity scoring — t16's unigram surprisal upgraded to
    // a conditional model: train a corpus-wide MLE bigram model
    // P(w2|w1) = c(w1,w2)/c(w1,·) and score each document by the mean
    // negative log-probability of its bigram OCCURRENCES (the quality
    // signal CCNet/KenLM-style filters rank on; every observed bigram has
    // nonzero MLE probability, so no smoothing constant enters the
    // oracle). Relational shape at 100 TB: the bigram lineage is computed
    // ONCE (persisted, released after); the model is a groupBy over
    // (w1,w2) with map-side partial counts, the context marginal c(w1,·)
    // is a second partial-agg over the SAME frame; scoring pre-aggregates
    // per-(doc,bigram) counts BEFORE the model join, so the shuffle keyed
    // on the bigram carries |distinct doc-bigrams|, not token positions,
    // and the final per-doc rollup is one doc_id-keyed exchange. No
    // broadcast assumption: a web-scale bigram vocabulary outgrows any
    // driver, so the model join is a plain hash-partitioned equi-join.
    // Determinism: counts are exact longs; ln ratios match ≤2 ulp across
    // libms and 6-dp rounding absorbs it (the t16/t17 argument).
    QuerySpec(
      "t19_bigram_lm_perplexity",
      (s, dir) => {
        import s.implicits._
        val bigrams = Tables(s, dir, "documents")
          .select($"doc_id", $"text").as[(Long, String)]
          .flatMap { case (id, text) =>
            if (text == null) Iterator.empty
            else {
              val toks = text.trim.split("\\s+")
              (0 until toks.length - 1).iterator.map(i =>
                (id, toks(i), toks(i + 1)))
            }
          }.toDF("doc_id", "w1", "w2")
          .persist()
        val model = bigrams.groupBy($"w1", $"w2")
          .agg(count(lit(1)).as("c12"))
        val context = bigrams.groupBy($"w1")
          .agg(count(lit(1)).as("c1"))
        val docBigrams = bigrams.groupBy($"doc_id", $"w1", $"w2")
          .agg(count(lit(1)).as("occ"))
        val scored = docBigrams
          .join(model, Seq("w1", "w2"))
          .join(context, Seq("w1"))
          .groupBy($"doc_id")
          .agg(
            sum($"occ").cast("long").as("n_bigrams"),
            round(
              sum(-log($"c12".cast("double") / $"c1".cast("double")) * $"occ")
                / sum($"occ"), 6).as("avg_nll"))
        graft.Materialize.thenRelease(scored, bigrams).orderBy($"doc_id")
      },
      Some(raw"""
        WITH b AS (
          SELECT doc_id,
                 unnest(list_transform(
                   generate_series(1, greatest(len(regexp_split_to_array(trim(text), '\s+')) - 1, 0)),
                   i -> struct_pack(
                     w1 := regexp_split_to_array(trim(text), '\s+')[i],
                     w2 := regexp_split_to_array(trim(text), '\s+')[i+1]))) AS bg
          FROM documents WHERE text IS NOT NULL),
        bb AS (SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2 FROM b),
        model AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
                  FROM bb GROUP BY w1, w2),
        ctx AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS c1 FROM bb GROUP BY w1),
        db AS (SELECT doc_id, w1, w2, CAST(COUNT(*) AS BIGINT) AS occ
               FROM bb GROUP BY doc_id, w1, w2)
        SELECT db.doc_id,
               CAST(SUM(occ) AS BIGINT) AS n_bigrams,
               ROUND(SUM(-ln(CAST(c12 AS DOUBLE) / CAST(c1 AS DOUBLE)) * occ)
                     / SUM(occ), 6) AS avg_nll
        FROM db JOIN model USING (w1, w2) JOIN ctx USING (w1)
        GROUP BY db.doc_id ORDER BY db.doc_id""")),

    // ---------------------------------------------------------------- t20
    // Zipf's-law slope per language: OLS regression of ln(frequency) on
    // ln(rank) over each language's top-100 token ranks — the standard
    // corpus-health diagnostic (natural language tracks slope ≈ −1;
    // boilerplate-heavy or synthetic text drifts shallow/steep). 100 TB
    // shape: ONE token-explode scan into a (lang, tok) hash aggregate
    // with map-side partials — the shuffled frame is VOCABULARY-sized,
    // not corpus-sized — then a per-lang window over that compact vocab
    // frame picks ranks, and regr_slope/regr_intercept reduce 100 rows
    // per lang. Ranks tie-break by token so the top-100 frontier set is
    // identical on both engines; ln accumulates ≤2 ulp apart between
    // libms, far under the 6 dp round.
    QuerySpec(
      "t20_zipf_slope",
      (s, dir) => {
        import s.implicits._
        val freq = Tables(s, dir, "documents")
          .select($"lang", explode(split($"text", " ")).as("tok"))
          .groupBy($"lang", $"tok").agg(count(lit(1)).as("n"))
        val ranked = freq
          .withColumn("rank",
            row_number().over(Window.partitionBy($"lang").orderBy($"n".desc, $"tok")))
          .filter($"rank" <= 100)
        ranked.groupBy($"lang")
          .agg(
            count(lit(1)).cast("long").as("n_ranks"),
            round(regr_slope(log($"n".cast("double")), log($"rank".cast("double"))), 6)
              .as("zipf_slope"),
            round(regr_intercept(log($"n".cast("double")), log($"rank".cast("double"))), 6)
              .as("zipf_intercept"))
          .orderBy($"lang")
      },
      Some("""
        WITH toks AS (
          SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents),
        freq AS (SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS n
                 FROM toks GROUP BY lang, tok),
        ranked AS (
          SELECT lang, n,
                 ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, tok) AS rank
          FROM freq)
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_ranks,
               ROUND(regr_slope(ln(CAST(n AS DOUBLE)), ln(CAST(rank AS DOUBLE))), 6)
                 AS zipf_slope,
               ROUND(regr_intercept(ln(CAST(n AS DOUBLE)), ln(CAST(rank AS DOUBLE))), 6)
                 AS zipf_intercept
        FROM ranked WHERE rank <= 100
        GROUP BY lang ORDER BY lang""")),

    // ---------------------------------------------------------------- t21
    // Chi-squared source×lang association — the corpus-bias audit a
    // multilingual pipeline runs before fixing sampling weights: are
    // languages distributed independently of source, or does some source
    // over-contribute a language? Full Pearson χ² over the COMPLETE
    // contingency grid (zero-observed cells included — they still carry
    // expected mass), plus Cramér's V for a size-normalized effect. The
    // plan is a single corpus scan into a (source, lang) hash aggregate
    // (persisted — its four consumers would otherwise each rescan the
    // corpus); everything after is arithmetic over the CARDINALITY-sized
    // grid (sources × langs, broadcast cross of two tiny marginal
    // frames) — at 100 TB the corpus is touched once and the χ² itself
    // costs nothing. Marginals and observed counts stay exact BIGINTs;
    // only the final χ²/V are doubles, ROUND(·,6) against ~1e-12
    // sum-order noise.
    QuerySpec(
      "t21_chi2_source_lang",
      (s, dir) => {
        import s.implicits._
        val cells = Tables(s, dir, "documents")
          .groupBy($"source", $"lang").agg(count(lit(1)).as("o"))
          .persist()
        val srcTot = cells.groupBy($"source").agg(sum($"o").as("rt"))
        val langTot = cells.groupBy($"lang").agg(sum($"o").as("ct"))
        val tot = cells.agg(sum($"o").as("n"))
        val grid = broadcast(srcTot).crossJoin(broadcast(langTot))
          .crossJoin(broadcast(tot))
        val full = grid.join(cells, Seq("source", "lang"), "left")
          .select(
            $"source", $"lang", $"n",
            coalesce($"o", lit(0L)).as("o"),
            ($"rt".cast("double") * $"ct" / $"n").as("e"))
        val out = full.agg(
            countDistinct($"source").as("n_sources"),
            countDistinct($"lang").as("n_langs"),
            ((countDistinct($"source") - 1) * (countDistinct($"lang") - 1))
              .cast("long").as("dof"),
            round(sum(($"o" - $"e") * ($"o" - $"e") / $"e"), 6).as("chi2"),
            round(sqrt(
              sum(($"o" - $"e") * ($"o" - $"e") / $"e") /
                (max($"n") * least(countDistinct($"source") - 1,
                                   countDistinct($"lang") - 1))), 6)
              .as("cramers_v"))
        graft.Materialize.thenRelease(out, cells)
      },
      Some("""
        WITH cells AS (
          SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS o
          FROM documents GROUP BY source, lang),
        src AS (SELECT source, SUM(o) AS rt FROM cells GROUP BY source),
        lng AS (SELECT lang, SUM(o) AS ct FROM cells GROUP BY lang),
        tot AS (SELECT SUM(o) AS n FROM cells),
        grid AS (
          SELECT s.source, l.lang, s.rt, l.ct, (SELECT n FROM tot) AS n
          FROM src s CROSS JOIN lng l),
        fullg AS (
          SELECT g.source, g.lang, g.n, COALESCE(c.o, 0) AS o,
                 CAST(g.rt AS DOUBLE) * g.ct / g.n AS e
          FROM grid g LEFT JOIN cells c ON g.source = c.source AND g.lang = c.lang)
        SELECT CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
               CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
               CAST((COUNT(DISTINCT source) - 1) * (COUNT(DISTINCT lang) - 1) AS BIGINT) AS dof,
               ROUND(SUM((o - e) * (o - e) / e), 6) AS chi2,
               ROUND(sqrt(SUM((o - e) * (o - e) / e) /
                          (MAX(n) * least(COUNT(DISTINCT source) - 1,
                                          COUNT(DISTINCT lang) - 1))), 6) AS cramers_v
        FROM fullg""")),

    // ---------------------------------------------------------------- t22
    // Per-document character-distribution Shannon entropy — the
    // compression-adjacent quality signal (binary junk and repeated
    // boilerplate sit at the entropy extremes; filters band on it the
    // way t3/t6 band on ratios). Computed as H = log2(N) − Σc·log2(c)/N
    // so each engine sums ONE term per distinct character. The explode
    // is a narrow codegen'd generator and the (doc, char) aggregate's
    // map-side partials bound the exchange at alphabet-size rows per
    // doc per partition — the shuffle carries character HISTOGRAMS, not
    // character positions, which is what keeps a corpus-scale run
    // bandwidth-bound on the text scan rather than on a trillions-of-
    // rows exchange. ≤ ~80 double terms per doc ⇒ the 6 dp round
    // absorbs summation-order spread.
    QuerySpec(
      "t22_char_entropy",
      (s, dir) => {
        import s.implicits._
        Tables(s, dir, "documents")
          .filter($"text".isNotNull)
          .select($"doc_id", explode(split($"text", "")).as("ch"))
          .groupBy($"doc_id", $"ch").agg(count(lit(1)).as("c"))
          .groupBy($"doc_id")
          .agg(
            sum($"c").as("n_chars"),
            count(lit(1)).as("n_distinct_chars"),
            round(
              log2(sum($"c")) -
                sum($"c" * log2($"c")) / sum($"c"), 6).as("entropy_bits"))
          .orderBy($"doc_id")
      },
      Some("""
        WITH ch AS (
          SELECT doc_id, UNNEST(regexp_split_to_array(text, '')) AS ch
          FROM documents WHERE text IS NOT NULL),
        hist AS (
          SELECT doc_id, ch, CAST(COUNT(*) AS BIGINT) AS c
          FROM ch GROUP BY doc_id, ch)
        SELECT doc_id,
               CAST(SUM(c) AS BIGINT) AS n_chars,
               CAST(COUNT(*) AS BIGINT) AS n_distinct_chars,
               ROUND(log2(SUM(c)) - SUM(c * log2(c)) / SUM(c), 6)
                 AS entropy_bits
        FROM hist GROUP BY doc_id ORDER BY doc_id""")),

    // ---------------------------------------------------------------- t23
    // Flesch-style readability — the classic quality-filter heuristic
    // (reading-ease = 206.835 − 1.015·words/sentences −
    // 84.6·syllables/words) computed entirely from three regex-split
    // counts: whitespace words, [.!?]+ sentence breaks, [aeiouy]+ vowel
    // groups as the syllable proxy. Java and RE2-style split semantics
    // agree on leading/trailing empties with limit −1, so group counts
    // are size(split)−1 in BOTH engines and the score is the identical
    // double expression tree — exact to the 4-dp round. One codegen'd
    // narrow scan, zero shuffles before the presentation sort.
    QuerySpec(
      "t23_readability",
      (s, dir) => {
        import s.implicits._
        val words = size(split(trim($"text"), "\\s+")).cast("long")
        val sents = greatest(
          size(split($"text", "[.!?]+")) - 1, lit(1)).cast("long")
        val sylls = greatest(
          size(split(lower($"text"), "[aeiouy]+")) - 1, lit(1)).cast("long")
        Tables(s, dir, "documents")
          .filter($"text".isNotNull)
          .select($"doc_id", words.as("n_words"), sents.as("n_sentences"),
            sylls.as("n_syllables"))
          .withColumn("flesch", round(
            lit(206.835)
              - lit(1.015) * ($"n_words".cast("double") / $"n_sentences")
              - lit(84.6) * ($"n_syllables".cast("double") / $"n_words"), 4))
          .orderBy($"doc_id")
      },
      Some(raw"""
        WITH c AS (
          SELECT doc_id,
                 CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
                   AS n_words,
                 CAST(greatest(len(regexp_split_to_array(text, '[.!?]+')) - 1,
                               1) AS BIGINT) AS n_sentences,
                 CAST(greatest(len(regexp_split_to_array(lower(text),
                               '[aeiouy]+')) - 1, 1) AS BIGINT) AS n_syllables
          FROM documents WHERE text IS NOT NULL)
        SELECT doc_id, n_words, n_sentences, n_syllables,
               ROUND(206.835
                     - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
                     - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words), 4)
                 AS flesch
        FROM c ORDER BY doc_id""")),

    // ---------------------------------------------------------------- t24
    // Per-source distribution drift — KL(source ∥ corpus) over unigram
    // token distributions, the monitoring statistic a production
    // pipeline alerts on when one ingestion source shifts domain
    // (t21's χ² asks "are source and language independent"; this asks
    // "how far is THIS source's token mix from the corpus"). Every
    // source token is by construction in the corpus vocabulary, so the
    // divergence has no zero-denominator terms. One (source, token)
    // aggregate with map-side partials — the shuffle carries the
    // per-source vocabulary, not token positions — then a vocab-keyed
    // join against the corpus marginal and a per-source sum; marginal
    // frames are vocabulary-sized. 6-dp round absorbs the summation-
    // order spread of the ~vocab-size double sum (the t20/t21 budget).
    QuerySpec(
      "t24_source_drift",
      (s, dir) => {
        import s.implicits._
        val tok = Tables(s, dir, "documents")
          .filter($"text".isNotNull)
          .select($"source",
            explode(split(lower(trim($"text")), "\\s+")).as("token"))
          .filter(length($"token") >= 1)
        val bySrc = tok.groupBy($"source", $"token")
          .agg(count(lit(1)).as("c")).persist()
        val srcTot = bySrc.groupBy($"source").agg(sum($"c").as("n_src"))
        val corpus = bySrc.groupBy($"token").agg(sum($"c").as("cc"))
        val corpusTot = corpus.agg(sum($"cc").as("n_corpus"))
        val out = bySrc
          .join(srcTot, "source")
          .join(corpus, "token")
          .crossJoin(broadcast(corpusTot))
          .groupBy($"source")
          .agg(
            max($"n_src").as("n_tokens"),
            round(sum(
              ($"c".cast("double") / $"n_src") *
                log2(($"c".cast("double") / $"n_src") /
                  ($"cc".cast("double") / $"n_corpus"))), 6).as("kl_bits"))
        graft.Materialize.thenRelease(out, bySrc).orderBy($"source")
      },
      Some(raw"""
        WITH tok AS (
          SELECT source,
                 UNNEST(regexp_split_to_array(lower(trim(text)), '\s+'))
                   AS token
          FROM documents WHERE text IS NOT NULL),
        t AS (SELECT source, token FROM tok WHERE len(token) >= 1),
        by_src AS (
          SELECT source, token, CAST(COUNT(*) AS BIGINT) AS c
          FROM t GROUP BY source, token),
        src_tot AS (
          SELECT source, SUM(c) AS n_src FROM by_src GROUP BY source),
        corpus AS (
          SELECT token, SUM(c) AS cc FROM by_src GROUP BY token),
        corpus_tot AS (SELECT SUM(cc) AS n_corpus FROM corpus)
        SELECT b.source,
               CAST(MAX(s.n_src) AS BIGINT) AS n_tokens,
               ROUND(SUM(
                 (CAST(b.c AS DOUBLE) / s.n_src) *
                 log2((CAST(b.c AS DOUBLE) / s.n_src) /
                      (CAST(co.cc AS DOUBLE) / (SELECT n_corpus FROM corpus_tot)))),
                 6) AS kl_bits
        FROM by_src b
        JOIN src_tot s ON b.source = s.source
        JOIN corpus co ON b.token = co.token
        GROUP BY b.source ORDER BY b.source""")),

    // ---------------------------------------------------------------- t25
    // Linear-model quality classifier — the fastText-style learned
    // keep/drop gate that sits between t6's hard rules and t16/t19's LM
    // scores in a real curation stack (CCNet/Dolma train a linear
    // classifier on curated-vs-crawl labels and threshold the score).
    // The model here is naive-Bayes log-odds — a CLOSED-FORM linear
    // classifier, so "training" is two aggregates and the oracle can
    // replay it exactly: label = curated sources (src0/src1) vs the
    // rest, per-token weight w_t = ln((np+1)/(P+V)) − ln((nn+1)/(N+V))
    // (Laplace-smoothed class-conditional log-odds), and a doc scores
    // the MEAN token log-odds. The class-prior bias term is deliberately
    // left out of the score: with a 1:9 curated:crawl prior it shifts
    // every doc by ln(1/9) ≈ −2.2 and a score>0 gate would keep nothing
    // — a keep/drop gate operates on CONTENT evidence, with the prior a
    // calibration constant the deployment threshold absorbs (exactly how
    // fastText quality gates are thresholded in practice). keep is cut
    // on the ROUNDED score (the t11 round-before-rank rule, so the
    // boundary is engine-stable); ln parity follows the t16 argument
    // (≤2 ulp, rounded at 6dp far above accumulated error).
    // Scale: exactly t8's broadcast-profile shape — the weight table is
    // VOCAB-sized (what a shipped fastText model is), built by one
    // token-level aggregate, broadcast back onto the token stream; the
    // scoring pass is map-side + one per-doc aggregate. Re-scoring a new
    // crawl with frozen weights is the same plan minus the training
    // aggregates.
    QuerySpec(
      "t25_quality_classifier",
      (s, dir) => {
        import s.implicits._
        val curated = Seq("src0", "src1")
        val docs = Tables(s, dir, "documents").filter($"text".isNotNull)
        val toks = docs
          .select($"doc_id", $"source", explode(split($"text", " ")).as("tok"))
          .persist()
        val counts = toks
          .withColumn("pos", when($"source".isin(curated: _*), 1L).otherwise(0L))
          .groupBy($"tok")
          .agg(sum($"pos").as("np"), sum(lit(1L) - $"pos").as("nn"))
        val totals = counts
          .agg(sum($"np").as("ptot"), sum($"nn").as("ntot"), count(lit(1)).as("v"))
        val weights = counts.crossJoin(broadcast(totals))
          .select($"tok",
            (log(($"np" + 1L).cast("double") / ($"ptot" + $"v").cast("double")) -
              log(($"nn" + 1L).cast("double") / ($"ntot" + $"v").cast("double"))).as("w"))
        val score = round($"sw" / $"n_tokens".cast("double"), 6)
        val scored = toks.join(broadcast(weights), "tok")
          .groupBy($"doc_id")
          .agg(count(lit(1)).as("n_tokens"), sum($"w").as("sw"))
          .select($"doc_id", $"n_tokens", score.as("score"), (score > 0.0).as("keep"))
        graft.Materialize.thenRelease(scored, toks).orderBy($"doc_id")
      },
      Some("""
        WITH d AS (
          SELECT doc_id, source, text FROM documents WHERE text IS NOT NULL),
        toks AS (
          SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok FROM d),
        counts AS (
          SELECT tok,
                 SUM(CASE WHEN source IN ('src0', 'src1') THEN 1 ELSE 0 END) AS np,
                 SUM(CASE WHEN source IN ('src0', 'src1') THEN 0 ELSE 1 END) AS nn
          FROM toks GROUP BY tok),
        tot AS (SELECT SUM(np) AS ptot, SUM(nn) AS ntot, COUNT(*) AS v FROM counts),
        w AS (
          SELECT tok,
                 ln(CAST(np + 1 AS DOUBLE) / CAST((SELECT ptot + v FROM tot) AS DOUBLE)) -
                 ln(CAST(nn + 1 AS DOUBLE) / CAST((SELECT ntot + v FROM tot) AS DOUBLE)) AS w
          FROM counts),
        sc AS (
          SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
                 SUM(w.w) AS raw
          FROM toks t JOIN w USING (tok) GROUP BY t.doc_id)
        SELECT doc_id, n_tokens,
               ROUND(raw / n_tokens, 6) AS score,
               ROUND(raw / n_tokens, 6) > 0 AS keep
        FROM sc ORDER BY doc_id""")),

    // ---------------------------------------------------------------- t26
    // Within-document repetition ratio — the Gopher/MassiveText
    // repetition rule family (Rae et al. 2021 §A1.1: drop docs whose
    // duplicate n-gram fraction exceeds a threshold), the strongest
    // cheap signal for boilerplate/SEO spam/generation loops. Per doc:
    // all word-trigram OCCURRENCES (multiplicity kept — the distinct
    // shingle forms d2/d4 use deliberately erase it, so Shingles grew a
    // multiset variant), the fraction of occurrences belonging to a
    // trigram seen more than once in that doc, and the keep/drop flag
    // cut on the ROUNDED fraction (the t11 round-before-rank rule).
    // Scale: gram generation is a doc-local flatMap; the ONE exchange
    // carries (doc_id, trigram) for in-group counting, partial-
    // aggregated map-side; the per-doc rollup rides the same doc_id
    // key. No corpus-wide state — this is the d9/d14 exchange shape at
    // trigram granularity.
    QuerySpec(
      "t26_repetition_ratio",
      (s, dir) => {
        import s.implicits._
        val docs = Tables(s, dir, "documents").filter($"text".isNotNull)
        val occ = Shingles.occurrencesN(s, docs, 3)
        val frac = round($"n_dup".cast("double") / $"n_grams".cast("double"), 6)
        val agg = occ
          .groupBy($"doc_id", $"shingle").agg(count(lit(1)).as("cnt"))
          .groupBy($"doc_id")
          .agg(sum($"cnt").as("n_grams"),
            sum(when($"cnt" > 1, $"cnt").otherwise(0L)).as("n_dup"))
        docs.select($"doc_id").join(agg, Seq("doc_id"), "left")
          .select($"doc_id",
            coalesce($"n_grams", lit(0L)).as("n_grams"),
            coalesce($"n_dup", lit(0L)).as("n_dup"))
          .withColumn("dup_frac",
            when($"n_grams" === 0L, 0.0).otherwise(frac))
          .withColumn("flagged", $"dup_frac" > 0.5)
          .orderBy($"doc_id")
      },
      Some(raw"""
        WITH t AS (
          SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
          FROM documents WHERE text IS NOT NULL),
        g AS (
          SELECT doc_id,
                 UNNEST(list_transform(generate_series(1, len(tk) - 2),
                   i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS shingle
          FROM t),
        c AS (SELECT doc_id, shingle, COUNT(*) AS cnt
              FROM g GROUP BY doc_id, shingle),
        agg AS (
          SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_grams,
                 CAST(SUM(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS BIGINT) AS n_dup
          FROM c GROUP BY doc_id)
        SELECT d.doc_id,
               COALESCE(a.n_grams, 0) AS n_grams,
               COALESCE(a.n_dup, 0) AS n_dup,
               CASE WHEN COALESCE(a.n_grams, 0) = 0 THEN 0.0
                    ELSE ROUND(CAST(a.n_dup AS DOUBLE) / a.n_grams, 6) END AS dup_frac,
               CASE WHEN COALESCE(a.n_grams, 0) = 0 THEN FALSE
                    ELSE ROUND(CAST(a.n_dup AS DOUBLE) / a.n_grams, 6) > 0.5 END AS flagged
        FROM documents d LEFT JOIN agg a USING (doc_id)
        WHERE d.text IS NOT NULL ORDER BY d.doc_id""")),

    // ---------------------------------------------------------------- t27
    // Encoding-artifact (mojibake) detection — the ftfy/CCNet cleaning
    // gate that runs before any text analysis: count U+FFFD replacement
    // characters (a decoder already gave up), C1 control characters
    // (U+0080–U+009F — the signature of cp1252 bytes relabeled as
    // latin-1), and UTF-8-read-as-latin1 digraphs (é mis-decoded to
    // 'Ã©': lead byte 0xC3 surfaces as U+00C3 'Ã' followed by the
    // continuation byte's latin-1 form). The fixture corpus is pure
    // ASCII (the t18 premise, spec-pinned there), so each artifact class
    // is PLANTED deterministically by doc_id%4 — one class per residue,
    // residue 0 stays clean — making every counter hash-falsifiable: a
    // detector that misses a class or miscounts flips flags and counts.
    // All artifact characters are built with chr() codepoints on BOTH
    // engines, so no non-ASCII byte ever sits in a source literal.
    //
    // Scale: one corpus scan, pure map-side string ops (length/replace —
    // whole-stage codegen, no regex engine in the hot path), zero
    // shuffles before the presentation sort. A lake build fuses the
    // scrub itself the same way (nested replace), which is why the
    // counters are computed from replace-deltas rather than a regex
    // count: the scrub and the count share one expression family.
    QuerySpec(
      "t27_mojibake_detect",
      (s, dir) => {
        import s.implicits._
        val moji = concat(chr(lit(195)), chr(lit(169)),
          chr(lit(195)), chr(lit(168)))                 // A-tilde digraphs
        val repl = concat(chr(lit(65533)), chr(lit(65533))) // U+FFFD twice
        val c1 = concat(chr(lit(133)), chr(lit(146)))   // NEL + cp1252 apostrophe slot
        val planted = when($"doc_id" % 4 === 1, concat($"text", lit(" "), moji))
          .when($"doc_id" % 4 === 2, concat($"text", lit(" "), repl))
          .when($"doc_id" % 4 === 3, concat($"text", lit(" "), c1))
          .otherwise($"text")
        val mojiPat = concat(chr(lit(195)), lit("["),
          chr(lit(168)), chr(lit(169)), lit("]"))
        Tables(s, dir, "documents").filter($"text".isNotNull)
          .withColumn("t", planted)
          .select($"doc_id",
            ((length($"t") - length(regexp_replace($"t", mojiPat, lit(""))))
              .cast("long") / 2L).cast("long").as("n_moji"),
            (length($"t") - length(replace($"t", chr(lit(65533)), lit(""))))
              .cast("long").as("n_repl"),
            (length($"t") - length(replace(replace($"t",
              chr(lit(133)), lit("")), chr(lit(146)), lit(""))))
              .cast("long").as("n_c1"))
          .withColumn("flagged", $"n_moji" + $"n_repl" + $"n_c1" > 0)
          .orderBy($"doc_id")
      },
      Some(raw"""
        WITH p AS (
          SELECT doc_id,
            CASE
              WHEN doc_id % 4 = 1 THEN text || ' ' ||
                chr(195) || chr(169) || chr(195) || chr(168)
              WHEN doc_id % 4 = 2 THEN text || ' ' || chr(65533) || chr(65533)
              WHEN doc_id % 4 = 3 THEN text || ' ' || chr(133) || chr(146)
              ELSE text END AS t
          FROM documents WHERE text IS NOT NULL)
        SELECT doc_id,
               CAST((len(t) - len(regexp_replace(t,
                 chr(195) || '[' || chr(168) || chr(169) || ']', '', 'g'))) // 2
                 AS BIGINT) AS n_moji,
               CAST(len(t) - len(replace(t, chr(65533), '')) AS BIGINT) AS n_repl,
               CAST((len(t) - len(replace(replace(t, chr(133), ''), chr(146), '')))
                 AS BIGINT) AS n_c1,
               (len(t) - len(regexp_replace(t,
                  chr(195) || '[' || chr(168) || chr(169) || ']', '', 'g'))) // 2
                 + (len(t) - len(replace(t, chr(65533), '')))
                 + (len(t) - len(replace(replace(t, chr(133), ''), chr(146), '')))
                 > 0 AS flagged
        FROM p ORDER BY doc_id""")),

    // ---------------------------------------------------------------- t28
    // Bigram PMI collocations — pointwise mutual information over
    // adjacent word pairs, the corpus-statistics primitive behind
    // phrase mining (word2vec's phrase pass, NPMI collocation
    // extraction) and the association complement to t9/t26's repetition
    // counts (those measure within-doc duplication; PMI measures
    // corpus-wide ASSOCIATION — which pairs co-occur more than their
    // unigram frequencies predict: pmi = ln(p(w1,w2)/(p(w1)·p(w2)))).
    // Scale: gram generation is doc-local (the t26 flatMap); the two
    // count aggregates key on the gram and are VOCAB-sized (natural-
    // language vocab, not corpus size), so the unigram table broadcasts
    // onto the bigram table and the corpus totals are 1-row broadcast
    // crosses (the t16 scalar pattern). Counts are exact BIGINTs; the
    // single ln rounds at 6dp (t16's ≤2-ulp libm argument) with a
    // (w1, w2) tiebreak below the rounded score, so the top-30 cut is
    // engine-stable.
    QuerySpec(
      "t28_pmi_bigrams",
      (s, dir) => {
        import s.implicits._
        val docs = Tables(s, dir, "documents").filter($"text".isNotNull)
        val uni = Shingles.occurrencesN(s, docs, 1)
          .groupBy($"shingle".as("w")).agg(count(lit(1)).as("c1"))
        val n1 = uni.agg(sum($"c1").cast("double").as("n1"))
        val big = Shingles.occurrencesN(s, docs, 2)
          .groupBy($"shingle").agg(count(lit(1)).as("c2"))
        val n2 = big.agg(sum($"c2").cast("double").as("n2"))
        big
          .filter($"c2" >= 5)
          .withColumn("w1", split($"shingle", " ")(0))
          .withColumn("w2", split($"shingle", " ")(1))
          .join(broadcast(uni.select($"w".as("w1"), $"c1".as("ca"))), "w1")
          .join(broadcast(uni.select($"w".as("w2"), $"c1".as("cb"))), "w2")
          .crossJoin(broadcast(n1))
          .crossJoin(broadcast(n2))
          .select($"w1", $"w2", $"c2".as("n_pair"),
            round(log(($"c2".cast("double") / $"n2") /
              (($"ca".cast("double") / $"n1") *
                ($"cb".cast("double") / $"n1"))), 6).as("pmi"))
          .orderBy($"pmi".desc, $"w1", $"w2")
          .limit(30)
      },
      Some(raw"""
        WITH t AS (
          SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
          FROM documents WHERE text IS NOT NULL),
        uni AS (
          SELECT w, COUNT(*) AS c1
          FROM (SELECT UNNEST(tk) AS w FROM t) GROUP BY w),
        n1 AS (SELECT CAST(SUM(c1) AS DOUBLE) AS n FROM uni),
        g AS (
          SELECT UNNEST(list_transform(generate_series(1, len(tk) - 1),
            i -> tk[i] || ' ' || tk[i+1])) AS shingle
          FROM t),
        big AS (SELECT shingle, COUNT(*) AS c2 FROM g GROUP BY shingle),
        n2 AS (SELECT CAST(SUM(c2) AS DOUBLE) AS n FROM big),
        j AS (
          SELECT string_split(shingle, ' ')[1] AS w1,
                 string_split(shingle, ' ')[2] AS w2, c2
          FROM big WHERE c2 >= 5)
        SELECT j.w1, j.w2, CAST(j.c2 AS BIGINT) AS n_pair,
               ROUND(LN((CAST(j.c2 AS DOUBLE) / (SELECT n FROM n2)) /
                     ((CAST(ua.c1 AS DOUBLE) / (SELECT n FROM n1)) *
                      (CAST(ub.c1 AS DOUBLE) / (SELECT n FROM n1)))), 6) AS pmi
        FROM j JOIN uni ua ON j.w1 = ua.w JOIN uni ub ON j.w2 = ub.w
        ORDER BY pmi DESC, w1, w2 LIMIT 30""")),

    // ---------------------------------------------------------------- t29
    // BPE-style pre-tokenizer counts — the GPT-2-family pre-tokenization
    // regex (contraction pieces, space-prefixed letter runs, digit runs,
    // punctuation runs, whitespace) counted per document: the token
    // accounting a training-data pipeline budgets with BEFORE any real
    // BPE merge table exists (t2's whitespace count underestimates cost
    // on numbery/punctuated text; this is the standard first-order
    // correction). The alternation is deliberately restricted to the
    // RE2∩java.util.regex common dialect — NO lookarounds (RE2 has
    // none; the canonical GPT-2 pattern's \s+(?!\S) tail is dropped),
    // both engines leftmost-first — so the DuckDB oracle matches piece
    // counts exactly. The ASCII fixture (t18's premise) never exercises
    // the contraction/digit/punct branches on its own, so each is
    // PLANTED by doc_id residue (the t27 move), making every branch
    // count hash-falsifiable. Pure map-side regex scan; the one regex
    // runs once per row, zero shuffles before the presentation sort.
    QuerySpec(
      "t29_bpe_token_count",
      (s, dir) => {
        import s.implicits._
        val pat = "'[a-z]+| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+|\\s+"
        val planted = when($"doc_id" % 4 === 1, concat($"text", lit(" don't stop")))
          .when($"doc_id" % 4 === 2, concat($"text", lit(" v2.1 costs 9,99")))
          .when($"doc_id" % 4 === 3, concat($"text", lit(" end... ok?!")))
          .otherwise($"text")
        Tables(s, dir, "documents").filter($"text".isNotNull)
          .withColumn("t", planted)
          .select($"doc_id",
            size(split(trim($"t"), "\\s+")).cast("long").as("n_ws_tokens"),
            size(regexp_extract_all($"t", lit(pat), lit(0))).cast("long")
              .as("n_pieces"),
            size(array_distinct(regexp_extract_all($"t", lit(pat), lit(0))))
              .cast("long").as("n_distinct_pieces"),
            size(regexp_extract_all($"t", lit(" ?[0-9]+"), lit(0))).cast("long")
              .as("n_num"),
            size(regexp_extract_all($"t", lit(" ?[^A-Za-z0-9\\s]+"), lit(0)))
              .cast("long").as("n_punct"))
          .withColumn("pieces_per_word",
            round($"n_pieces".cast("double") / $"n_ws_tokens", 6))
          .orderBy($"doc_id")
      },
      Some(raw"""
        WITH p AS (
          SELECT doc_id,
            CASE
              WHEN doc_id % 4 = 1 THEN text || ' don''t stop'
              WHEN doc_id % 4 = 2 THEN text || ' v2.1 costs 9,99'
              WHEN doc_id % 4 = 3 THEN text || ' end... ok?!'
              ELSE text END AS t
          FROM documents WHERE text IS NOT NULL)
        SELECT doc_id,
               CAST(len(regexp_split_to_array(trim(t), '\s+')) AS BIGINT)
                 AS n_ws_tokens,
               CAST(len(regexp_extract_all(t,
                 '''[a-z]+| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+'))
                 AS BIGINT) AS n_pieces,
               CAST(len(list_distinct(regexp_extract_all(t,
                 '''[a-z]+| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+')))
                 AS BIGINT) AS n_distinct_pieces,
               CAST(len(regexp_extract_all(t, ' ?[0-9]+')) AS BIGINT) AS n_num,
               CAST(len(regexp_extract_all(t, ' ?[^A-Za-z0-9\s]+')) AS BIGINT)
                 AS n_punct,
               ROUND(CAST(len(regexp_extract_all(t,
                 '''[a-z]+| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+'))
                 AS DOUBLE) / len(regexp_split_to_array(trim(t), '\s+')), 6)
                 AS pieces_per_word
        FROM p ORDER BY doc_id""")),

    // ---------------------------------------------------------------- t30
    // Feature hashing (the "hashing trick") — the fastText/Vowpal-Wabbit
    // input representation: word-2-gram features hash into a FIXED
    // 1024-bucket space, so the feature vector's width is a constant
    // (no vocabulary dictionary to build, broadcast, or keep in sync —
    // the property that makes the trick THE text-featurizer at 100 TB:
    // zero corpus-wide state, pure map-side). Reported per document:
    // distinct grams, occupied buckets (nnz), in-doc collisions
    // (grams − nnz: features silently sharing a slot, accepted in
    // exchange for statelessness), and the heaviest bucket's load.
    // Bucket = the d13 28-bit md5 prefix mod 1024 — the one hash both
    // engines compute identically, so every collision count is
    // hash-falsifiable rather than implementation-trusted. One
    // doc-local gram flatMap + a (doc, bucket) aggregate riding the
    // doc_id key; nothing corpus-wide anywhere.
    QuerySpec(
      "t30_feature_hashing",
      (s, dir) => {
        import s.implicits._
        val docs = Tables(s, dir, "documents").filter($"text".isNotNull)
        val buckets = Shingles.pairsN(s, docs, 2)
          .select($"doc_id",
            (conv(substring(md5($"shingle"), 1, 7), 16, 10).cast("long")
              % 1024L).as("bucket"))
        val perBucket = buckets.groupBy($"doc_id", $"bucket")
          .agg(count(lit(1)).as("load"))
        docs.select($"doc_id").join(
          perBucket.groupBy($"doc_id")
            .agg(sum($"load").as("n_grams"),
              count(lit(1)).as("nnz"),
              max($"load").as("max_load")),
          Seq("doc_id"), "left")
          .select($"doc_id",
            coalesce($"n_grams", lit(0L)).as("n_grams"),
            coalesce($"nnz", lit(0L)).as("nnz"),
            (coalesce($"n_grams", lit(0L)) - coalesce($"nnz", lit(0L)))
              .as("n_collisions"),
            coalesce($"max_load", lit(0L)).as("max_load"))
          .orderBy($"doc_id")
      },
      Some(raw"""
        WITH t AS (
          SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
          FROM documents WHERE text IS NOT NULL),
        g AS (
          SELECT DISTINCT doc_id, shingle FROM (
            SELECT doc_id,
                   UNNEST(list_transform(
                     generate_series(1, greatest(len(tk) - 1, 0)),
                     i -> tk[i] || ' ' || tk[i+1])) AS shingle
            FROM t)),
        b AS (
          SELECT doc_id,
                 CAST(('0x' || substr(md5(shingle), 1, 7)) AS BIGINT) % 1024
                   AS bucket
          FROM g),
        pb AS (SELECT doc_id, bucket, CAST(COUNT(*) AS BIGINT) AS load
               FROM b GROUP BY doc_id, bucket),
        agg AS (
          SELECT doc_id, CAST(SUM(load) AS BIGINT) AS n_grams,
                 CAST(COUNT(*) AS BIGINT) AS nnz,
                 CAST(MAX(load) AS BIGINT) AS max_load
          FROM pb GROUP BY doc_id)
        SELECT t.doc_id,
               COALESCE(agg.n_grams, 0) AS n_grams,
               COALESCE(agg.nnz, 0) AS nnz,
               COALESCE(agg.n_grams, 0) - COALESCE(agg.nnz, 0) AS n_collisions,
               COALESCE(agg.max_load, 0) AS max_load
        FROM t LEFT JOIN agg USING (doc_id) ORDER BY t.doc_id"""))
  )
}
