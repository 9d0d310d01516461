package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Word-n-gram shingling shared by d2, d4/d12 (via lshIndex), d6 and t26.
  *
  * Deliberately a typed flatMap, not HOF column expressions: Spark's
  * higher-order functions (transform/aggregate) are CodegenFallback —
  * interpreted per row — and their cold-start (Janino + JIT of the
  * interpreter paths) dominated the dedup bench (~8.5 s cold vs ~1 s for
  * this monomorphic JVM loop on the same data). Semantics are pinned by
  * the d2 DuckDB oracle: tokens = trim(text) split on \s+, consecutive
  * 3-grams joined by single spaces, distinct within a document (insertion
  * order preserved), docs with <3 tokens contribute nothing.
  */
object Shingles {

  /** The distinct n-grams of one text, in first-seen order; MinHash's
    * LSH index (MinHashDedup.lshIndex) derives its band minima and
    * fingerprints from this set inside its own typed map. */
  private[operators] def shingleSet(text: String, n: Int): java.util.LinkedHashSet[String] = {
    val seen = new java.util.LinkedHashSet[String]()
    // null text contributes no shingles — the oracle's unnest(NULL) yields
    // no rows, and the old column form dropped the row the same way
    if (text == null) return seen
    val toks = text.trim.split("\\s+")
    var i = 0
    while (i + n - 1 < toks.length) {
      val sb = new java.lang.StringBuilder(toks(i))
      var j = 1
      while (j < n) { sb.append(' ').append(toks(i + j)); j += 1 }
      seen.add(sb.toString)
      i += 1
    }
    seen
  }

  /** Exploded inverted-index form: (doc_id, shingle), distinct per doc. */
  def pairs(spark: SparkSession, docs: DataFrame): DataFrame =
    pairsN(spark, docs, 3)

  /** Same, with an arbitrary n-gram width (d6 decontamination uses 8). */
  def pairsN(spark: SparkSession, docs: DataFrame, n: Int): DataFrame = {
    import spark.implicits._
    docs.select($"doc_id", $"text").as[(Long, String)]
      .flatMap { case (id, text) =>
        scala.jdk.CollectionConverters.IteratorHasAsScala(shingleSet(text, n).iterator())
          .asScala.map(s => (id, s))
      }.toDF("doc_id", "shingle")
  }

  /** Multiset form: every n-gram OCCURRENCE as (doc_id, shingle), with
    * duplicates kept — t26's repetition signal needs multiplicity, which
    * the distinct [[pairsN]] deliberately erases. Same monomorphic JVM
    * loop rationale as above. */
  def occurrencesN(spark: SparkSession, docs: DataFrame, n: Int): DataFrame = {
    import spark.implicits._
    docs.select($"doc_id", $"text").as[(Long, String)]
      .flatMap { case (id, text) =>
        if (text == null) Iterator.empty
        else {
          val toks = text.trim.split("\\s+")
          (0 to toks.length - n).iterator.map { i =>
            val sb = new java.lang.StringBuilder(toks(i))
            var j = 1
            while (j < n) { sb.append(' ').append(toks(i + j)); j += 1 }
            (id, sb.toString)
          }
        }
      }.toDF("doc_id", "shingle")
  }
}
