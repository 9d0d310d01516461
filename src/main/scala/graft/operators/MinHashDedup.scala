package graft.operators

import scala.util.hashing.MurmurHash3

import graft.{QuerySpec, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** MinHash + LSH near-duplicate detection: shingle → seeded MinHash
  * signatures → band-bucket self-join → exact Jaccard rerank on the true
  * shingle sets (as xxhash64 fingerprints).
  *
  * Signatures come from a textbook universal-hash family
  * h_i(x) = (a_i·x + b_i) mod p (p = 2³¹−1, coefficients from a fixed
  * seed), computed per document inside the same typed map that already
  * holds the shingle set — one scan, zero shuffles for signature build,
  * no ML vector UDTs in the plan. Candidate generation shuffles on
  * (band, minhash value): O(n·bands) rows, never the O(n²) cross join,
  * with the standard OR-construction recall P[candidate] = 1−(1−s)^bands.
  * The exact rerank touches candidate pairs only; its fingerprint
  * projection is compact (8 B/shingle), so it auto-broadcasts at fixture
  * scale and degrades to a doc_id shuffle join at 100 TB. Deterministic
  * end to end; verified rows-only by the driver (no ANSI-SQL oracle can
  * express MinHash) and recall-checked against the exact d2 Jaccard pairs
  * in MinHashRecallSpec.
  */
object MinHashDedup {

  val NumBands = 8
  private[operators] val P = 2147483647L // 2^31 - 1, prime
  // fixed-seed affine coefficients: a in [1, p-1], b in [0, p-1]
  private[operators] val (coefA, coefB) = {
    val rng = new java.util.Random(42L)
    val a = Array.fill(NumBands)(1 + math.floorMod(rng.nextLong(), P - 1))
    val b = Array.fill(NumBands)(math.floorMod(rng.nextLong(), P))
    (a, b)
  }

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec(
      "d4_minhash_lsh_pairs",
      (s, dir) => minhashPairs(s, dir, threshold = 0.5),
      None),

    // ---------------------------------------------------------------- d12
    // Incremental FUZZY dedup — the daily production twin of d4 (and the
    // near-dup sibling of d11's exact pass): near-duplicates of a NEW
    // batch (doc_id%10==0) against the EXISTING corpus. The corpus's
    // band/fingerprint tables are exactly what a 100 TB pipeline
    // PERSISTS as its standing dedup index — computed once, then every
    // day's batch joins against them: the band equi-join touches
    // O(|batch|·bands) probe rows (AQE broadcasts the small batch side;
    // a shuffle join if a batch ever outgrows that), never re-shingling
    // or self-joining the corpus. Exact Jaccard rerank on the candidate
    // (batch, corpus) pairs only. Rows-only like d4 (no ANSI-SQL oracle
    // can express MinHash); recall pinned in DedupStressSpec against the
    // planted cross-side near-dups.
    QuerySpec(
      "d12_minhash_incremental",
      (s, dir) => {
        import s.implicits._
        minhashIncrementalOn(s, Tables(s, dir, "documents"),
          col("doc_id") % 10 === 0, threshold = 0.5)
          .orderBy($"jaccard_dist", $"a_id", $"b_id")
      },
      None),

    // ---------------------------------------------------------------- d13
    // The MinHash pipeline under the DuckDB oracle — the verification
    // twin of d4/d12 (VERDICT r5 #3). Production MinHash (d4) keys
    // shingles by murmur3, which no ANSI engine reproduces, so it
    // registers rows-only; this twin runs the SAME algorithm — shingle →
    // per-band universal-hash minimum → band-bucket candidates → exact
    // Jaccard rerank — with the one cross-engine-reproducible hash both
    // engines share (a 28-bit md5 prefix), and the oracle replays every
    // stage including the banded candidate generation. One green hash
    // row pins the family's end-to-end math (band math, bucket join,
    // rerank); d4/d12 keep the faster hash and their recall specs.
    QuerySpec(
      "d13_minhash_oracle_twin",
      (s, dir) => minhashOracleTwin(s, dir),
      Some(MinhashOracleSql)),

    // ---------------------------------------------------------------- d21
    // FUZZY decontamination — d6's near-duplicate sibling: d6 flags
    // train docs sharing an exact 8-gram with the eval slice, which a
    // light paraphrase (one word swapped per line) walks straight past;
    // this pass flags train docs within MinHash/Jaccard distance 0.5 of
    // ANY eval doc, the contamination screen the Llama/GPT-3 reports
    // describe alongside the exact one. Pipeline = d13's md5-keyed
    // machinery (bands → bucket join → exact string-shingle rerank)
    // with the candidate join restricted to TRAIN×EVAL: the eval side
    // is small and fixed (d6's premise), so its band table BROADCASTS
    // and the corpus-side work is one map-side band build plus a rerank
    // that touches candidates only — the d12 probe shape, here fully
    // under the oracle because every stage is md5-replayable. Banding
    // misses (candidate recall < 1) are identical in both engines by
    // construction, so the oracle pins the LSH behavior itself, not an
    // idealized all-pairs answer; d4/d12's murmur3 path keeps the
    // production hash and its recall specs.
    QuerySpec(
      "d21_fuzzy_decontamination",
      (s, dir) => fuzzyDecontamination(s, dir),
      Some(FuzzyDecontaminationSql)))

  /** d13's Spark side: md5-keyed MinHash + LSH + exact string-shingle
    * rerank. Deliberately expression-only (no typed flatMap) so the plan
    * stays whole-stage-codegen'd and every intermediate is replayable in
    * ANSI SQL. Threshold fixed at 0.5 like d4.
    *
    * Collision bound for the 28-bit md5-prefix shingle key (7 hex chars,
    * the widest prefix both engines parse identically as a positive
    * BIGINT): two DISTINCT shingles share a key with p = 2^-28. A
    * collision can only (a) depress a per-band minimum — identically in
    * both engines, since the key function is shared — or (b) merge two
    * shingles in a candidate's band minimum, slightly inflating
    * candidate recall; the exact STRING-shingle rerank then discards any
    * false candidate, so emitted pairs and their Jaccard values are
    * collision-free. By the birthday bound, ~2^14 ≈ 16k distinct
    * shingles give even-odds of ONE collision somewhere in the corpus;
    * the sf0.1 fixture holds ~60k distinct shingles, so a handful of
    * collisions exist, affect both engines identically, and cannot
    * change the verified output. d4/d12 keep full-width murmur3/xxhash64
    * keys — this narrow key exists only for cross-engine replayability. */
  private def minhashOracleTwin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sh = Shingles.pairs(s, Tables(s, dir, "documents")).persist()
    // per-band minima as EIGHT aggregate columns over the shingle rows —
    // map-side partials compact each partition to one row per doc before
    // the shuffle; exploding 8 band rows per shingle first (the obvious
    // form) would move 8x the data to do the same minimum
    val minCols = (0 until NumBands).map(i =>
      min((lit(coefA(i)) * $"x" + lit(coefB(i))) % P).as(s"hv$i"))
    val bands = sh
      .withColumn("x", conv(substring(md5($"shingle"), 1, 7), 16, 10).cast("long"))
      .groupBy($"doc_id").agg(minCols.head, minCols.tail: _*)
      .select($"doc_id", posexplode(
        array((0 until NumBands).map(i => col(s"hv$i")): _*))
        .as(Seq("band", "hv")))
    val cands = bands.as("x").join(bands.as("y"),
        $"x.band" === $"y.band" && $"x.hv" === $"y.hv" &&
          $"x.doc_id" < $"y.doc_id")
      .select($"x.doc_id".as("a_id"), $"y.doc_id".as("b_id")).distinct()
    val shA = sh.select($"doc_id".as("a_id"), $"shingle")
    val shB = sh.select($"doc_id".as("b_id"), $"shingle")
    val common = cands.join(shA, "a_id").join(shB, Seq("b_id", "shingle"))
      .groupBy($"a_id", $"b_id").agg(count(lit(1)).as("common"))
    val sizes = sh.groupBy($"doc_id").agg(count(lit(1)).as("n"))
    val pairs = common
      .join(sizes.select($"doc_id".as("a_id"), $"n".as("na")), "a_id")
      .join(sizes.select($"doc_id".as("b_id"), $"n".as("nb")), "b_id")
      .withColumn("jaccard_dist",
        lit(1.0) - $"common".cast("double") / ($"na" + $"nb" - $"common"))
      .filter($"jaccard_dist" <= 0.5)
      .select($"a_id", $"b_id", $"common", $"jaccard_dist")
    graft.Materialize.thenRelease(pairs, sh).orderBy($"a_id", $"b_id")
  }

  /** d21's Spark side: d13's band construction with the candidate join
    * split TRAIN (doc_id%7≠0) × EVAL (doc_id%7=0, broadcast — the d6
    * small-fixed-eval premise), exact string-shingle rerank on
    * candidates only. */
  private def fuzzyDecontamination(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sh = Shingles.pairs(s, Tables(s, dir, "documents")).persist()
    val minCols = (0 until NumBands).map(i =>
      min((lit(coefA(i)) * $"x" + lit(coefB(i))) % P).as(s"hv$i"))
    val bands = sh
      .withColumn("x", conv(substring(md5($"shingle"), 1, 7), 16, 10).cast("long"))
      .groupBy($"doc_id").agg(minCols.head, minCols.tail: _*)
      .select($"doc_id", posexplode(
        array((0 until NumBands).map(i => col(s"hv$i")): _*))
        .as(Seq("band", "hv")))
    val evalBands = bands.filter($"doc_id" % 7 === 0)
      .select($"doc_id".as("eval_id"), $"band", $"hv")
    val trainBands = bands.filter($"doc_id" % 7 =!= 0)
      .select($"doc_id".as("train_id"), $"band", $"hv")
    val cands = trainBands.join(broadcast(evalBands), Seq("band", "hv"))
      .select($"train_id", $"eval_id").distinct()
    val shT = sh.select($"doc_id".as("train_id"), $"shingle")
    val shE = sh.select($"doc_id".as("eval_id"), $"shingle")
    val common = cands.join(shT, "train_id").join(shE, Seq("eval_id", "shingle"))
      .groupBy($"train_id", $"eval_id").agg(count(lit(1)).as("common"))
    val sizes = sh.groupBy($"doc_id").agg(count(lit(1)).as("n"))
    val pairs = common
      .join(sizes.select($"doc_id".as("train_id"), $"n".as("nt")), "train_id")
      .join(sizes.select($"doc_id".as("eval_id"), $"n".as("ne")), "eval_id")
      .withColumn("jaccard_dist",
        lit(1.0) - $"common".cast("double") / ($"nt" + $"ne" - $"common"))
      .filter($"jaccard_dist" <= 0.5)
      .select($"train_id", $"eval_id", $"common", $"jaccard_dist")
    graft.Materialize.thenRelease(pairs, sh).orderBy($"train_id", $"eval_id")
  }

  /** d21's oracle: [[MinhashOracleSql]]'s stages with the candidate join
    * restricted to train×eval. */
  private def FuzzyDecontaminationSql: String = {
    val aList = coefA.mkString(", ")
    val bList = coefB.mkString(", ")
    raw"""
    WITH sh AS (
      SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id,
               unnest(list_transform(
                 generate_series(1, greatest(len(regexp_split_to_array(trim(text), '\s+')) - 2, 0)),
                 i -> regexp_split_to_array(trim(text), '\s+')[i] || ' ' ||
                      regexp_split_to_array(trim(text), '\s+')[i+1] || ' ' ||
                      regexp_split_to_array(trim(text), '\s+')[i+2])) AS shingle
        FROM documents)),
    shx AS (
      SELECT doc_id, shingle,
             CAST(('0x' || substr(md5(shingle), 1, 7)) AS BIGINT) AS x
      FROM sh),
    coef AS (
      SELECT unnest(range(0, $NumBands)) AS band,
             unnest([$aList]) AS a, unnest([$bList]) AS b),
    mh AS (
      SELECT s.doc_id, c.band, MIN((c.a * s.x + c.b) % $P) AS hv
      FROM shx s CROSS JOIN coef c GROUP BY 1, 2),
    cand AS (
      SELECT DISTINCT t.doc_id AS train_id, e.doc_id AS eval_id
      FROM mh t JOIN mh e ON t.band = e.band AND t.hv = e.hv
      WHERE t.doc_id % 7 <> 0 AND e.doc_id % 7 = 0),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    com AS (
      SELECT c.train_id, c.eval_id, CAST(COUNT(*) AS BIGINT) AS common
      FROM cand c
      JOIN sh t ON t.doc_id = c.train_id
      JOIN sh e ON e.doc_id = c.eval_id AND e.shingle = t.shingle
      GROUP BY 1, 2)
    SELECT train_id, eval_id, common,
           1.0 - CAST(common AS DOUBLE) / (st.n + se.n - common) AS jaccard_dist
    FROM com JOIN sizes st ON train_id = st.doc_id
             JOIN sizes se ON eval_id = se.doc_id
    WHERE 1.0 - CAST(common AS DOUBLE) / (st.n + se.n - common) <= 0.5
    ORDER BY train_id, eval_id"""
  }

  /** d13's oracle: the identical pipeline in DuckDB SQL (shingling shared
    * with d2's oracle; band coefficients interpolated from the same
    * fixed-seed arrays the Spark side uses). */
  private def MinhashOracleSql: String = {
    val aList = coefA.mkString(", ")
    val bList = coefB.mkString(", ")
    raw"""
    WITH sh AS (
      SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id,
               unnest(list_transform(
                 generate_series(1, greatest(len(regexp_split_to_array(trim(text), '\s+')) - 2, 0)),
                 i -> regexp_split_to_array(trim(text), '\s+')[i] || ' ' ||
                      regexp_split_to_array(trim(text), '\s+')[i+1] || ' ' ||
                      regexp_split_to_array(trim(text), '\s+')[i+2])) AS shingle
        FROM documents)),
    shx AS (
      SELECT doc_id, shingle,
             CAST(('0x' || substr(md5(shingle), 1, 7)) AS BIGINT) AS x
      FROM sh),
    coef AS (
      SELECT unnest(range(0, $NumBands)) AS band,
             unnest([$aList]) AS a, unnest([$bList]) AS b),
    mh AS (
      SELECT s.doc_id, c.band, MIN((c.a * s.x + c.b) % $P) AS hv
      FROM shx s CROSS JOIN coef c GROUP BY 1, 2),
    cand AS (
      SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
      FROM mh x JOIN mh y
        ON x.band = y.band AND x.hv = y.hv AND x.doc_id < y.doc_id),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    com AS (
      SELECT c.a_id, c.b_id, CAST(COUNT(*) AS BIGINT) AS common
      FROM cand c
      JOIN sh a ON a.doc_id = c.a_id
      JOIN sh b ON b.doc_id = c.b_id AND b.shingle = a.shingle
      GROUP BY 1, 2)
    SELECT a_id, b_id, common,
           1.0 - CAST(common AS DOUBLE) / (sa.n + sb.n - common) AS jaccard_dist
    FROM com JOIN sizes sa ON a_id = sa.doc_id JOIN sizes sb ON b_id = sb.doc_id
    WHERE 1.0 - CAST(common AS DOUBLE) / (sa.n + sb.n - common) <= 0.5
    ORDER BY a_id, b_id"""
  }

  /** Candidate near-dup pairs with Jaccard distance ≤ threshold.
    * Features are word-3-gram shingles (same shingling as d2): on this
    * corpus unigram token sets are near-identical across documents, so
    * shingles are what make Jaccard discriminative. */
  def minhashPairs(s: SparkSession, dir: String, threshold: Double): DataFrame =
    minhashPairsOn(s, Tables(s, dir, "documents"), threshold)
      .orderBy(col("jaccard_dist"), col("a_id"), col("b_id"))

  /** The LSH index tables for a `(doc_id, text)` frame: band rows
    * `(doc_id, band, hv)` and fingerprint rows `(doc_id, hs)` (sorted
    * xxhash64 shingle arrays). At 100 TB these are the tables a pipeline
    * persists as its standing dedup index — computed once per corpus,
    * probed by every incremental batch (d12). One typed map per document
    * builds its distinct shingle set once and derives both the band
    * minima and the fingerprints from it; that `(doc_id, mins, hs)`
    * frame is eagerly materialized (localCheckpoint, one job) and both
    * returned frames are projections of it, so candidate generation and
    * the rerank reuse it without recompute and without cache-manager
    * entries. Documents with no shingle (< 3 tokens, null text) drop. */
  def lshIndex(s: SparkSession, rawDocs: DataFrame): (DataFrame, DataFrame) = {
    import s.implicits._
    val index = rawDocs.select($"doc_id", $"text").as[(Long, String)]
      .map { case (id, text) =>
        val set = Shingles.shingleSet(text, 3)
        val mins = Array.fill(NumBands)(Long.MaxValue)
        val hs = new Array[Long](set.size)
        var j = 0
        set.forEach { t =>
          val x = MurmurHash3.stringHash(t, 0x9747b28c).toLong & 0x7FFFFFFFL
          var i = 0
          while (i < NumBands) {
            val h = (coefA(i) * x + coefB(i)) % P
            if (h < mins(i)) mins(i) = h
            i += 1
          }
          // Spark's xxhash64(t): XXH64, seed 42, over the UTF-8 bytes
          hs(j) = XXH64.hashUTF8String(UTF8String.fromString(t), 42L)
          j += 1
        }
        java.util.Arrays.sort(hs)
        (id, mins, hs)
      }
      .filter(_._3.nonEmpty)
      .toDF("doc_id", "mins", "hs")
      .localCheckpoint(true) // bands are self-joined, fingerprints read twice
    val bands = index.select($"doc_id", posexplode($"mins").as(Seq("band", "hv")))
    (bands, index.select($"doc_id", $"hs"))
  }

  /** Exact-Jaccard rerank of candidate `(a_id, b_id)` pairs over the
    * fingerprint table; keeps pairs with distance <= `threshold`. */
  private def rerank(candidates: DataFrame, fingerprints: DataFrame,
                     threshold: Double): DataFrame = {
    val ta = fingerprints.select(col("doc_id").as("a_id"), col("hs").as("ta"))
    val tb = fingerprints.select(col("doc_id").as("b_id"), col("hs").as("tb"))
    candidates.join(ta, "a_id").join(tb, "b_id")
      .withColumn("jaccard_dist", round(
        lit(1.0) - size(array_intersect(col("ta"), col("tb"))).cast("double") /
          size(array_union(col("ta"), col("tb"))).cast("double"), 6))
      .filter(col("jaccard_dist") <= threshold)
      .select(col("a_id"), col("b_id"), col("jaccard_dist"))
  }

  /** [[minhashPairs]] over an arbitrary `(doc_id, text)` frame, unordered
    * (its callers join or collect it to a set; a global sort would cost
    * them a sampling job and a range shuffle) — public so specs can
    * stress band-bucket fan-out on synthetic skewed corpora. */
  def minhashPairsOn(s: SparkSession, rawDocs: DataFrame, threshold: Double): DataFrame = {
    import s.implicits._
    val (bands, fingerprints) = lshIndex(s, rawDocs)
    val candidates = bands.as("x").join(bands.as("y"),
        $"x.band" === $"y.band" && $"x.hv" === $"y.hv" &&
          $"x.doc_id" < $"y.doc_id")
      .select($"x.doc_id".as("a_id"), $"y.doc_id".as("b_id"))
      .distinct()
    rerank(candidates, fingerprints, threshold)
  }

  /** d12's batch-vs-corpus candidate generation + rerank over an arbitrary
    * `(doc_id, text)` frame: `isBatch` rows probe the other rows' band
    * index; a_id is always the batch doc. Public for DedupStressSpec. */
  def minhashIncrementalOn(s: SparkSession, rawDocs: DataFrame,
                           isBatch: org.apache.spark.sql.Column,
                           threshold: Double): DataFrame = {
    import s.implicits._
    val (bands, fingerprints) = lshIndex(s, rawDocs)
    val bBands = bands.filter(isBatch)
      .select($"doc_id".as("a_id"), $"band", $"hv")
    val cBands = bands.filter(!isBatch)
      .select($"doc_id".as("b_id"), $"band", $"hv")
    val candidates = bBands.join(cBands, Seq("band", "hv"))
      .select($"a_id", $"b_id")
      .distinct()
    rerank(candidates, fingerprints, threshold)
  }
}
