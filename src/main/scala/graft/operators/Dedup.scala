package graft.operators

import graft.{QuerySpec, Tables}
import org.apache.spark.sql.functions._

/** Deduplication operators: exact (hash groupBy), n-gram Jaccard near-dup
  * (capped inverted-index join), 16-bit SimHash bucketing, MinHash+LSH
  * (banded — see [[graft.operators.MinHashDedup]]), and embedding-cosine
  * near-dup (distributed block-pair exact baseline).
  *
  * Scale design: exact dedup is one shuffle on the content hash. Shingle
  * Jaccard shuffles on the shingle (the classic inverted-index join); hot
  * shingles are the skew risk, so d2 drops shingles whose document
  * frequency exceeds [[MaxShingleDf]] before the self-join — boilerplate
  * phrases never generate O(df²) pairs on one key. SimHash reduces each doc
  * to one signature row, then bands group O(n) rows, never O(n²).
  *
  * Persist note: per-query persists here (and in MinHashDedup /
  * TextAnalysis) are small (shingle pairs / band rows) and are released
  * INSIDE the query function via [[graft.Materialize.thenRelease]] —
  * the result is eagerly materialized executor-side, then every
  * intermediate is unpersisted, so the cache manager is empty the moment
  * the function returns and a long-lived session accumulates nothing
  * across queries (no reliance on callers running clearCache).
  */
object Dedup {

  /** Document-frequency cap on shingles for the d2 inverted-index join
    * (mirrored in the DuckDB oracle, so correctness compares identically). */
  val MaxShingleDf = 50

  /** Target rows per block for the d5 block-pair cosine join: bounds each
    * task's memory at O(2·block·dim) doubles and each collect_list row at
    * one block — never the corpus. */
  val MaxCosineBlock = 512

  /** d14's duplicated-span gram width (words). 8 matches d6's
    * decontamination grams — the published exact-substring dedup setting
    * where a shared 8-word run is considered memorization-relevant. */
  val SpanGram = 8

  /** d2's near-dup pair computation (df-capped inverted index → pair
    * intersection counts → Jaccard >= `threshold`), shared with d7's
    * cluster step. Returns (a_id, b_id, common, jaccard), unordered and
    * unlimited — d2 applies its own orderBy/limit presentation. */
  private def jaccardPairs(s: org.apache.spark.sql.SparkSession, dir: String,
                           threshold: Double = 0.05): org.apache.spark.sql.DataFrame =
    jaccardPairsOn(s, graft.Tables(s, dir, "documents"), threshold)

  /** [[jaccardPairs]] over an arbitrary `(doc_id, text)` frame — public so
    * specs can stress the [[MaxShingleDf]] skew defense on synthetic
    * corpora (e.g. one boilerplate shingle in 90% of docs).
    *
    * Shingles are xxhash64'd to longs right after generation (codegen'd
    * projection), so every downstream shuffle — hot-key df count, the
    * inverted-index groupBy, postings — moves 8-byte keys instead of
    * ~20-40-byte strings. Jaccard only needs set cardinalities, so the
    * result is identical absent a 64-bit collision (birthday bound at
    * even 10^12 distinct shingles perturbs counts by ~1e-8 relative —
    * the standard large-scale dedup tradeoff). */
  def jaccardPairsOn(s: org.apache.spark.sql.SparkSession,
                     docs: org.apache.spark.sql.DataFrame,
                     threshold: Double = 0.05): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val (sized, sh0) = pairSizesOn(s, docs)
    val pairs = sized
      .withColumn("jaccard", $"common".cast("double") / ($"na" + $"nb" - $"common"))
      .filter($"jaccard" >= threshold)
      .select($"a_id", $"b_id", $"common", $"jaccard")
    graft.Materialize.thenRelease(pairs, sh0)
  }

  /** d19's asymmetric variant of [[jaccardPairsOn]]: CONTAINMENT
    * (|A∩B|/|A| and |A∩B|/|B|) instead of Jaccard. The distinction
    * matters precisely when the two sizes diverge — a short document
    * quoted verbatim inside a long one has containment ≈ 1 on the short
    * side but Jaccard ≈ |A|/|B| ≈ 0, so a Jaccard threshold never sees
    * it; containment is how real pipelines catch boilerplate inclusion
    * and quote-embedding (the d6 decontamination overlap_frac is the
    * same ratio, fixed to one reference side). Pairs are kept when the
    * LARGER of the two containments clears `minContainment` — i.e. the
    * smaller document's shingle set is mostly inside the other.
    *
    * Same scale shape as d2 (shared [[pairSizesOn]] core: df-capped
    * inverted index, 8-byte hashed shingle keys, bounded pair fan-out);
    * the only change is the post-aggregate filter, so nothing new
    * shuffles. */
  def containmentPairsOn(s: org.apache.spark.sql.SparkSession,
                         docs: org.apache.spark.sql.DataFrame,
                         minContainment: Double = 0.5): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val (sized, sh0) = pairSizesOn(s, docs)
    val pairs = sized
      .filter($"common".cast("double") / least($"na", $"nb") >= minContainment)
      .select($"a_id", $"b_id", $"common", $"na", $"nb",
        round($"common".cast("double") / $"na", 6).as("contain_a"),
        round($"common".cast("double") / $"nb", 6).as("contain_b"))
    graft.Materialize.thenRelease(pairs, sh0)
  }

  /** Shared pair-generation core for [[jaccardPairsOn]] /
    * [[containmentPairsOn]]: df-capped inverted index → per-pair
    * intersection counts joined with both set sizes. Returns the
    * unfiltered `(a_id, b_id, common, na, nb)` frame plus the persisted
    * shingle handle the caller must release (via Materialize.thenRelease)
    * after applying its own similarity filter. */
  private def pairSizesOn(s: org.apache.spark.sql.SparkSession,
                          docs: org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.Dataset[_]) = {
    import s.implicits._
    val sh0 = Shingles.pairs(s, docs)
      .select($"doc_id", xxhash64($"shingle").as("shingle"))
      .persist()
    val hot = sh0.groupBy($"shingle").agg(count(lit(1)).as("df"))
      .filter($"df" > MaxShingleDf).select($"shingle")
    val sh = sh0.join(broadcast(hot), Seq("shingle"), "left_anti")
    val sizes = sh.groupBy($"doc_id").agg(count(lit(1)).as("n"))
    val postings = sh.groupBy($"shingle").agg(collect_list($"doc_id").as("ids"))
    val common = postings.select($"ids").as[Seq[Long]]
      .flatMap { ids =>
        val sorted = ids.sorted
        for (i <- sorted.indices.iterator; j <- (i + 1 until sorted.length).iterator)
          yield (sorted(i), sorted(j))
      }
      .toDF("a_id", "b_id")
      .groupBy($"a_id", $"b_id")
      .agg(count(lit(1)).as("common"))
    val sized = common
      .join(sizes.withColumnRenamed("doc_id", "a_id").withColumnRenamed("n", "na"), "a_id")
      .join(sizes.withColumnRenamed("doc_id", "b_id").withColumnRenamed("n", "nb"), "b_id")
    (sized, sh0)
  }

  /** d14's span extraction over an arbitrary `(doc_id, text)` frame —
    * public so specs can pin the merge semantics on synthetic corpora.
    *
    * Exact-substring duplicate SPANS (the suffix-array dedup output
    * shape, re-expressed relationally): a position is duplicated when
    * its `k`-word gram occurs >= 2 times anywhere in the corpus
    * (including twice in the same document); overlapping-or-adjacent
    * duplicated positions (gap <= k) merge into one maximal span per
    * document. Unlike d9's fixed chunking this catches phase-shifted
    * duplicates, and unlike d10's winnowing it reports exact token
    * extents — the actionable "cut this range" output a training
    * pipeline feeds to span removal.
    *
    * Scale shape: gram generation is a doc-local typed flatMap (same
    * measured typed-over-HOF rationale as [[Shingles]]); grams are
    * xxhash64'd to longs IMMEDIATELY, so the wide exchange moves 8-byte
    * keys, never ~50-byte strings (identical result absent a 64-bit
    * collision — the d2 tradeoff; the oracle groups raw gram strings).
    * Occurrence marking is `count over (partition by gh)` — ONE
    * exchange of the gram stream, each tiny hash group counted in
    * place — measured faster at sf1 AND sf10 than the first-cut
    * count-aggregate + join-back, which exchanged the distinct-gram
    * set and then the full stream again for the join. Duplicated grams
    * CANNOT be df-capped like d2's hot shingles — boilerplate is
    * precisely what must be marked — but a hot gram costs one counted
    * group, never a pair join, so no O(df²) term exists. The island
    * merge is a per-document lag/cumsum window over marked positions
    * only (output ≪ corpus). */
  def duplicateSpansOn(s: org.apache.spark.sql.SparkSession,
                       docs: org.apache.spark.sql.DataFrame,
                       k: Int = SpanGram): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val grams = docs
      .filter($"text".isNotNull)
      .select($"doc_id", $"text").as[(Long, String)]
      .flatMap { case (id, text) =>
        val ws = text.trim.split("\\s+")
        val n = ws.length - (k - 1)
        (0 until n).iterator.map { i =>
          val sb = new java.lang.StringBuilder(ws(i))
          var j = 1
          while (j < k) { sb.append(' ').append(ws(i + j)); j += 1 }
          (id, (i + 1).toLong, sb.toString)
        }
      }
      .toDF("doc_id", "pos", "gram")
      .select($"doc_id", $"pos", xxhash64($"gram").as("gh"))
      .persist()
    val byGram = Window.partitionBy($"gh")
    val marked = grams
      .withColumn("occ", count(lit(1)).over(byGram))
      .filter($"occ" >= 2)
      .select($"doc_id", $"pos")
    val byPos = Window.partitionBy($"doc_id").orderBy($"pos")
    val spans = marked
      // span starts p,q (p<q) overlap or touch iff q-p <= k; a larger
      // gap means undisputed tokens sit between the two extents
      .withColumn("brk",
        when($"pos" - lag($"pos", 1).over(byPos) <= k, lit(0)).otherwise(lit(1)))
      .withColumn("grp", sum($"brk").over(
        byPos.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy($"doc_id", $"grp")
      .agg(min($"pos").as("span_start"),
        (max($"pos") + (k - 1)).as("span_end"))
      .select($"doc_id", $"span_start", $"span_end",
        ($"span_end" - $"span_start" + 1).as("span_tokens"))
    graft.Materialize.thenRelease(spans, grams)
  }

  /** d7's iteration, factored out so specs can drive it with synthetic
    * graphs (e.g. a pathological chain): min-label propagation WITH
    * pointer jumping (label := label(label) each round), so chains
    * contract exponentially — O(log diameter) rounds, each round two
    * joins on the vertex set. Every round ends in an EAGER
    * localCheckpoint: the round's self-join references its input twice,
    * so without lineage truncation the logical plan doubles per round
    * (exponential analysis cost, then stack overflow) — the checkpoint
    * keeps plans constant-size, the required shape for ANY iterative
    * DataFrame algorithm. Convergence is a monotone label-sum check
    * (labels only decrease; equal sums ⇔ fixpoint) — one scalar per
    * round to the driver, never data.
    *
    * `pairs` is an undirected edge list `(a_id, b_id)`; returns
    * `(doc_id, cluster_id)` with cluster_id = min id in the component,
    * unordered, plus the round count. With pointer jumping `maxRounds`
    * = 25 covers diameter 2^25, so hitting the cap without a fixpoint
    * means something is structurally wrong (e.g. a non-monotone label
    * update) — we fail loudly rather than return silently-partial
    * labels. */
  // 50, not 25 (r13): d27's sf1 probe (50k vectors at the adversarial
  // 0.45 threshold, where ScaleUp's perturbed copies chain into huge-
  // diameter components) needed 26-30 rounds — the old cap fired as a
  // FALSE alarm on a converging run. The guard's job is catching a
  // truly non-converging loop loudly, which 50 still does at ~1 s/round.
  def connectedComponents(s: org.apache.spark.sql.SparkSession,
                          pairs: org.apache.spark.sql.DataFrame,
                          maxRounds: Int = 50): (org.apache.spark.sql.DataFrame, Int) = {
    import s.implicits._
    // materialize the (possibly expensive) pair computation ONCE before
    // mirroring: a union of two projections of `pairs` would carry the
    // full upstream plan in BOTH branches, and exchange reuse does not
    // cover the stages above the last shuffle (e.g. d2's typed pair-gen
    // flatMap, d5's block-cosine flatMap) — those would execute twice.
    // LAZY checkpoint materialized by the sizing count below: one job
    // computes the pairs, caches them, and counts (r18 fused-action
    // convention — graft.Materialize.checkpointRebasedAgg).
    val p0 = pairs.select($"a_id", $"b_id").localCheckpoint(false)
    // size the iteration's parallelism to the GRAPH, not the session
    // default: a near-dup edge set is orders of magnitude smaller than
    // the corpus, and per-round shuffle overhead scales with partition
    // count (~100k edges per partition, capped at the session setting)
    val defaultPar = s.sparkContext.defaultParallelism
    val parts = math.max(1,
      math.min(defaultPar, (p0.count() * 2 / 100000L).toInt + 1))
    // the whole loop runs under graph-sized shuffle parallelism with
    // AQE off (graft.Materialize.loopScoped): every per-round exchange
    // is already sized to the edge set by `parts` (scale-adaptive — the
    // same formula yields hundreds of partitions at 100 TB), so AQE's
    // per-stage re-planning only fragments each round into extra
    // driver-sequential jobs
    graft.Materialize.loopScoped(s, parts) {
    val edges = p0
      .union(p0.select($"b_id".as("a_id"), $"a_id".as("b_id")))
      .repartition(parts, $"b_id").localCheckpoint(true)
    // sum coalesced: an EMPTY edge set (legal — e.g. d24 probed at a
    // threshold above the corpus's max cosine) yields an empty label
    // frame, whose SUM is NULL and would crash the Long deserializer
    val labelSum = (df: org.apache.spark.sql.DataFrame) =>
      df.agg(coalesce(sum($"label"), lit(0L))).as[Long].head()
    var (labels, curSum) = graft.Materialize.checkpointRebasedAgg(
      edges.select($"a_id".as("id")).distinct()
        .withColumn("label", $"id"))(labelSum)
    var prevSum = -1L
    var rounds = 0
    // Salt width for the pointer-jump lookup (r19 — VERDICT r18: with
    // AQE off inside the loop, nothing at runtime mitigates skew, and
    // the jump join's probe side is keyed on `label`: as components
    // coalesce, a giant component concentrates its entire membership on
    // ONE hash partition — the single-enormous-key case AQE's skewJoin
    // could not split anyway (guide §2.5). The deterministic salt
    // spreads each label over `saltK` partitions: the probe salts by
    // pmod(xxhash64(id), k) (id-derived — deterministic under task
    // retry, unlike rand()), the lookup side replicates each (pid,
    // plabel) row k ways, and the equi-join matches exactly one replica
    // per probe row — provably the same rows as the unsalted join. Cost
    // is (k-1)·n extra node-sized build rows per round, so k is capped
    // and tied to the loop's own data-derived partition count — at
    // sf0.1 parts is 1-2 and the salt degenerates to a no-op column,
    // at 100 TB it splits the hot label across up to 8 reducers. The
    // NEIGHBOR-MIN join is left unsalted
    // deliberately: its probe is the STATIONARY edge layout (partitioned
    // by b_id once, reused every round — salting would re-shuffle the
    // edges per round), and its downstream min() partial-aggregates
    // map-side, so a hub key costs layout imbalance, not reducer
    // explosion; SCALING.md carries the 100 TB story.
    val saltK = math.min(parts, 8)
    // One propagation round over `cur`: neighbor-min, propagate, salted
    // pointer jump. `propagated` is LAZILY checkpointed (r19): the jump
    // self-join's two branches shuffle it by DIFFERENT keys ((label,
    // salt) probe vs (pid, salt) lookup), so exchange reuse never
    // applies and the un-checkpointed propagate join executed TWICE
    // per round; the lazy cache dedups that at zero extra jobs (it
    // materializes inside whichever branch's stage runs first).
    def ccRound(cur: org.apache.spark.sql.DataFrame)
        : org.apache.spark.sql.DataFrame = {
      val nmin = edges.join(cur, edges("b_id") === cur("id"))
        .groupBy(edges("a_id").as("nid")).agg(min($"label").as("nmin"))
      val propagated = graft.Materialize.checkpointRebasedLazy(
        cur.join(nmin, cur("id") === $"nid", "left")
          .select(cur("id").as("id"),
            least(cur("label"), coalesce($"nmin", cur("label"))).as("label")))
      val jump = propagated
        .select($"id".as("pid"), $"label".as("plabel"),
          explode(sequence(lit(0), lit(saltK - 1))).as("psalt"))
      propagated.as("x")
        .withColumn("xsalt",
          pmod(xxhash64(col("x.id")), lit(saltK.toLong)).cast("int"))
        .join(jump,
          col("x.label") === $"pid" && col("xsalt") === col("psalt"),
          "left")
        .select(col("x.id").as("id"),
          coalesce($"plabel", col("x.label")).as("label"))
    }
    // Convergence-check CADENCE (r19, guide §1.2): the label sum is
    // monotone non-increasing and a fixpoint round is idempotent, so
    // checking every k-th round is exact — sums equal across a k-block
    // ⟺ no label moved inside it — at the cost of up to k−1 extra
    // (already-converged, hence cheap) rounds. Small graphs (parts ≤ 2,
    // the data-derived loop parallelism) are DISPATCH-bound: one
    // materialized job per block instead of per round halves the
    // driver-sequential job count. Large graphs are SHUFFLE-bound, so a
    // wasted post-fixpoint round would cost real data movement: cadence
    // stays 1 there. Conf graft.cc.convergeEvery overrides.
    val ccBlock = s.conf.getOption("graft.cc.convergeEvery").map(_.toInt)
      .getOrElse(if (parts <= 2) 2 else 1)
    while (curSum != prevSum && rounds < maxRounds) {
      val steps = math.min(ccBlock, maxRounds - rounds)
      // intermediate rounds stay LAZY (plan-truncated, zero jobs); the
      // block's last round materializes the whole chain FUSED with the
      // convergence scalar — the r13 stats-rebased checkpoint (un-
      // truncated plans would multiply the previous round's preserved
      // sizeInBytes through three joins: by round ~10 the driver burns
      // minutes in BigInteger.multiplyToomCook3) + the r18 fused-action
      // convention: one job per BLOCK, not two per round.
      var blockPlan = ccRound(labels)
      for (_ <- 2 to steps)
        blockPlan = ccRound(graft.Materialize.checkpointRebasedLazy(blockPlan))
      val (next, nextSum) =
        graft.Materialize.checkpointRebasedAgg(blockPlan)(labelSum)
      prevSum = curSum
      curSum = nextSum
      labels = next
      rounds += steps
    }
    if (curSum != prevSum)
      throw new IllegalStateException(
        s"connected components did not converge within $maxRounds rounds " +
          s"(label sum still changing: $prevSum -> $curSum)")
    (labels.select($"id".as("doc_id"), $"label".as("cluster_id")), rounds)
    }
  }

  /** The shared shingle→pair CTE core (through per-pair intersection
    * counts + set sizes) — d2/d7/d18 extend it with the Jaccard filter
    * ([[JaccardPairsSql]]), d19 with the containment filter. */
  private val ShinglePairsSql: String = raw"""
        sh0 AS (
          SELECT DISTINCT doc_id, shingle FROM (
            SELECT doc_id,
                   unnest(list_transform(
                     generate_series(1, greatest(len(regexp_split_to_array(trim(text), '\s+')) - 2, 0)),
                     i -> regexp_split_to_array(trim(text), '\s+')[i] || ' ' ||
                          regexp_split_to_array(trim(text), '\s+')[i+1] || ' ' ||
                          regexp_split_to_array(trim(text), '\s+')[i+2])) AS shingle
            FROM documents)),
        hot AS (SELECT shingle FROM sh0 GROUP BY shingle HAVING COUNT(*) > $MaxShingleDf),
        sh AS (SELECT * FROM sh0 WHERE shingle NOT IN (SELECT shingle FROM hot)),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        rawpairs AS (
          SELECT a.doc_id AS a_id, b.doc_id AS b_id, CAST(COUNT(*) AS BIGINT) AS common
          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id)"""

  /** The d2 oracle's CTE chain up to threshold pairs, shared with d7/d18. */
  private val JaccardPairsSql: String = raw"""$ShinglePairsSql,
        tpairs AS (
          SELECT a_id, b_id, common,
                 CAST(common AS DOUBLE) / (sa.n + sb.n - common) AS jaccard
          FROM rawpairs JOIN sizes sa ON a_id = sa.doc_id
                        JOIN sizes sb ON b_id = sb.doc_id
          WHERE CAST(common AS DOUBLE) / (sa.n + sb.n - common) >= 0.05)"""

  val specs: Seq[QuerySpec] = Seq(

    // ----------------------------------------------------------------- d1
    // Exact dedup: sha2(text) → keep lowest doc_id per hash.
    QuerySpec(
      "d1_exact_dedup",
      (s, dir) => {
        import s.implicits._
        Tables(s, dir, "documents")
          .groupBy(sha2($"text", 256).as("content_hash"))
          .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("dup_count"))
          .orderBy($"keep_id")
      },
      Some("""
        SELECT sha256(text) AS content_hash,
               MIN(doc_id) AS keep_id, COUNT(*) AS dup_count
        FROM documents GROUP BY sha256(text) ORDER BY keep_id""")),

    // ----------------------------------------------------------------- d2
    // Near-dup via word-3-gram Jaccard: shingle → inverted-index self-join
    // → pair intersection counts → |A∩B| / |A∪B|.
    QuerySpec(
      "d2_ngram_jaccard_pairs",
      (s, dir) => {
        import s.implicits._
        // Full pipeline in jaccardPairs (shared with d7's cluster step):
        // persist-once shingle lineage; df cap drops boilerplate shingles
        // BEFORE the join (the 100 TB inverted-index skew fix — hot keys
        // would emit O(df²) pairs); posting-list groupBy + typed flatMap
        // pair gen with bounded fan-out; docs with <3 tokens shingle to
        // nothing (the ANSI-mode guard lives in Shingles).
        jaccardPairs(s, dir)
          .orderBy($"jaccard".desc, $"a_id", $"b_id")
          .limit(200)
      },
      Some(raw"""
        WITH $JaccardPairsSql
        SELECT a_id, b_id, common, jaccard FROM tpairs
        ORDER BY jaccard DESC, a_id, b_id
        LIMIT 200""")),

    // ----------------------------------------------------------------- d7
    // Dedup clusters: connected components over the d2 near-dup pair
    // graph — the step every real dedup pipeline ends with (pairs alone
    // don't say which docs to drop; transitive closure does, with
    // cluster_id = min doc_id as the canonical keeper). The iteration
    // lives in [[connectedComponents]] (pointer-jumping min-label
    // propagation with per-round eager localCheckpoint) so specs can
    // stress it on synthetic graphs; see its scaladoc for the scale
    // rationale and the loud non-convergence guard.
    QuerySpec(
      "d7_dedup_clusters",
      (s, dir) => {
        import s.implicits._
        val pairs = jaccardPairs(s, dir).select($"a_id", $"b_id")
        connectedComponents(s, pairs)._1.orderBy($"doc_id")
      },
      Some(raw"""
        WITH RECURSIVE $JaccardPairsSql,
        edges AS (
          SELECT a_id AS s, b_id AS d FROM tpairs
          UNION ALL SELECT b_id, a_id FROM tpairs),
        reach AS (
          SELECT DISTINCT s AS id, s AS r FROM edges
          UNION
          SELECT e.s AS id, reach.r FROM edges e JOIN reach ON e.d = reach.id)
        SELECT id AS doc_id, MIN(r) AS cluster_id
        FROM reach GROUP BY id ORDER BY doc_id""")),

    // ----------------------------------------------------------------- d6
    // Benchmark decontamination (the Dolma/GPT-3 appendix-C pattern): flag
    // training documents sharing any exact word-8-gram with the eval set.
    // The eval slice here is doc_id % 7 == 0, modeling the real-world
    // shape: benchmark suites are SMALL and FIXED, so their distinct-gram
    // set broadcasts to every executor and the only shuffle is the
    // train-side per-doc hit count — the corpus-size inverted index is
    // never self-joined. Zero-hit docs are kept (left join) so the output
    // is the full per-document contamination report.
    QuerySpec(
      "d6_decontamination",
      (s, dir) => {
        import s.implicits._
        val docs = Tables(s, dir, "documents")
        // 8-gram strings are ~50+ bytes; hash to longs before any shuffle
        // or broadcast (same collision rationale as jaccardPairsOn — the
        // contamination count only needs set membership)
        val grams = Shingles.pairsN(s, docs, 8)
          .select($"doc_id", xxhash64($"shingle").as("shingle"))
          .persist()
        val evalGrams = grams.filter($"doc_id" % 7 === 0).select($"shingle").distinct()
        val hits = grams.filter($"doc_id" % 7 =!= 0)
          .join(broadcast(evalGrams), Seq("shingle"), "left_semi")
          .groupBy($"doc_id").agg(count(lit(1)).as("hits"))
        val report = docs.filter($"doc_id" % 7 =!= 0).select($"doc_id")
          .join(hits, Seq("doc_id"), "left")
          .select(
            $"doc_id",
            coalesce($"hits", lit(0L)).as("n_shared_grams"),
            (coalesce($"hits", lit(0L)) > 0).as("contaminated"))
        graft.Materialize.thenRelease(report, grams).orderBy($"doc_id")
      },
      Some(raw"""
        WITH t AS (
          SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk FROM documents),
        g AS (
          SELECT DISTINCT doc_id, shingle FROM (
            SELECT doc_id,
                   unnest(list_transform(
                     generate_series(1, greatest(len(tk) - 7, 0)),
                     i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' ||
                          tk[i+4] || ' ' || tk[i+5] || ' ' || tk[i+6] || ' ' || tk[i+7])) AS shingle
            FROM t)),
        ev AS (SELECT DISTINCT shingle FROM g WHERE doc_id % 7 = 0),
        hits AS (
          SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS hits
          FROM g WHERE doc_id % 7 <> 0 AND shingle IN (SELECT shingle FROM ev)
          GROUP BY doc_id)
        SELECT d.doc_id,
               CAST(COALESCE(h.hits, 0) AS BIGINT) AS n_shared_grams,
               COALESCE(h.hits, 0) > 0 AS contaminated
        FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
        WHERE d.doc_id % 7 <> 0
        ORDER BY d.doc_id""")),

    // ----------------------------------------------------------------- d3
    // SimHash (16-bit) signatures + bucket assignment. Each distinct token
    // hashes to 31 bits (polynomial hash, same fold as t5); bit i of the
    // signature is the sign of Σ(±1) over tokens. Banding on the high byte
    // gives the LSH-style candidate bucket. Computed per document in a
    // typed map — zero shuffles (the previous relational form exploded
    // tokens×16 bit rows through two aggregations; per-doc state is 16
    // counters, so in-row computation is strictly better at any scale) —
    // with the DuckDB oracle pinning value equality.
    QuerySpec(
      "d3_simhash_signatures",
      (s, dir) => {
        import s.implicits._
        Tables(s, dir, "documents")
          .select($"doc_id", $"text").as[(Long, String)]
          // null text: the oracle's unnest(NULL) emits no token rows, so
          // the doc has no signature row — flatMap drops it the same way
          .flatMap { case (id, text) => Option(text).map((id, _)) }
          .map { case (id, text) =>
            val counts = new Array[Long](16)
            text.trim.split("\\s+").distinct.foreach { tok =>
              val h = TextAnalysis.polyHashJvm(tok)
              var b = 0
              while (b < 16) {
                if (((h >> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
                b += 1
              }
            }
            var sig = 0L
            var b = 0
            while (b < 16) { if (counts(b) > 0) sig |= 1L << b; b += 1 }
            (id, sig, sig / 256)
          }
          .toDF("doc_id", "simhash16", "band_hi")
          .orderBy($"doc_id")
      },
      Some("""
        WITH tok AS (
          SELECT DISTINCT doc_id, tok FROM (
            SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
            FROM documents)),
        hashed AS (
          SELECT doc_id,
                 list_reduce(list_prepend(CAST(0 AS BIGINT),
                   list_transform(generate_series(1, length(tok)),
                     i -> CAST(ascii(substring(tok, i, 1)) AS BIGINT))),
                   (acc, x) -> (acc * 31 + x) % 2147483647) AS h
          FROM tok),
        bits AS (
          SELECT doc_id, i AS bit, CAST(pow(2, i) AS BIGINT) AS pw,
                 CASE WHEN (h // CAST(pow(2, i) AS BIGINT)) % 2 = 1 THEN 1 ELSE -1 END AS sign
          FROM hashed, generate_series(0, 15) AS g(i)),
        sums AS (
          SELECT doc_id, bit, pw, SUM(sign) AS s FROM bits GROUP BY doc_id, bit, pw)
        SELECT doc_id,
               CAST(SUM(CASE WHEN s > 0 THEN pw ELSE 0 END) AS BIGINT) AS simhash16,
               CAST(CAST(SUM(CASE WHEN s > 0 THEN pw ELSE 0 END) AS BIGINT) // 256 AS BIGINT) AS band_hi
        FROM sums GROUP BY doc_id ORDER BY doc_id""")),

    // ----------------------------------------------------------------- d5
    // Embedding-cosine near-dup pairs: ORACLE-BASELINE-ONLY — the EXACT
    // all-pairs verifier (all pairs >= threshold) whose roster role is to
    // oracle-pin d4/s4/s5/s6, the actual 100 TB paths; it is never the
    // production plan itself. Embedding-space sibling of d1..d4, as a
    // DISTRIBUTED block-pair join — no driver-side collect anywhere:
    //  * vectors hash into blocks of ~MaxCosineBlock rows (one metadata
    //    count on the parquet picks the block count);
    //  * collect_list gathers each block into one array row ON THE
    //    EXECUTORS — per-row size is bounded by the block cap, never the
    //    corpus;
    //  * the tiny block table self-joins on blk_a <= blk_b (B² /2 rows for
    //    B blocks — broadcastable), and each task computes one block pair
    //    in tight JVM loops: O(n²) total flops spread over B²/2 tasks,
    //    O(block²) memory per task.
    // Every unordered {x,y} pair lands in exactly one (sorted) block pair,
    // so results match the all-pairs oracle exactly. At 100 TB the blocks
    // are buckets from a coarse quantizer / LSH (the s2/d4 pattern) and
    // the same block-pair kernel is the exact verifier inside each bucket;
    // quadratic-over-the-whole-corpus stays explicitly not the scale path.
    // Dot/norm accumulate in embedding-index order, so doubles match the
    // DuckDB oracle bit-for-bit before rounding.
    QuerySpec(
      "d5_embedding_cosine_pairs",
      (s, dir) =>
        cosinePairs(s, dir, 0.4)
          .orderBy(col("cosine").desc, col("a_id"), col("b_id"))
          .limit(200),
      Some(CosinePairsOracle(0.4) + """
        SELECT a_id, b_id, cosine FROM cpairs
        ORDER BY cosine DESC, a_id, b_id LIMIT 200""")),

    // ----------------------------------------------------------------- d8
    // Semantic dedup clusters: the d7 step over the EMBEDDING-space pair
    // graph (d5 edges) instead of the lexical one — the SemDeDup shape
    // (cluster by embedding similarity, keep one doc per cluster). Pure
    // operator reuse: cosinePairs feeds the same pointer-jumping
    // connectedComponents; cluster_id = min vec_id is the canonical
    // keeper. Scale path unchanged: at 100 TB the edges come from the
    // bucketed d4/s2 candidate generation, not the exact block-pair join.
    QuerySpec(
      "d8_semantic_clusters",
      (s, dir) => {
        import s.implicits._
        val pairs = cosinePairs(s, dir, 0.4).select($"a_id", $"b_id")
        connectedComponents(s, pairs)._1
          .withColumnRenamed("doc_id", "vec_id")
          .orderBy($"vec_id")
      },
      Some("WITH RECURSIVE " + CosinePairsOracle(0.4).trim.stripPrefix("WITH") + """,
        edges AS (
          SELECT a_id AS s, b_id AS d FROM cpairs
          UNION ALL SELECT b_id, a_id FROM cpairs),
        reach AS (
          SELECT DISTINCT s AS id, s AS r FROM edges
          UNION
          SELECT e.s AS id, reach.r FROM edges e JOIN reach ON e.d = reach.id)
        SELECT id AS vec_id, MIN(r) AS cluster_id
        FROM reach GROUP BY id ORDER BY vec_id""")),

    // ----------------------------------------------------------------- d9
    // Passage-level exact dedup (the "repeated substring" pass real
    // pipelines run between doc-level d1 and fuzzy d2/d4: find verbatim
    // k-word runs shared across documents — boilerplate, license blocks,
    // templated headers). Docs chunk into consecutive 10-word passages
    // (narrow transform, no shuffle); the ONLY shuffle key is the
    // fixed-width md5 digest of the passage, never the passage text, so
    // shuffle bytes stay constant as passages grow. Map-side partial
    // aggregation collapses within-partition repeats before the exchange;
    // the n_docs>1 filter runs post-agg (it is the HAVING statistic).
    // At 100 TB this is the standard first stage of substring dedup —
    // linear scan, one digest-keyed exchange, output ≪ input.
    QuerySpec(
      "d9_passage_dedup",
      (s, dir) => {
        import s.implicits._
        passageFrame(s, dir)
          .groupBy(md5($"passage").as("passage_hash"))
          .agg(
            countDistinct($"doc_id").as("n_docs"),
            count(lit(1)).as("n_occurrences"),
            min($"doc_id").as("first_doc"))
          .filter($"n_docs" > 1)
          .orderBy($"passage_hash")
      },
      Some(raw"""
        WITH w AS (
          SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
          FROM documents WHERE text IS NOT NULL),
        f AS (SELECT doc_id, ws FROM w WHERE len(ws) >= 10),
        p AS (
          SELECT doc_id, array_to_string(ws[(i*10+1):(i*10+10)], ' ') AS passage
          FROM f, UNNEST(generate_series(0, CAST(len(ws)//10 AS INT) - 1)) AS t(i))
        SELECT md5(passage) AS passage_hash,
               COUNT(DISTINCT doc_id) AS n_docs,
               COUNT(*) AS n_occurrences,
               MIN(doc_id) AS first_doc
        FROM p GROUP BY passage HAVING COUNT(DISTINCT doc_id) > 1
        ORDER BY passage_hash""")),

    // ---------------------------------------------------------------- d10
    // Winnowing fingerprints (Schleimer/Wilkerson/Aiken, the MOSS
    // selection rule): hash every 3-word shingle, then keep only each
    // sliding window's MINIMUM hash — density 2/(w+1) of all shingles,
    // with the guarantee that any shared run of >= w+k-1 words shares a
    // fingerprint. The sub-document dup detector that d9's fixed chunking
    // misses when duplicates are phase-shifted. Shape: winnow selection
    // is doc-LOCAL, so hashing AND min-selection both run inside one
    // typed flatMap — per-position hashes never cross the wire (a window
    // formulation would shuffle the whole hash stream just to partition
    // by doc); the only exchange carries each doc's distinct fingerprint
    // longs, already density-reduced to 2/(w+1). The same polyHash as t5
    // keeps the oracle bit-identical (31-base fold mod 2^31-1 over ASCII).
    QuerySpec(
      "d10_winnowed_dups",
      (s, dir) => {
        import s.implicits._
        Tables(s, dir, "documents")
          .filter($"text".isNotNull)
          .select($"doc_id", $"text").as[(Long, String)]
          .flatMap { case (id, text) =>
            val ws = text.trim.split("\\s+")
            val nSh = ws.length - 2
            if (nSh < WinnowWindow) Iterator.empty
            else {
              val hs = new Array[Long](nSh)
              var i = 0
              while (i < nSh) {
                hs(i) = TextAnalysis.polyHashJvm(
                  ws(i) + " " + ws(i + 1) + " " + ws(i + 2))
                i += 1
              }
              val fps = scala.collection.mutable.LinkedHashSet.empty[Long]
              var j = 0
              while (j + WinnowWindow <= nSh) {
                var m = hs(j)
                var k = j + 1
                while (k < j + WinnowWindow) {
                  if (hs(k) < m) m = hs(k); k += 1
                }
                fps += m
                j += 1
              }
              fps.iterator.map(fp => (id, fp))
            }
          }.toDF("doc_id", "fp")
          .groupBy($"fp".as("fingerprint"))
          .agg(count(lit(1)).cast("long").as("n_docs"),
            min($"doc_id").as("first_doc"))
          .filter($"n_docs" > 1)
          .orderBy($"fingerprint")
      },
      Some(raw"""
        WITH w AS (
          SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
          FROM documents WHERE text IS NOT NULL),
        sh AS (
          SELECT doc_id, CAST(i AS BIGINT) AS pos,
                 ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
          FROM w, UNNEST(generate_series(1, len(ws)-2)) t(i)
          WHERE len(ws) >= 3),
        h AS (
          SELECT doc_id, pos,
                 list_reduce(list_prepend(CAST(0 AS BIGINT),
                   list_transform(generate_series(1, length(shingle)),
                     i -> CAST(ascii(substring(shingle, i, 1)) AS BIGINT))),
                   (acc, x) -> (acc * 31 + x) % 2147483647) AS h
          FROM sh),
        f0 AS (
          SELECT doc_id, pos,
                 MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
                 MAX(pos) OVER (PARTITION BY doc_id) AS np
          FROM h),
        d AS (SELECT DISTINCT doc_id, fp FROM f0 WHERE pos <= np - 3)
        SELECT fp AS fingerprint, CAST(COUNT(*) AS BIGINT) AS n_docs,
               MIN(doc_id) AS first_doc
        FROM d GROUP BY fp HAVING COUNT(*) > 1 ORDER BY fingerprint""")),

    // ---------------------------------------------------------------- d14
    // Exact duplicated SPANS (the suffix-array substring-dedup output,
    // relationally): positions whose word-8-gram repeats anywhere in the
    // corpus, merged per document into maximal token extents. See
    // [[duplicateSpansOn]] for the semantics and the 100 TB shape.
    QuerySpec(
      "d14_duplicate_spans",
      (s, dir) => {
        import s.implicits._
        duplicateSpansOn(s, Tables(s, dir, "documents"))
          .orderBy($"doc_id", $"span_start")
      },
      Some(raw"""
        WITH w AS (
          SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
          FROM documents WHERE text IS NOT NULL),
        g AS (
          SELECT doc_id, CAST(i AS BIGINT) AS pos,
                 array_to_string(ws[i:i+7], ' ') AS gram
          FROM w, UNNEST(generate_series(1, len(ws) - 7)) t(i)
          WHERE len(ws) >= 8),
        dup AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(*) >= 2),
        m AS (
          SELECT doc_id, pos FROM g
          WHERE gram IN (SELECT gram FROM dup)),
        fl AS (
          SELECT doc_id, pos,
                 CASE WHEN pos - LAG(pos) OVER
                        (PARTITION BY doc_id ORDER BY pos) <= 8
                      THEN 0 ELSE 1 END AS brk
          FROM m),
        gr AS (
          SELECT doc_id, pos,
                 SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                                ROWS UNBOUNDED PRECEDING) AS grp
          FROM fl)
        SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 7 AS span_end,
               MAX(pos) + 7 - MIN(pos) + 1 AS span_tokens
        FROM gr GROUP BY doc_id, grp ORDER BY doc_id, span_start""")),

    // ---------------------------------------------------------------- d15
    // Span REMOVAL — the consumer of d14's extents (the second half of
    // exact-substring dedup: detect, then cut): every token inside a
    // duplicated span is excised, the survivors re-join into the cleaned
    // text, and the removal count is reported per document. Scale shape:
    // the span list aggregates to one small row per affected doc
    // (collect_list bounded by spans-per-doc, never corpus-sized), the
    // join back to documents is left un-hinted so AQE broadcasts the
    // span side from runtime stats and the TEXT column never shuffles;
    // the excision itself is a doc-local merge-walk over the sorted
    // disjoint spans (d14's merge rule guarantees disjointness).
    QuerySpec(
      "d15_span_scrub",
      (s, dir) => {
        import s.implicits._
        val docs = Tables(s, dir, "documents")
        val spans = duplicateSpansOn(s, docs)
          .groupBy($"doc_id")
          .agg(collect_list(
            struct($"span_start".as("_1"), $"span_end".as("_2"))).as("spans"))
        docs.filter($"text".isNotNull)
          .select($"doc_id", $"text")
          .join(spans, Seq("doc_id"), "left")
          .as[(Long, String, Seq[(Long, Long)])]
          .map { case (id, text, spansOrNull) =>
            val ws = text.trim.split("\\s+")
            val sorted =
              if (spansOrNull == null) IndexedSeq.empty
              else spansOrNull.sortBy(_._1).toIndexedSeq
            val keep = new java.lang.StringBuilder
            var removed = 0L
            var si = 0
            var i = 1
            while (i <= ws.length) {
              while (si < sorted.length && sorted(si)._2 < i) si += 1
              if (si < sorted.length && sorted(si)._1 <= i && i <= sorted(si)._2)
                removed += 1
              else {
                if (keep.length() > 0) keep.append(' ')
                keep.append(ws(i - 1))
              }
              i += 1
            }
            (id, keep.toString, removed)
          }
          .toDF("doc_id", "clean_text", "n_removed")
          .orderBy($"doc_id")
      },
      Some(raw"""
        WITH w AS (
          SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
          FROM documents WHERE text IS NOT NULL),
        g AS (
          SELECT doc_id, CAST(i AS BIGINT) AS pos,
                 array_to_string(ws[i:i+7], ' ') AS gram
          FROM w, UNNEST(generate_series(1, len(ws) - 7)) t(i)
          WHERE len(ws) >= 8),
        dup AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(*) >= 2),
        m AS (
          SELECT doc_id, pos FROM g
          WHERE gram IN (SELECT gram FROM dup)),
        fl AS (
          SELECT doc_id, pos,
                 CASE WHEN pos - LAG(pos) OVER
                        (PARTITION BY doc_id ORDER BY pos) <= 8
                      THEN 0 ELSE 1 END AS brk
          FROM m),
        gr AS (
          SELECT doc_id, pos,
                 SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                                ROWS UNBOUNDED PRECEDING) AS grp
          FROM fl),
        sp AS (
          SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 7 AS span_end
          FROM gr GROUP BY doc_id, grp),
        tok AS (
          SELECT doc_id, CAST(i AS BIGINT) AS pos, ws[i] AS tk
          FROM w, UNNEST(generate_series(1, len(ws))) t(i)),
        sc AS (
          SELECT t.doc_id, t.pos, t.tk,
                 EXISTS (SELECT 1 FROM sp
                         WHERE sp.doc_id = t.doc_id
                           AND t.pos BETWEEN sp.span_start AND sp.span_end)
                   AS cut
          FROM tok t)
        SELECT doc_id,
               coalesce(string_agg(tk, ' ' ORDER BY pos)
                          FILTER (WHERE NOT cut), '') AS clean_text,
               CAST(coalesce(COUNT(*) FILTER (WHERE cut), 0) AS BIGINT)
                 AS n_removed
        FROM sc GROUP BY doc_id ORDER BY doc_id""")),

    // ---------------------------------------------------------------- d11
    // Incremental dedup: a NEW batch (doc_id%10==0, "today's crawl")
    // checked against the EXISTING corpus (the other 90%) at passage
    // granularity, with a broadcast Bloom prefilter. This is the pattern
    // that matters at 100 TB: dedup of new data against an existing
    // corpus must NOT shuffle the corpus. The Bloom filter is built over
    // the SMALL side's passage hashes (distributed treeAggregate, ~1.2 KB
    // per 1k keys at 1% fpp — broadcastable even for a multi-GB batch),
    // then applied as a MAP-SIDE filter on the corpus scan: only
    // true matches + ~1% false positives ever reach the confirm join, so
    // shuffle volume is O(|matches|), not O(|corpus|). The confirm join
    // re-checks the passage STRING, so Bloom false positives are
    // eliminated and the result is exact — byte-identical to the plain
    // batch⋈corpus oracle (no false negatives by Bloom's contract).
    // The Bloom membership probe runs in a typed filter (mightContainLong
    // on the already-codegen'd xxhash64 column) — same measured
    // typed-over-HOF rationale as Shingles.
    QuerySpec(
      "d11_bloom_incremental_dedup",
      (s, dir) => {
        import s.implicits._
        val p = passageFrame(s, dir)
        val (batch, candidates) =
          bloomCandidatesOn(s, p, $"doc_id" % 10 === 0)
        // no broadcast hint: the candidate set is usually tiny (AQE will
        // broadcast it from runtime stats), but when the batch genuinely
        // duplicates a large corpus slice — the motivating scenario —
        // forcing a broadcast would funnel every match through the
        // driver; un-hinted, the join degrades gracefully to a shuffle
        // of O(|batch| + |matches|) rows
        batch
          .join(candidates, Seq("passage"))
          .groupBy($"doc_id")
          .agg(
            countDistinct($"passage").as("n_shared_passages"),
            min($"corpus_id").as("dup_of"))
          .orderBy($"doc_id")
      },
      Some(raw"""
        WITH w AS (
          SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
          FROM documents WHERE text IS NOT NULL),
        f AS (SELECT doc_id, ws FROM w WHERE len(ws) >= 10),
        p AS (
          SELECT doc_id, array_to_string(ws[(i*10+1):(i*10+10)], ' ') AS passage
          FROM f, UNNEST(generate_series(0, CAST(len(ws)//10 AS INT) - 1)) AS t(i)),
        b AS (SELECT * FROM p WHERE doc_id % 10 = 0),
        c AS (SELECT * FROM p WHERE doc_id % 10 <> 0)
        SELECT b.doc_id,
               CAST(COUNT(DISTINCT b.passage) AS BIGINT) AS n_shared_passages,
               MIN(c.doc_id) AS dup_of
        FROM b JOIN c ON b.passage = c.passage
        GROUP BY b.doc_id ORDER BY b.doc_id""")),

    // ---------------------------------------------------------------- d16
    // Contamination SCORE: d6's binary verdict upgraded to the fractional
    // per-document report real curation pipelines threshold on — what
    // share of a train doc's distinct 8-grams also appear in the eval
    // set (the Lee et al. / GPT-3 "13-gram overlap" shape at n=8, the
    // width d6 established for this corpus). Same 100 TB plan as d6: the
    // small distinct eval-gram set broadcasts, the corpus-side gram
    // stream LEFT-joins against it map-side with a hit marker, and ONE
    // doc_id hash aggregate produces both the denominator (distinct
    // grams) and the numerator (shared grams) — no second shuffle, no
    // inverted-index self-join. Docs shorter than the gram width have no
    // grams and report 0/0 → overlap 0, kept via the docs-side left
    // join. The flag threshold (>25%) compares 4·shared > total in exact
    // integer arithmetic so no float boundary can disagree with the
    // oracle; overlap_frac itself is ROUND(·,6) display only.
    QuerySpec(
      "d16_contamination_score",
      (s, dir) => {
        import s.implicits._
        val docs = Tables(s, dir, "documents")
        val grams = Shingles.pairsN(s, docs, 8)
          .select($"doc_id", xxhash64($"shingle").as("shingle"))
          .persist()
        val evalGrams = grams.filter($"doc_id" % 7 === 0)
          .select($"shingle").distinct().withColumn("hit", lit(1L))
        val scored = grams.filter($"doc_id" % 7 =!= 0)
          .join(broadcast(evalGrams), Seq("shingle"), "left")
          .groupBy($"doc_id")
          .agg(
            count(lit(1)).as("n_grams"),
            coalesce(sum($"hit"), lit(0L)).as("n_shared"))
        val report = docs.filter($"doc_id" % 7 =!= 0).select($"doc_id")
          .join(scored, Seq("doc_id"), "left")
          .select(
            $"doc_id",
            coalesce($"n_grams", lit(0L)).as("n_grams"),
            coalesce($"n_shared", lit(0L)).as("n_shared"),
            when($"n_grams".isNull || $"n_grams" === 0, lit(0.0))
              .otherwise(round($"n_shared".cast("double") / $"n_grams", 6))
              .as("overlap_frac"),
            (coalesce($"n_shared", lit(0L)) * 4 > coalesce($"n_grams", lit(0L)))
              .as("flagged"))
        graft.Materialize.thenRelease(report, grams).orderBy($"doc_id")
      },
      Some(raw"""
        WITH t AS (
          SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk FROM documents),
        g AS (
          SELECT DISTINCT doc_id, shingle FROM (
            SELECT doc_id,
                   unnest(list_transform(
                     generate_series(1, greatest(len(tk) - 7, 0)),
                     i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' ||
                          tk[i+4] || ' ' || tk[i+5] || ' ' || tk[i+6] || ' ' || tk[i+7])) AS shingle
            FROM t)),
        ev AS (SELECT DISTINCT shingle FROM g WHERE doc_id % 7 = 0),
        agg AS (
          SELECT doc_id,
                 CAST(COUNT(*) AS BIGINT) AS n_grams,
                 CAST(SUM(CASE WHEN shingle IN (SELECT shingle FROM ev)
                               THEN 1 ELSE 0 END) AS BIGINT) AS n_shared
          FROM g WHERE doc_id % 7 <> 0 GROUP BY doc_id)
        SELECT d.doc_id,
               COALESCE(a.n_grams, 0) AS n_grams,
               COALESCE(a.n_shared, 0) AS n_shared,
               CASE WHEN COALESCE(a.n_grams, 0) = 0 THEN 0.0
                    ELSE ROUND(CAST(a.n_shared AS DOUBLE) / a.n_grams, 6)
               END AS overlap_frac,
               COALESCE(a.n_shared, 0) * 4 > COALESCE(a.n_grams, 0) AS flagged
        FROM documents d LEFT JOIN agg a USING (doc_id)
        WHERE d.doc_id % 7 <> 0 ORDER BY d.doc_id""")),

    // ---------------------------------------------------------------- d17
    // Domain/URL-level dedup — the CommonCrawl FIRST pass that runs
    // before any content hashing: canonicalize the crawl URL (lowercase
    // scheme+host, strip "www.", strip scheme-default ports, drop the
    // fragment, remove tracking parameters, sort the survivors), collapse
    // to one page per canonical URL, roll up per-domain page counts, and
    // anti-join a domain blocklist. The fixtures carry no URL column, so
    // the crawl frontier is SYNTHESIZED deterministically from doc_id —
    // every consecutive triple shares one true page but each member wears
    // different junk (mixed case, WWW., :80/:443, utm_*/ref= params,
    // #fragment, shuffled param order), plus an every-11th :8080 row
    // whose NON-default port must survive as a genuinely distinct URL.
    // The oracle replays the identical synthesis and canonicalization, so
    // every normalization rule is hash-pinned: a canonicalizer that
    // misses one rule (or strips a real port) splits or merges pages and
    // changes the counts.
    // Scale: canonicalization is a single map-side pass (regexp + a
    // ≤4-element param sort — a lake build would fuse it into a codegen
    // Expression like graft_nfc); page collapse is ONE shuffle on the
    // canonical URL; the domain rollup moves |domains| rows; the
    // blocklist is a broadcast anti-join. Nothing global, nothing sorted.
    QuerySpec(
      "d17_url_dedup",
      (s, dir) => {
        import s.implicits._
        urlPages(s, dir)
          .groupBy($"domain")
          .agg(count(lit(1)).as("n_pages"), sum($"n_docs").as("n_docs"),
            min($"first_doc").as("first_doc"))
          .orderBy($"domain")
      },
      Some(raw"""
        WITH u AS (
          SELECT doc_id,
            (CASE WHEN doc_id % 2 = 0
                  THEN upper(CASE WHEN (doc_id // 3) % 2 = 0 THEN 'http' ELSE 'https' END)
                  ELSE (CASE WHEN (doc_id // 3) % 2 = 0 THEN 'http' ELSE 'https' END) END) ||
            '://' ||
            (CASE WHEN doc_id % 4 = 0 THEN 'WWW.' ELSE '' END) ||
            (CASE WHEN doc_id % 3 = 0
                  THEN upper('d' || CAST((doc_id // 3) % 40 AS VARCHAR) || '.example.com')
                  ELSE 'd' || CAST((doc_id // 3) % 40 AS VARCHAR) || '.example.com' END) ||
            (CASE WHEN doc_id % 11 = 0 THEN ':8080'
                  WHEN doc_id % 5 = 0
                  THEN (CASE WHEN (doc_id // 3) % 2 = 0 THEN ':80' ELSE ':443' END)
                  ELSE '' END) ||
            '/docs/' || CAST(doc_id // 3 AS VARCHAR) ||
            (CASE WHEN doc_id % 2 = 0
                  THEN '?page=' || CAST((doc_id // 3) % 7 AS VARCHAR) || '&utm_source=feed&a=1&ref=tw'
                  ELSE '?utm_campaign=c' || CAST(doc_id AS VARCHAR) ||
                       '&a=1&ref=tw&page=' || CAST((doc_id // 3) % 7 AS VARCHAR) END) ||
            (CASE WHEN doc_id % 6 = 0 THEN '#sec' ELSE '' END) AS url
          FROM documents),
        c AS (
          SELECT doc_id,
                 lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS sch,
                 lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]*)', 1)) AS hp,
                 regexp_extract(url, '^[A-Za-z]+://[^/?#]*([^?#]*)', 1) AS path,
                 regexp_extract(url, '\?([^#]*)', 1) AS q
          FROM u),
        c2 AS (
          SELECT doc_id, sch,
                 regexp_replace(regexp_replace(hp, ':\d+$$', ''), '^www\.', '') AS host,
                 regexp_extract(hp, ':(\d+)$$', 1) AS prt,
                 CASE WHEN path = '' THEN '/' ELSE path END AS path,
                 array_to_string(list_sort(list_filter(string_split(q, '&'),
                   p -> NOT (starts_with(p, 'utm_') OR starts_with(p, 'ref=')
                             OR starts_with(p, 'fbclid=') OR starts_with(p, 'gclid=')))), '&') AS kept
          FROM c),
        canon AS (
          SELECT doc_id, host AS domain,
                 sch || '://' || host ||
                 (CASE WHEN prt = '' OR (sch = 'http' AND prt = '80')
                       OR (sch = 'https' AND prt = '443')
                       THEN '' ELSE ':' || prt END) ||
                 path ||
                 (CASE WHEN kept = '' THEN '' ELSE '?' || kept END) AS canon
          FROM c2),
        pages AS (
          SELECT domain, canon, MIN(doc_id) AS first_doc, COUNT(*) AS n_docs
          FROM canon GROUP BY domain, canon)
        SELECT domain,
               CAST(COUNT(*) AS BIGINT) AS n_pages,
               CAST(SUM(n_docs) AS BIGINT) AS n_docs,
               MIN(first_doc) AS first_doc
        FROM pages
        WHERE domain NOT IN ('d3.example.com', 'd7.example.com', 'd13.example.com')
        GROUP BY domain ORDER BY domain""")),

    // ---------------------------------------------------------------- d18
    // Quality-aware cluster representative selection — the step BETWEEN
    // d7's transitive closure and the actual drop list every production
    // dedup run executes: within each near-dup cluster keep the BEST
    // document, not the arbitrary lowest id (FineWeb/Dolma keep longest /
    // highest-quality per cluster; min-id keeps whatever crawled first).
    // Quality here is the fixture's n_chars (longest survives) with
    // doc_id as the deterministic tiebreak; singleton documents (no
    // near-dup edge) are their own one-element cluster and always keep.
    // Output is the per-document verdict frame downstream filters join
    // against: (doc_id, cluster_id, n_chars, keep).
    //
    // Scale: the CC label frame is EDGE-VERTEX-sized (docs that appear
    // in some near-dup pair — ≪ corpus for any real dedup rate), joined
    // to the corpus on doc_id (left join, AQE broadcasts while the label
    // side fits); the keeper window partitions by cluster_id, and
    // cluster sizes are bounded by the same fan-out cap that bounds d2's
    // pair generation — no fat reducer. One window over cluster-sized
    // partitions + one join beyond what d7 already does.
    QuerySpec(
      "d18_cluster_keeper",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        import s.implicits._
        val docs = Tables(s, dir, "documents").select($"doc_id", $"n_chars")
        val pairs = jaccardPairs(s, dir).select($"a_id", $"b_id")
        val labels = connectedComponents(s, pairs)._1
        val w = Window.partitionBy($"cluster_id")
          .orderBy($"n_chars".desc, $"doc_id")
        docs.join(labels, Seq("doc_id"), "left")
          .withColumn("cluster_id", coalesce($"cluster_id", $"doc_id"))
          .withColumn("keep", row_number().over(w) === 1)
          .select($"doc_id", $"cluster_id", $"n_chars", $"keep")
          .orderBy($"doc_id")
      },
      Some(raw"""
        WITH RECURSIVE $JaccardPairsSql,
        edges AS (
          SELECT a_id AS s, b_id AS d FROM tpairs
          UNION ALL SELECT b_id, a_id FROM tpairs),
        reach AS (
          SELECT DISTINCT s AS id, s AS r FROM edges
          UNION
          SELECT e.s AS id, reach.r FROM edges e JOIN reach ON e.d = reach.id),
        labels AS (SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id),
        cl AS (
          SELECT d.doc_id, COALESCE(l.cluster_id, d.doc_id) AS cluster_id, d.n_chars
          FROM documents d LEFT JOIN labels l USING (doc_id))
        SELECT doc_id, cluster_id, n_chars,
               ROW_NUMBER() OVER (PARTITION BY cluster_id
                                  ORDER BY n_chars DESC, doc_id) = 1 AS keep
        FROM cl ORDER BY doc_id""")),

    // ---------------------------------------------------------------- d19
    // Asymmetric containment pairs — see [[containmentPairsOn]]: the
    // short-inside-long duplication a symmetric Jaccard threshold is
    // structurally blind to. Presentation mirrors d2 (strongest pairs
    // first, bounded), ordered by the larger containment.
    QuerySpec(
      "d19_containment_pairs",
      (s, dir) => {
        import s.implicits._
        containmentPairsOn(s, Tables(s, dir, "documents"), 0.5)
          .orderBy(greatest($"contain_a", $"contain_b").desc, $"a_id", $"b_id")
          .limit(200)
      },
      Some(raw"""
        WITH $ShinglePairsSql,
        cpairs AS (
          SELECT a_id, b_id, common, sa.n AS na, sb.n AS nb,
                 ROUND(CAST(common AS DOUBLE) / sa.n, 6) AS contain_a,
                 ROUND(CAST(common AS DOUBLE) / sb.n, 6) AS contain_b
          FROM rawpairs JOIN sizes sa ON a_id = sa.doc_id
                        JOIN sizes sb ON b_id = sb.doc_id
          WHERE CAST(common AS DOUBLE) / least(sa.n, sb.n) >= 0.5)
        SELECT a_id, b_id, common, na, nb, contain_a, contain_b
        FROM cpairs
        ORDER BY greatest(contain_a, contain_b) DESC, a_id, b_id
        LIMIT 200""")),

    // ---------------------------------------------------------------- d20
    // Soft deduplication weights — the KEEP-EVERYTHING alternative to
    // d18's hard keeper verdict (the SoftDeDup observation: dropping
    // near-dups discards signal; downweighting each cluster member by
    // 1/|cluster| preserves the corpus while every duplicated passage
    // contributes exactly one document's worth of expected gradient
    // mass). Output is the per-document sampling-weight frame a training
    // dataloader joins against: (doc_id, cluster_id, cluster_size,
    // weight). Singletons get weight 1; Σ weight = #clusters = the
    // "effective corpus size" the mixing plane (p1/p4) would budget on.
    //
    // Scale: identical skeleton to d18 — the CC label frame is
    // edge-vertex-sized, the corpus join is on doc_id (AQE broadcasts
    // the label side while it fits), and the size aggregate + size join
    // key on cluster_id, whose cardinality is ≤ corpus and whose
    // per-key row counts are bounded by d2's pair fan-out cap. One
    // aggregate + one join beyond d7.
    QuerySpec(
      "d20_soft_dedup_weights",
      (s, dir) => {
        import s.implicits._
        val docs = Tables(s, dir, "documents").select($"doc_id")
        val pairs = jaccardPairs(s, dir).select($"a_id", $"b_id")
        val labels = connectedComponents(s, pairs)._1
        val lab = docs.join(labels, Seq("doc_id"), "left")
          .withColumn("cluster_id", coalesce($"cluster_id", $"doc_id"))
        val sizes = lab.groupBy($"cluster_id")
          .agg(count(lit(1)).as("cluster_size"))
        lab.join(sizes, "cluster_id")
          .select($"doc_id", $"cluster_id", $"cluster_size",
            round(lit(1.0) / $"cluster_size", 6).as("weight"))
          .orderBy($"doc_id")
      },
      Some(raw"""
        WITH RECURSIVE $JaccardPairsSql,
        edges AS (
          SELECT a_id AS s, b_id AS d FROM tpairs
          UNION ALL SELECT b_id, a_id FROM tpairs),
        reach AS (
          SELECT DISTINCT s AS id, s AS r FROM edges
          UNION
          SELECT e.s AS id, reach.r FROM edges e JOIN reach ON e.d = reach.id),
        labels AS (SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id),
        cl AS (
          SELECT d.doc_id, COALESCE(l.cluster_id, d.doc_id) AS cluster_id
          FROM documents d LEFT JOIN labels l USING (doc_id)),
        sz AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM cl GROUP BY cluster_id)
        SELECT doc_id, cluster_id,
               CAST(cluster_size AS BIGINT) AS cluster_size,
               ROUND(CAST(1.0 AS DOUBLE) / cluster_size, 6) AS weight
        FROM cl JOIN sz USING (cluster_id) ORDER BY doc_id""")),

    // ---------------------------------------------------------------- d22
    // TF-IDF cosine near-dup pairs — the WEIGHTED lexical similarity
    // between d2's unweighted set Jaccard and d5's dense embedding
    // cosine (the SpotSigs/shingle-cosine shape): rare shared shingles
    // count for more than common ones, so boilerplate-heavy pairs that
    // clear a Jaccard threshold on filler drop, and pairs sharing
    // distinctive content rise. Features are d2's word-3-gram shingles
    // with multiset tf (t26's occurrence counts) and the same
    // [[MaxShingleDf]] hot-term cap applied to the WHOLE universe
    // (candidates, weights, norms — one consistent vector space).
    // Determinism — the part a naive float TF-IDF gets wrong on a
    // distributed engine: a double dot product is an aggregation whose
    // summation ORDER differs per partitioning, so weights are
    // integer-scaled ONCE (w = tf · round(1000·ln(N/df)); one ln per
    // TERM, the t16 ulp argument at 1e-3 granularity) and every dot
    // product and norm² is then an exact BIGINT sum — order-free; the
    // single sqrt/divide runs once per PAIR at presentation, rounded
    // 6dp. Scale shape = d2's: df-capped inverted index keyed on the
    // shingle, pair fan-out bounded by the cap, norms ride the same
    // per-doc aggregate; the (N, ·) corpus total is a 1-row broadcast
    // cross (the t16 scalar pattern).
    QuerySpec(
      "d22_tfidf_cosine_pairs",
      (s, dir) => {
        import s.implicits._
        val docs = Tables(s, dir, "documents")
        val tf = Shingles.occurrencesN(s, docs, 3)
          .select($"doc_id", xxhash64($"shingle").as("sh"))
          .groupBy($"doc_id", $"sh").agg(count(lit(1)).as("tf"))
          .persist()
        val df = tf.groupBy($"sh").agg(count(lit(1)).as("df"))
          .filter($"df" <= MaxShingleDf)
        val nDocs = tf.select($"doc_id").distinct()
          .agg(count(lit(1)).cast("double").as("n"))
        val w = tf.join(df, "sh")
          .crossJoin(broadcast(nDocs))
          .withColumn("iw",
            round(log($"n" / $"df".cast("double")) * 1000.0, 0).cast("long"))
          .withColumn("w", $"tf" * $"iw")
          .select($"doc_id", $"sh", $"w")
          .localCheckpoint(true)
        val norms = w.groupBy($"doc_id").agg(sum($"w" * $"w").as("norm2"))
        val dots = w.select($"doc_id".as("a_id"), $"sh", $"w".as("wa"))
          .join(w.select($"doc_id".as("b_id"), $"sh", $"w".as("wb")), "sh")
          .filter($"a_id" < $"b_id")
          .groupBy($"a_id", $"b_id").agg(sum($"wa" * $"wb").as("dot"))
        val out = dots
          .join(norms.select($"doc_id".as("a_id"), $"norm2".as("na2")), "a_id")
          .join(norms.select($"doc_id".as("b_id"), $"norm2".as("nb2")), "b_id")
          .withColumn("cosine", round($"dot".cast("double") /
            (sqrt($"na2".cast("double")) * sqrt($"nb2".cast("double"))), 6))
          .select($"a_id", $"b_id", $"dot", $"cosine")
          .orderBy($"cosine".desc, $"a_id", $"b_id")
          .limit(100)
        graft.Materialize.thenRelease(out, tf)
      },
      Some(raw"""
        WITH t AS (
          SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
          FROM documents WHERE text IS NOT NULL),
        g AS (
          SELECT doc_id,
                 UNNEST(list_transform(
                   generate_series(1, greatest(len(tk) - 2, 0)),
                   i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS shingle
          FROM t),
        tf AS (SELECT doc_id, shingle, CAST(COUNT(*) AS BIGINT) AS tf
               FROM g GROUP BY doc_id, shingle),
        df AS (SELECT shingle, COUNT(*) AS df FROM tf GROUP BY shingle
               HAVING COUNT(*) <= $MaxShingleDf),
        n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n FROM tf),
        w AS (
          SELECT tf.doc_id, tf.shingle,
                 tf.tf * CAST(ROUND(LN((SELECT n FROM n) / df.df) * 1000.0, 0)
                              AS BIGINT) AS w
          FROM tf JOIN df USING (shingle)),
        norms AS (SELECT doc_id, SUM(w * w) AS norm2 FROM w GROUP BY doc_id),
        dots AS (
          SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                 CAST(SUM(a.w * b.w) AS BIGINT) AS dot
          FROM w a JOIN w b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id)
        SELECT a_id, b_id, dot,
               ROUND(CAST(dot AS DOUBLE) /
                 (sqrt(CAST(na.norm2 AS DOUBLE)) * sqrt(CAST(nb.norm2 AS DOUBLE))),
                 6) AS cosine
        FROM dots JOIN norms na ON a_id = na.doc_id
                  JOIN norms nb ON b_id = nb.doc_id
        ORDER BY cosine DESC, a_id, b_id LIMIT 100""")),

    // ---------------------------------------------------------------- d23
    // SemDeDup representative selection — the semantic twin of d18's
    // lexical keeper, and the paper's actual rule: within each embedding
    // cluster keep the member FARTHEST from the cluster centroid (the
    // least-redundant exemplar — near-centroid members are the
    // "semantic duplicates" the pass exists to drop; d18 keeps the
    // longest, which has no meaning in embedding space). Composition of
    // three shipped pieces: d8's clusters (cosine pair graph → CC
    // labels), s11's exact BIGINT micro-unit grid (float centroid means
    // are partition-order-dependent; floored integer means replay
    // bit-identically), and d18's cluster-window keeper. Scale: labels
    // are edge-vertex-sized, the centroid update is one
    // (cluster, dim) aggregate, distances are map-side after a
    // cluster-keyed centroid join, and the keeper window partitions by
    // cluster with d8's bounded cluster sizes.
    QuerySpec(
      "d23_semdedup_keeper",
      (s, dir) =>
        semdedupKeeper(s, dir,
          cosinePairs(s, dir, 0.4).select(col("a_id"), col("b_id"))),
      Some("WITH RECURSIVE " + CosinePairsOracle(0.4).trim.stripPrefix("WITH")
        + SemdedupKeeperSqlTail)),

    // ---------------------------------------------------------------- d24
    // SemDeDup at the PRODUCTION edge source (VERDICT r9 #1): d23's
    // cluster→centroid→farthest-keeper pipeline unchanged, but the
    // cluster graph comes from MULTI-BAND sign-LSH candidates instead
    // of d5/d8's exact O(n²) block-cosine verifier — the d4-vs-d2 move
    // replayed in embedding space. Bands OR-amplify (d4's argument):
    // a pair is a candidate iff ALL rowsPerBand anchor-dot signs agree
    // in AT LEAST ONE band, exact cosine then verifies candidates only.
    // Anchors are the first nBands·rowsPerBand corpus vectors —
    // deterministic, so BOTH engines derive identical buckets and the
    // whole banded graph replays under a full DuckDB oracle (stronger
    // than the d4/d12 rows-only rows: the bucketing here needs no RNG).
    // Pinned (10 bands × 3 planes) IS [[bandedCosinePairsAuto]]'s own
    // sizing at the driver SF; the auto path re-derives (r, bands) from
    // the corpus count so block population stays ~[[MaxCosineBlock]]/8
    // as n grows — candidate volume n·blocksize·bands, the n^(1+ρ)
    // sub-quadratic LSH law (ρ = ln p1/ln p2 ≈ 0.66 at this fixture's
    // adversarially-low 0.4 threshold; ≈ 0.22 at the 0.9 operating
    // point real SemDeDup runs). Edge recall vs the exact d5 graph and
    // CC-label agreement vs d8 are MEASURED and pinned in
    // BandedSemanticDedupSpec (94–98% / 96–98% at fixture scales).
    QuerySpec(
      "d24_banded_semdedup",
      (s, dir) => semdedupKeeper(s, dir,
        bandedCosinePairs(s, dir, 0.4, 10, 3).select(col("a_id"), col("b_id"))),
      Some("WITH RECURSIVE "
        + BandedCosinePairsOracle(0.4, 10, 3).trim.stripPrefix("WITH")
        + SemdedupKeeperSqlTail)),

    // ---------------------------------------------------------------- d25
    // INCREMENTAL semantic dedup — d24's daily-run mode, closing the
    // incremental symmetry the dedup plane already has for exact
    // passages (d11 Bloom) and MinHash shingles (d12): a standing
    // corpus with a FIXED anchor family (the band space is the index's
    // immutable part) receives a new batch; each new vector is signed
    // against the SAME anchors ([[bandSignaturesOn]]), probed into the
    // corpus's (band, signature) buckets, exact-cosine verified on
    // candidates only, and ADMITTED iff nothing in the corpus matches
    // at the threshold. Per new doc the output carries the admit
    // verdict plus its best corpus match (max cosine, min-id
    // tie-break) — the audit row a daily ingest job logs. At 100 TB
    // the corpus signature table is PERSISTED (bucket-keyed, append-
    // only as batches are admitted) so a day's cost is
    // |batch|·bands·r signing work + the candidate verify — never a
    // corpus rescan; the roster query re-derives corpus signatures
    // inline only so the full computation replays under the DuckDB
    // oracle (anchors = first bands·r corpus vectors by rank, seed-
    // free, both engines derive identical buckets — d24's argument).
    // Batch split: vec_id % 5 == 0 (20% arrives "today"). Round 12
    // (VERDICT r11 #2): the roster query now runs the PERSIST-AND-PROBE
    // form — [[semanticIndex]] stages the corpus's anchor + signature
    // tables as a write-once parquet artifact (the MinHashDedup.lshIndex
    // pattern applied to embeddings) and [[semanticProbe]] signs ONLY the
    // batch and probes the standing index from disk, so a daily run's
    // cost is |batch|·bands·r signing work plus the candidate verify —
    // the corpus is never re-signed. DedupStressSpec pins probe ≡ the
    // inline derivation ([[incrementalSemdedupInline]], kept as the
    // oracle-shaped twin), so the DuckDB oracle below (which replays the
    // full computation from the base table — it has no standing index)
    // still checks the probe path row-for-row.
    QuerySpec(
      "d25_incremental_semdedup",
      (s, dir) => semanticProbe(s, dir, semanticIndex(s, dir)),
      Some(D25OracleSql(D25Threshold, D25Shape._1, D25Shape._2))),

    // ---------------------------------------------------------------- d26
    // d24's AUTO-SIZED shape under the correctness gate (VERDICT r11
    // #4): the roster d24 pins (bands, r) = (10, 3); the production
    // entry point is [[bandedCosinePairsAuto]], which derives the shape
    // from the corpus count and the threshold. Anchors are seed-free,
    // so the auto shape is oracle-replayable exactly like the pinned
    // one — this row runs the REAL auto path (count → sizing rule →
    // banded pairs) at threshold 0.45, where the rule lands on a shape
    // (9, 3) the pinned row does NOT use, and the oracle is GENERATED
    // for [[autoShape]](n at the driver SF) — if either the sizing rule
    // or the fixture drifts, the shapes diverge and this row goes red
    // loudly instead of the auto path staying unverified. 0.45 is the
    // highest fixture threshold that is BOTH non-(10,3)-shaped and
    // non-empty (the sf0.01 cosine distribution tops out at 0.51), so
    // the hash match covers real rows, not a vacuous empty set.
    QuerySpec(
      "d26_banded_auto_pairs",
      (s, dir) => {
        val (pairs, _, _) = bandedCosinePairsAuto(s, dir, D26Threshold)
        pairs.orderBy(col("a_id"), col("b_id"))
      },
      Some(BandedCosinePairsAutoOracle(D26Threshold) +
        " SELECT a_id, b_id, cosine FROM cpairs ORDER BY a_id, b_id")),

    // ---------------------------------------------------------------- d27
    // The PRODUCTION SemDeDup composition end-to-end under the
    // correctness gate (VERDICT r12 #1): auto-shaped banded edges
    // (d26's count → [[autoShape]] → [[bandedCosinePairs]] path)
    // feeding the SAME CC → integer-grid centroid → farthest-keeper
    // tail as d23/d24 ([[semdedupKeeper]]). Until this row, every
    // oracle-pinned KEEPER ran on either the quadratic oracle-anchor
    // edge source (d23) or the FIXED (10, 3) banded shape (d24); this
    // is the path a 100 TB run actually executes — shape derived from
    // the corpus count at runtime, no quadratic stage anywhere — with
    // the oracle GENERATED for the derived shape exactly as d26 does,
    // so a sizing-rule or fixture drift turns this row red instead of
    // leaving the production composition unverified. Threshold is
    // d26's 0.45: the auto shape at the driver SF is (9, 3), distinct
    // from d24's pinned (10, 3), so the keeper tail is exercised on a
    // cluster graph no pinned row produces. Scale shape: everything is
    // d24's — anchor cross O(n·bands·r) broadcast, (band, signature)
    // equi-keyed candidates, cluster-equi-keyed keeper — with the
    // no-all-pairs property plan-pinned in PlanAuditSpec.
    QuerySpec(
      "d27_auto_semdedup_keeper",
      (s, dir) => {
        val (pairs, _, _) = bandedCosinePairsAuto(s, dir, D26Threshold)
        semdedupKeeper(s, dir, pairs.select(col("a_id"), col("b_id")))
      },
      Some("WITH RECURSIVE " +
        BandedCosinePairsAutoOracle(D26Threshold)
          .trim.stripPrefix("WITH") +
        SemdedupKeeperSqlTail)),

    // ---------------------------------------------------------------- d28
    // INCREMENTAL cluster maintenance (round 13) — the d25/s13
    // standing-artifact move applied to connected components. The
    // standing corpus carries a persisted label table beside the d25
    // signature index; per ingest batch, only the batch is signed, new
    // edges are verified candidate-only, the edge endpoints CONTRACT to
    // their standing supernodes, and a batch-sized CC resolves which
    // clusters merge — the corpus is never re-signed, re-paired, or
    // re-clustered. The oracle is the FULL RECOMPUTE (banded edges over
    // corpus∪batch at the corpus-rank anchors → recursive CC → min
    // label), generated at d25's pinned (10, 3)/0.4 operating point:
    // maintained-equals-recomputed is checked row-for-row, the property
    // that makes incremental clustering trustworthy at all. Mechanism
    // pins (artifact not rewritten by the run, only edge-touched
    // clusters relabeled, Spark-side full-recompute equality) live in
    // IncrementalClustersSpec.
    QuerySpec(
      "d28_incremental_clusters",
      (s, dir) => incrementalClusters(s, dir),
      Some(D28OracleSql(D25Threshold, D25Shape._1, D25Shape._2)))
  )

  /** d25's pinned operating point, shared by the Scala side and the
    * GENERATED oracle ([[D25OracleSql]]) so the two can never drift
    * (ADVICE r11: the hand-written SQL hardcoded the (10, 3) shape in
    * three places). `def`s, not `val`s: the specs Seq initializes before
    * later object vals. */
  private def D25Threshold: Double = 0.4
  private def D25Shape: (Int, Int) = (10, 3)

  /** d26's threshold — chosen so [[autoShape]] at the driver SF derives
    * a shape distinct from d24's pinned (10, 3), with a non-empty
    * result at the fixture's cosine ceiling (~0.51). */
  private def D26Threshold: Double = 0.45

  // (The former DriverSfEmbeddingCount pin is gone: d26/d27's oracle
  // now derives the auto shape from COUNT(*) inside the SQL itself
  // ([[BandedCosinePairsAutoOracle]]), so the compare is SF-invariant
  // — it was red at sf0.1 under the old 500-row pin.)

  /** d10's winnow window (consecutive shingle hashes per min-selection).
    * w=4 ⇒ fingerprint density 2/(w+1) = 40% of shingles, shared-run
    * guarantee at w+k-1 = 6 words for 3-word shingles. */
  private val WinnowWindow = 4

  /** d9's passage width (words per chunk). 10 words ≈ the shortest run a
    * substring-dedup pass treats as meaningful boilerplate. */
  private val PassageLen = 10

  /** d11's Bloom-prefilter step over an arbitrary (doc_id, passage) frame —
    * public so specs can measure the candidate reduction on synthetic
    * corpora. Splits rows by `isBatch` into the small "new batch" side and
    * the large "existing corpus" side, builds a Bloom filter over the
    * batch passage hashes (distributed treeAggregate; the driver holds
    * only the ~KB bitset, like any broadcast build side), and applies it
    * as a map-side filter on the corpus rows. Returns
    * (batch(doc_id, passage, h) — eagerly materialized via
    * localCheckpoint so the bloom build, the count and the caller's
    * confirm join all reuse it WITHOUT a cache-manager entry (freed by
    * the ContextCleaner when unreachable), candidates(corpus_id,
    * passage, h)). No false negatives by Bloom's contract,
    * so a string-equality confirm join over the candidates is exact. */
  def bloomCandidatesOn(s: org.apache.spark.sql.SparkSession,
                        passages: org.apache.spark.sql.DataFrame,
                        isBatch: org.apache.spark.sql.Column)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) =
    bloomCandidatesFor(s, passages.filter(isBatch), passages.filter(!isBatch))

  /** Two-frame form of [[bloomCandidatesOn]] — the batch and corpus
    * passage frames come from different sources (st5 feeds a streaming
    * micro-batch as `batchPassages` against a static corpus). Same
    * contract: returns (batch with hashes, Bloom-prefiltered corpus
    * candidates); the caller runs the exact confirm join. */
  def bloomCandidatesFor(s: org.apache.spark.sql.SparkSession,
                         batchPassages: org.apache.spark.sql.DataFrame,
                         corpusPassages: org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    import s.implicits._
    // lazy checkpoint materialized by the Bloom-sizing count — one job,
    // not two (the r18 fused-action convention)
    val batch = batchPassages
      .select($"doc_id", $"passage", xxhash64($"passage").as("h"))
      .localCheckpoint(false)
    val nKeys = math.max(batch.count(), 1L)
    val bloom = batch.stat.bloomFilter("h", nKeys, 0.01)
    val bloomB = s.sparkContext.broadcast(bloom)
    val candidates = corpusPassages
      .select($"doc_id".as("corpus_id"), $"passage",
        xxhash64($"passage").as("h"))
      .as[(Long, String, Long)]
      .filter(t => bloomB.value.mightContainLong(t._3))
      .toDF("corpus_id", "passage", "h")
    (batch, candidates)
  }

  /** d9/d11's passage chunking: each doc's consecutive [[PassageLen]]-word
    * chunks — a narrow transform (split + HOF slice, no shuffle). Returns
    * (doc_id, passage). */
  private def passageFrame(s: org.apache.spark.sql.SparkSession,
                           dir: String): org.apache.spark.sql.DataFrame =
    passagesOn(Tables(s, dir, "documents"))

  /** [[passageFrame]] over an arbitrary `(doc_id, text)` frame — public
    * (and stateless, so streaming-safe) for st5's per-micro-batch use. */
  def passagesOn(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import docs.sparkSession.implicits._
    docs
      .filter($"text".isNotNull)
      .select($"doc_id", split(trim($"text"), "\\s+").as("ws"))
      .filter(size($"ws") >= PassageLen)
      .select($"doc_id", explode(expr(
        s"transform(sequence(0, size(ws) div $PassageLen - 1), " +
          s"i -> array_join(slice(ws, i * $PassageLen + 1, $PassageLen), ' '))"))
        .as("passage"))
  }

  /** d5's pair computation (distributed block-pair exact cosine, see the
    * d5 scaladoc above), shared with d8's cluster step: returns
    * (a_id, b_id, cosine) for all unordered pairs with cosine >=
    * `threshold`, unordered and unlimited. */
  def cosinePairs(s: org.apache.spark.sql.SparkSession, dir: String,
                  threshold: Double): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val src = Tables(s, dir, "embeddings").select($"vec_id", $"embedding")
        // parquet count(*) is metadata-only; B blocks of <= ~MaxCosineBlock
        val nRows = src.count()
        val nBlocks = math.max(1L, (nRows + MaxCosineBlock - 1) / MaxCosineBlock).toInt
        val blocks = src
          .withColumn("blk", pmod(xxhash64($"vec_id"), lit(nBlocks)).cast("int"))
          .groupBy($"blk")
          .agg(sort_array(collect_list(struct($"vec_id", $"embedding"))).as("rows"))
          .as[(Int, Seq[(Long, Seq[Float])])]
        val a = blocks.toDF("blk_a", "rows_a")
        val b = blocks.toDF("blk_b", "rows_b")
        a.join(b, $"blk_a" <= $"blk_b")
          .as[(Int, Seq[(Long, Seq[Float])], Int, Seq[(Long, Seq[Float])])]
          .flatMap { case (ba, rowsA, bb, rowsB) =>
            def prep(rs: Seq[(Long, Seq[Float])]): Array[(Long, Array[Double], Double)] =
              rs.iterator.map { case (id, v) =>
                val d = new Array[Double](v.length)
                var sq = 0.0
                var i = 0
                while (i < d.length) { d(i) = v(i).toDouble; sq += d(i) * d(i); i += 1 }
                (id, d, math.sqrt(sq))
              }.toArray
            val left = prep(rowsA)
            val right = if (ba == bb) left else prep(rowsB)
            val sameBlock = ba == bb
            // Tight pair loop (SCALING.md r7): the sf1 run showed ~40 s
            // here, dominated not by the dot products but by per-pair
            // iterator/closure overhead and a BigDecimal round allocated
            // for EVERY pair before thresholding. The oracle's semantics
            // are round-to-6dp THEN filter, and rounding moves a value by
            // at most 5e-7 — so a raw-cosine gate at threshold-1e-6 is
            // output-identical while the (rare) BigDecimal path runs only
            // for near/above-threshold pairs.
            val rawGate = threshold - 1e-6
            val out = scala.collection.mutable.ArrayBuffer[(Long, Long, Double)]()
            var i = 0
            while (i < left.length) {
              val (aId, av, aNorm) = left(i)
              var j = if (sameBlock) i + 1 else 0
              while (j < right.length) {
                val (bId, bv, bNorm) = right(j)
                var dot = 0.0
                var k = 0
                while (k < av.length) { dot += av(k) * bv(k); k += 1 }
                val raw = dot / (aNorm * bNorm)
                if (raw >= rawGate) {
                  val cos = BigDecimal(raw)
                    .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
                  if (cos >= threshold)
                    out += ((math.min(aId, bId), math.max(aId, bId), cos))
                }
                j += 1
              }
              i += 1
            }
            out
          }
          .toDF("a_id", "b_id", "cosine")
  }

  /** d17's blocked domains — broadcast anti-joined away before any
    * rollup or downstream stage. */
  private[operators] val UrlBlocklist =
    Seq("d3.example.com", "d7.example.com", "d13.example.com")

  /** d17's synthesis + canonicalization + page collapse, shared with
    * e4's composed pipeline: one row per surviving canonical URL —
    * `(domain, canon, first_doc, n_docs)` — with blocked domains already
    * removed. See the d17 scaladoc for the rule inventory; the
    * canonicalizer reads only the URL string. */
  private[operators] def urlPages(
      s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val g = expr("doc_id DIV 3")
    val schemeTrue = when(g % 2 === 0, "http").otherwise("https")
    val hostTrue = concat(lit("d"), (g % 40).cast("string"), lit(".example.com"))
    val page = (g % 7).cast("string")
    val url = concat(
      when($"doc_id" % 2 === 0, upper(schemeTrue)).otherwise(schemeTrue),
      lit("://"),
      when($"doc_id" % 4 === 0, "WWW.").otherwise(""),
      when($"doc_id" % 3 === 0, upper(hostTrue)).otherwise(hostTrue),
      when($"doc_id" % 11 === 0, ":8080")
        .when($"doc_id" % 5 === 0, when(g % 2 === 0, ":80").otherwise(":443"))
        .otherwise(""),
      lit("/docs/"), g.cast("string"),
      when($"doc_id" % 2 === 0,
        concat(lit("?page="), page, lit("&utm_source=feed&a=1&ref=tw")))
        .otherwise(concat(lit("?utm_campaign=c"), $"doc_id".cast("string"),
          lit("&a=1&ref=tw&page="), page)),
      when($"doc_id" % 6 === 0, "#sec").otherwise(""))
    val withUrl = Tables(s, dir, "documents").select($"doc_id", url.as("url"))
    // canonicalize from the URL STRING alone — generic, no peeking at
    // the synthesis variables
    val sch = lower(regexp_extract($"url", "^([A-Za-z]+)://", 1))
    val hp = lower(regexp_extract($"url", "^[A-Za-z]+://([^/?#]*)", 1))
    val host = regexp_replace(regexp_replace(hp, ":\\d+$", ""), "^www\\.", "")
    val prt = regexp_extract(hp, ":(\\d+)$", 1)
    val rawPath = regexp_extract($"url", "^[A-Za-z]+://[^/?#]*([^?#]*)", 1)
    val kept = array_join(sort_array(
      filter(split(regexp_extract($"url", "\\?([^#]*)", 1), "&"),
        p => !(p.startsWith("utm_") || p.startsWith("ref=") ||
          p.startsWith("fbclid=") || p.startsWith("gclid=")))), "&")
    val canon = concat(sch, lit("://"), host,
      when(prt === "" || (sch === "http" && prt === "80") ||
        (sch === "https" && prt === "443"), "").otherwise(concat(lit(":"), prt)),
      when(rawPath === "", "/").otherwise(rawPath),
      when(kept === "", "").otherwise(concat(lit("?"), kept)))
    withUrl
      .select($"doc_id", host.as("domain"), canon.as("canon"))
      .groupBy($"domain", $"canon")
      .agg(min($"doc_id").as("first_doc"), count(lit(1)).as("n_docs"))
      .join(broadcast(UrlBlocklist.toDF("domain")), Seq("domain"), "left_anti")
  }

  /** The d5 oracle's CTE chain up to threshold pairs (`cpairs`), shared
    * with d8. */
  /** d23/d24's shared SemDeDup tail: cluster labels from the given pair
    * graph (CC, singletons self-labeled), s11's exact BIGINT micro-unit
    * centroid grid, and the farthest-from-centroid keeper window. See
    * the d23 QuerySpec scaladoc for the shape/scale argument. */
  def semdedupKeeper(s: org.apache.spark.sql.SparkSession, dir: String,
                     pairs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val grid = Tables(s, dir, "embeddings")
      .select($"vec_id", expr(
        "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0D) AS BIGINT))")
        .as("g"))
    val labels = connectedComponents(s, pairs)._1
      .withColumnRenamed("doc_id", "vec_id")
    val lab = grid.join(labels, Seq("vec_id"), "left")
      .withColumn("cluster_id", coalesce($"cluster_id", $"vec_id"))
    val cent = lab.select($"cluster_id", posexplode($"g").as(Seq("d", "v")))
      .groupBy($"cluster_id", $"d")
      .agg(floor(sum($"v").cast("double") / count(lit(1)))
        .cast("long").as("c"))
      .groupBy($"cluster_id")
      .agg(expr("transform(array_sort(collect_list(struct(d, c))), s -> s.c)")
        .as("cg"))
    val w = Window.partitionBy($"cluster_id")
      .orderBy($"dist2".desc, $"vec_id")
    lab.join(cent, "cluster_id")
      .withColumn("dist2", expr(
        "aggregate(zip_with(g, cg, (x, y) -> (x - y) * (x - y)), " +
          "CAST(0 AS BIGINT), (acc, e) -> acc + e)"))
      .withColumn("keep", row_number().over(w) === 1)
      .select($"vec_id", $"cluster_id", $"dist2", $"keep")
      .orderBy($"vec_id")
  }

  /** The DuckDB twin of [[semdedupKeeper]], appended after any CTE chain
    * ending in `cpairs(a_id, b_id, ...)`. A def, not a val: `specs`
    * initializes first in declaration order and would read a null val. */
  private def SemdedupKeeperSqlTail: String = """,
        edges AS (
          SELECT a_id AS s, b_id AS d FROM cpairs
          UNION ALL SELECT b_id, a_id FROM cpairs),
        reach AS (
          SELECT DISTINCT s AS id, s AS r FROM edges
          UNION
          SELECT e.s AS id, reach.r FROM edges e JOIN reach ON e.d = reach.id),
        labels AS (SELECT id AS vec_id, MIN(r) AS cluster_id
                   FROM reach GROUP BY id),
        grid AS (
          SELECT vec_id,
                 list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS g
          FROM embeddings),
        cl AS (
          SELECT grid.vec_id, COALESCE(l.cluster_id, grid.vec_id) AS cluster_id,
                 grid.g
          FROM grid LEFT JOIN labels l ON grid.vec_id = l.vec_id),
        m AS (
          SELECT cluster_id, d, CAST(floor(SUM(v) / COUNT(*)) AS BIGINT) AS c
          FROM (SELECT cluster_id, UNNEST(g) AS v, UNNEST(range(len(g))) AS d
                FROM cl)
          GROUP BY cluster_id, d),
        cg AS (SELECT cluster_id, list(c ORDER BY d) AS cg FROM m
               GROUP BY cluster_id),
        dist AS (
          SELECT cl.vec_id, cl.cluster_id,
                 CAST(list_sum(list_transform(generate_series(1, len(cl.g)),
                   i -> (cl.g[i] - cg.cg[i]) * (cl.g[i] - cg.cg[i])))
                   AS BIGINT) AS dist2
          FROM cl JOIN cg USING (cluster_id))
        SELECT vec_id, cluster_id, dist2,
               ROW_NUMBER() OVER (PARTITION BY cluster_id
                                  ORDER BY dist2 DESC, vec_id) = 1 AS keep
        FROM dist ORDER BY vec_id"""

  /** d24's multi-band sign-LSH signatures: one row per (vector, band).
    * Anchors are the first nBands·rowsPerBand corpus vectors (broadcast;
    * the anchor cross is O(n·bands·r) map-side work); plane p belongs to
    * band p DIV rowsPerBand and contributes bit p MOD rowsPerBand of the
    * band's signature. Anchor dots ride the codegen'd fused loop
    * (sequential index-order fold = the oracle's list_reduce,
    * bit-identical doubles, so bucket assignment never diverges —
    * s4's parity argument). */
  def bandSignatures(s: org.apache.spark.sql.SparkSession, dir: String,
                     nBands: Int, rowsPerBand: Int)
      : org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val emb = Tables(s, dir, "embeddings")
    // Anchors are the nA smallest-vec_id vectors BY RANK, not by the
    // `vec_id < nA` id filter: on the contiguous 0-based fixtures the
    // two are identical (so the pinned DuckDB oracle is unchanged), but
    // on a SPARSE id space the id filter silently under-selects — the
    // sf10 ScaleUp dir (ids shifted by copy·1e6) yielded only 2,000 of
    // the 6,948 requested anchors, quietly running 167 effective bands
    // instead of 579 and collapsing measured recall to 56% (SCALING.md
    // round 10). Rank selection makes the anchor count a guarantee;
    // plane = rank keeps the band/bit layout identical on contiguous
    // ids. The limit-then-window runs on an nA-row frame.
    val nA = nBands * rowsPerBand
    val w = org.apache.spark.sql.expressions.Window.orderBy($"vec_id")
    val anchors = emb.select($"vec_id", $"embedding")
      .orderBy($"vec_id").limit(nA)
      .select((row_number().over(w) - 1).as("plane"),
        $"embedding".as("av"))
    bandSignaturesOn(emb, anchors, rowsPerBand)
  }

  /** [[bandSignatures]] over ARBITRARY vector/anchor frames — the
    * incremental form d25 needs: signatures for `vecs(vec_id,
    * embedding)` against a FIXED `anchors(plane, av)` frame, so a new
    * batch buckets into the SAME band space as the standing corpus
    * without touching it (the anchor family is the index's immutable
    * part; signatures are additive per vector). Identical arithmetic to
    * the d24 path — bandSignatures delegates here. */
  def bandSignaturesOn(vecs: org.apache.spark.sql.DataFrame,
                       anchors: org.apache.spark.sql.DataFrame,
                       rowsPerBand: Int): org.apache.spark.sql.DataFrame = {
    import vecs.sparkSession.implicits._
    vecs.select($"vec_id", $"embedding")
      .crossJoin(broadcast(anchors))
      .withColumn("dot",
        graft.functions.GraftFunctions.dot($"embedding", $"av"))
      .groupBy($"vec_id",
        expr(s"CAST(plane DIV $rowsPerBand AS BIGINT)").as("band"))
      .agg(sum(when($"dot" >= 0,
          pow(lit(2.0), ($"plane" % rowsPerBand).cast("double")).cast("long"))
        .otherwise(0L)).as("sg"))
  }

  /** d24's banded near-dup pair generation — the PRODUCTION-scale edge
    * source replacing [[cosinePairs]]'s exact O(n²) block verifier:
    * candidates are pairs sharing a (band, signature) bucket in ANY of
    * the nBands bands (one equi-keyed self-join, distinct'd), and exact
    * cosine (round-6dp-then-filter, d5's convention) verifies ONLY the
    * candidate stream. Pair volume is Σ_band Σ_bucket occupancy² — with
    * blocksize-targeted sizing (see [[bandedCosinePairsAuto]]) that is
    * n·blocksize·bands instead of n², the d4 banding law with anchor
    * planes as the hash family. Returns (a_id, b_id, cosine), a_id <
    * b_id, unordered. */
  def bandedCosinePairs(s: org.apache.spark.sql.SparkSession, dir: String,
                        threshold: Double, nBands: Int, rowsPerBand: Int)
      : org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val sig = bandSignatures(s, dir, nBands, rowsPerBand)
    // Vectors ride THROUGH the bucket join (the s4/s8 shape): the only
    // big exchange carries n·bands (id, band, sg, vector) rows, and the
    // dedup across bands runs on the rounded SURVIVORS, not the raw
    // candidate stream — a pair colliding in k bands recomputes one
    // 64-flop cosine k−1 extra times instead of dragging the full
    // candidate volume through a DISTINCT exchange before the verify.
    // (Cosine is 6dp-rounded and deterministic per pair, so the final
    // distinct collapses band duplicates exactly.)
    val withVec = sig
      .join(Tables(s, dir, "embeddings").select($"vec_id", $"embedding"),
        "vec_id")
    val a = withVec.select($"band", $"sg", $"vec_id".as("a_id"),
      $"embedding".as("av"))
    val b = withVec.select($"band", $"sg", $"vec_id".as("b_id"),
      $"embedding".as("bv"))
    a.join(b, Seq("band", "sg"))
      .filter($"a_id" < $"b_id")
      .withColumn("cosine",
        round(graft.functions.GraftFunctions.cosineSim($"av", $"bv"), 6))
      .filter($"cosine" >= threshold)
      .select($"a_id", $"b_id", $"cosine")
      .distinct()
  }

  /** Blocksize-targeted auto-sizing for [[bandedCosinePairs]] — the
    * 100 TB knob the roster query pins at the driver-SF values (10, 3):
    *  - r grows with log n: the smallest r with (MaxCosineBlock/8)·2^r
    *    ≥ n, so per-band bucket occupancy stays ~64 rows and candidate
    *    volume stays n·occupancy·bands — linear in n per band;
    *  - bands compensate r for recall: ceil(ln 10 / p1^r) keeps the
    *    per-pair miss probability (1−p1^r)^bands ≤ 10% at the
    *    threshold, where p1 = 1 − acos(threshold)/π is the sign-LSH
    *    collision probability (Goemans–Williamson). Total work follows
    *    the LSH n^(1+ρ) law, ρ = ln p1 / ln(1/2).
    * Returns (pairs, nBands, rowsPerBand) so scale harnesses can report
    * the chosen shape. At sf0.01 (n=500) this derives exactly (10, 3) —
    * the roster pin IS the auto shape at the driver SF. */
  def bandedCosinePairsAuto(s: org.apache.spark.sql.SparkSession,
                            dir: String, threshold: Double)
      : (org.apache.spark.sql.DataFrame, Int, Int) = {
    val n = Tables(s, dir, "embeddings").count() // parquet metadata count
    val (nBands, r) = autoShape(n, threshold)
    // anchor sufficiency is a hard precondition, not a silent cap: a
    // corpus smaller than its own anchor demand means the threshold/
    // scale combination is outside this design's regime (use the exact
    // d5 kernel there — n is tiny by definition)
    require(nBands.toLong * r <= n,
      s"auto-sizing needs ${nBands.toLong * r} anchors but the corpus has $n vectors")
    (bandedCosinePairs(s, dir, threshold, nBands, r), nBands, r)
  }

  /** The pure sizing rule behind [[bandedCosinePairsAuto]], factored out
    * so d26's oracle can be GENERATED for the shape the rule derives at
    * the driver SF (round 12). Returns (nBands, rowsPerBand). */
  def autoShape(n: Long, threshold: Double): (Int, Int) = {
    val targetBlock = (MaxCosineBlock / 8).toLong
    var r = 1
    while ((targetBlock << r) < n) r += 1
    val p1 = 1.0 - math.acos(threshold) / math.Pi
    val nBands = math.max(8,
      math.ceil(math.log(10.0) / math.pow(p1, r)).toInt)
    (nBands, r)
  }

  /** d25's STANDING SIGNATURE INDEX — the persisted, bucket-keyed
    * artifact the roster query's 100 TB story was prose about until
    * round 12 (VERDICT r11 #2; the MinHashDedup.lshIndex pattern applied
    * to embeddings). Two write-once parquet tables under
    * `data/semidx_<sf>/`:
    *  - `anchors/` — (plane, av): the band space's immutable part, the
    *    first bands·r standing-corpus vectors BY RANK (seed-free,
    *    d24's argument);
    *  - `signatures/` — (sg, corpus_id) PARTITIONED BY band: one row
    *    per (corpus vector, band), the bucket keys an incremental batch
    *    probes. Append-only in production as batches are admitted; the
    *    fixture form rebuilds only when the source parquet fingerprint
    *    drifts (the partitionedCorpus marker convention).
    * The standing corpus is d25's split (vec_id % 5 != 0); returns the
    * index root path. */
  private[graft] def semanticIndex(s: org.apache.spark.sql.SparkSession,
                                   dir: String,
                                   shape: (Int, Int) = D25Shape): String = {
    import s.implicits._
    val (nBands, r) = shape
    val root = new java.io.File(sys.props.getOrElse("graft.fixture.dir",
      sys.props("user.dir") + "/data"))
    val base = new java.io.File(dir).getName.replaceAll("[^A-Za-z0-9._-]", "_")
    // a non-default shape stages under its own root so the pinned d25
    // artifacts are never clobbered by a dev-shape run
    val prefix = if (shape == D25Shape) "semidx_"
                 else s"semidx_b${nBands}r${r}_"
    val path = new java.io.File(root, prefix + base)
    if (verifiedIndexes.contains(path.getAbsolutePath))
      return path.getAbsolutePath
    val stamp = s"v1:b$nBands-r$r:${Multimodal.sourceFingerprint(
      new java.io.File(dir, "embeddings.parquet"))}"
    val marker = new java.io.File(path.getAbsolutePath + ".staged")
    val upToDate = path.isDirectory && marker.isFile &&
      new String(java.nio.file.Files.readAllBytes(marker.toPath)) == stamp
    if (!upToDate) {
      val emb = Tables(s, dir, "embeddings").select($"vec_id", $"embedding")
      val corpus = emb.filter($"vec_id" % 5 =!= 0)
      val wA = org.apache.spark.sql.expressions.Window.orderBy($"vec_id")
      val anchors = corpus.orderBy($"vec_id").limit(nBands * r)
        .select((row_number().over(wA) - 1).as("plane"),
          $"embedding".as("av"))
      anchors.write.mode("overwrite")
        .parquet(new java.io.File(path, "anchors").getAbsolutePath)
      bandSignaturesOn(corpus, anchors, r)
        .select($"band", $"sg", $"vec_id".as("corpus_id"))
        .write.mode("overwrite").partitionBy("band")
        .parquet(new java.io.File(path, "signatures").getAbsolutePath)
      java.nio.file.Files.write(marker.toPath, stamp.getBytes)
      ()
    }
    verifiedIndexes.add(path.getAbsolutePath)
    path.getAbsolutePath
  }

  private val verifiedIndexes =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** d25's probe path: sign ONLY the incoming batch against the standing
    * index's anchors and bucket-join it into the persisted signatures —
    * per run the work is |batch|·bands·r signing dots plus the exact
    * verify on candidates; the corpus embeddings are touched only for
    * the candidate rows' vectors (an equi-join probe, never a re-sign).
    * The batch signature frame is BROADCAST into the bucket join, so the
    * standing index is scanned but never shuffled — at 100 TB the only
    * exchange is candidate-sized. DedupStressSpec pins this frame
    * row-identical to [[incrementalSemdedupInline]]. */
  private[graft] def semanticProbe(s: org.apache.spark.sql.SparkSession,
                                   dir: String, indexRoot: String)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val th = D25Threshold
    val r = D25Shape._2
    val anchors = s.read.parquet(
      new java.io.File(indexRoot, "anchors").getAbsolutePath)
    // the partition column comes back via directory-name inference
    // (int); re-align it with the batch side's BIGINT band before the
    // bucket join so the key never coerces mid-plan
    val cSig = s.read.parquet(
      new java.io.File(indexRoot, "signatures").getAbsolutePath)
      .select($"band".cast("long").as("band"), $"sg", $"corpus_id")
    val emb = Tables(s, dir, "embeddings").select($"vec_id", $"embedding")
    val batch = emb.filter($"vec_id" % 5 === 0)
    val bSig = bandSignaturesOn(batch, anchors, r)
      .select($"band", $"sg", $"vec_id".as("new_id"))
    val cand = cSig.join(broadcast(bSig), Seq("band", "sg"))
      .select($"new_id", $"corpus_id").distinct()
    val matches = cand
      .join(emb.select($"vec_id".as("new_id"), $"embedding".as("nv")),
        "new_id")
      .join(emb.select($"vec_id".as("corpus_id"), $"embedding".as("cv")),
        "corpus_id")
      .withColumn("cosine",
        round(graft.functions.GraftFunctions.cosineSim($"nv", $"cv"), 6))
      .filter($"cosine" >= th)
      .select($"new_id", $"corpus_id", $"cosine")
    val best = matches
      .withColumn("rk", row_number().over(
        Window.partitionBy($"new_id")
          .orderBy($"cosine".desc, $"corpus_id")))
      .filter($"rk" === 1)
      .select($"new_id", $"corpus_id".as("matched_id"),
        $"cosine".as("best_cosine"))
    batch.select($"vec_id".as("new_id"))
      .join(best, Seq("new_id"), "left_outer")
      .select($"new_id", $"matched_id".isNull.as("admitted"),
        $"matched_id", $"best_cosine")
      .orderBy($"new_id")
  }

  /** d28's STANDING LABEL artifact — the cluster assignment a 100 TB
    * corpus carries between ingest batches, staged once beside the
    * signature index ([[semanticIndex]]'s root, `labels/` + a
    * `.labeled` marker on the same source-fingerprint stamp): banded
    * corpus↔corpus edges derived from the PERSISTED signatures (one
    * equi-keyed self-join on (band, sg) — the index is the candidate
    * structure, the corpus is never re-signed) verified by exact
    * cosine at d25's threshold, then [[connectedComponents]]. Rows are
    * (doc_id, cluster_id = min doc_id in component) for every corpus
    * doc with ≥1 corpus edge — exactly the d7 label shape. */
  private[graft] def corpusLabels(s: org.apache.spark.sql.SparkSession,
                                  dir: String, indexRoot: String): String = {
    import s.implicits._
    val th = D25Threshold
    val path = new java.io.File(indexRoot, "labels")
    val stamp = s"v1:labels:${Multimodal.sourceFingerprint(
      new java.io.File(dir, "embeddings.parquet"))}"
    val marker = new java.io.File(indexRoot + ".labeled")
    val upToDate = path.isDirectory && marker.isFile &&
      new String(java.nio.file.Files.readAllBytes(marker.toPath)) == stamp
    if (!upToDate) {
      val cSig = s.read.parquet(
        new java.io.File(indexRoot, "signatures").getAbsolutePath)
        .select($"band".cast("long").as("band"), $"sg", $"corpus_id")
      val emb = Tables(s, dir, "embeddings").select($"vec_id", $"embedding")
      val cand = cSig.select($"band", $"sg", $"corpus_id".as("a_id"))
        .join(cSig.select($"band", $"sg", $"corpus_id".as("b_id")),
          Seq("band", "sg"))
        .filter($"a_id" < $"b_id")
        .select($"a_id", $"b_id").distinct()
      val edges = cand
        .join(emb.select($"vec_id".as("a_id"), $"embedding".as("av")), "a_id")
        .join(emb.select($"vec_id".as("b_id"), $"embedding".as("bv")), "b_id")
        .withColumn("cosine",
          round(graft.functions.GraftFunctions.cosineSim($"av", $"bv"), 6))
        .filter($"cosine" >= th)
        .select($"a_id", $"b_id")
      connectedComponents(s, edges)._1
        .write.mode("overwrite").parquet(path.getAbsolutePath)
      java.nio.file.Files.write(marker.toPath, stamp.getBytes)
      ()
    }
    path.getAbsolutePath
  }

  /** d28's INCREMENTAL cluster maintenance — the d25/s13 standing-
    * artifact move applied to connected components, which is the piece
    * that makes near-dup CLUSTERING (not just pair detection) viable as
    * a daily ingest job at 100 TB: the corpus labeling is maintained,
    * never recomputed. Per batch the work is
    *  1. sign ONLY the batch against the index anchors
    *     (|batch|·bands·r dots);
    *  2. candidates: batch signatures BROADCAST into the persisted
    *     bucket index (batch↔corpus — the index is scanned, never
    *     shuffled) plus a batch↔batch broadcast self-join;
    *  3. exact-cosine verify on the candidate stream only → NEW edges;
    *  4. CONTRACT each new edge endpoint to its standing supernode
    *     (corpus doc → its standing label, fresh doc → itself) and run
    *     [[connectedComponents]] on the contracted graph — batch-sized,
    *     never corpus-sized: an edge inside an existing cluster
    *     contracts to a self-loop and vanishes;
    *  5. relabel: the resolution map (touched supernode → merged label)
    *     is tiny and BROADCAST, so the standing label table is rewritten
    *     with one map-side scan — untouched clusters' labels flow
    *     through coalesce unchanged. (A production job would write only
    *     the delta — rows whose label changed — plus the fresh docs;
    *     the roster row emits the full maintained table because that is
    *     the object the oracle can pin.)
    * Equivalence to a full recompute is exact, not approximate: the
    * incremental edge set (standing corpus edges ∪ new edges) IS the
    * full banded edge set over corpus∪batch at the index's anchors,
    * and min-label union-find is associative under contraction — so
    * the GENERATED oracle ([[D28OracleSql]]) replays the full
    * recompute and must match row-for-row, which is the whole gate:
    * maintained labels ≡ labels a from-scratch run would produce. */
  private[graft] def incrementalClusters(
      s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame =
    incrementalClustersAt(s, dir, D25Shape)

  /** [[incrementalClusters]] at an explicit index shape — the
    * maintenance math is shape-generic (the shape is a STAGING-time
    * parameter of the standing index); IncrementalClustersSpec pins
    * maintained ≡ recomputed at a second shape to make that a checked
    * property, not a claim. */
  private[graft] def incrementalClustersAt(
      s: org.apache.spark.sql.SparkSession, dir: String, shape: (Int, Int))
      : org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val indexRoot = semanticIndex(s, dir, shape)
    val standing = s.read.parquet(corpusLabels(s, dir, indexRoot))
    val anchors = s.read.parquet(
      new java.io.File(indexRoot, "anchors").getAbsolutePath)
    val cSig = s.read.parquet(
      new java.io.File(indexRoot, "signatures").getAbsolutePath)
      .select($"band".cast("long").as("band"), $"sg", $"corpus_id".as("id"))
    val emb = Tables(s, dir, "embeddings").select($"vec_id", $"embedding")
    val batch = emb.filter($"vec_id" % 5 === 0)
    maintainStep(s, emb, anchors, shape._2, D25Threshold,
      standing, cSig, batch)._1.orderBy($"doc_id")
  }

  /** ONE maintenance step of the d28 loop, shared verbatim by the
    * one-shot roster row and st17's per-micro-batch streaming twin (so
    * the two paths cannot drift): given the id→vector lookup, the
    * index's anchors, the ACCUMULATED signature set (corpus + every
    * previously admitted batch), the current label table and an
    * arriving `batch(vec_id, embedding)`, returns (updatedLabels,
    * updatedSigs) — both checkpoint-rebased so a loop of steps keeps
    * constant-size plans and default leaf stats (the r13 CC lesson).
    * The batch's own signatures join the accumulated set only AFTER
    * the step, so candidates split cleanly into batch↔standing
    * (broadcast into the persisted/accumulated buckets) and
    * batch↔batch (broadcast self-join). */
  private[graft] def maintainStep(s: org.apache.spark.sql.SparkSession,
      emb: org.apache.spark.sql.DataFrame,
      anchors: org.apache.spark.sql.DataFrame,
      rowsPerBand: Int, threshold: Double,
      labels: org.apache.spark.sql.DataFrame,
      sigs: org.apache.spark.sql.DataFrame,
      batch: org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    import s.implicits._
    // LAZY checkpoints (r19): bSig materializes inside the first
    // broadcast build that reads it, newEdges inside the contracted
    // graph's CC sizing count — the two leading eager jobs per
    // micro-batch fold into actions the step already pays. Both stay
    // cached for their later consumers exactly as before.
    val bSig = bandSignaturesOn(batch, anchors, rowsPerBand)
      .select($"band", $"sg", $"vec_id".as("new_id")).localCheckpoint(false)
    val bc = sigs.join(broadcast(bSig), Seq("band", "sg"))
      .select(least($"new_id", $"id").as("a_id"),
        greatest($"new_id", $"id").as("b_id"))
      .filter($"a_id" =!= $"b_id")
    val bb = bSig.select($"band", $"sg", $"new_id".as("a_id"))
      .join(broadcast(bSig.select($"band", $"sg", $"new_id".as("b_id"))),
        Seq("band", "sg"))
      .filter($"a_id" < $"b_id")
      .select($"a_id", $"b_id")
    val newEdges = bc.union(bb).distinct()
      .join(emb.select($"vec_id".as("a_id"), $"embedding".as("av")), "a_id")
      .join(emb.select($"vec_id".as("b_id"), $"embedding".as("bv")), "b_id")
      .withColumn("cosine",
        round(graft.functions.GraftFunctions.cosineSim($"av", $"bv"), 6))
      .filter($"cosine" >= threshold)
      .select($"a_id", $"b_id").localCheckpoint(false)
    val contracted = newEdges
      .join(labels.select($"doc_id".as("a_id"), $"cluster_id".as("la")),
        Seq("a_id"), "left")
      .join(labels.select($"doc_id".as("b_id"), $"cluster_id".as("lb")),
        Seq("b_id"), "left")
      .select(coalesce($"la", $"a_id").as("a_id"),
        coalesce($"lb", $"b_id").as("b_id"))
      .filter($"a_id" =!= $"b_id").distinct()
    val resolved = connectedComponents(s, contracted)._1
      .select($"doc_id".as("node"), $"cluster_id".as("merged"))
    val standingFinal = labels
      .join(broadcast(resolved), labels("cluster_id") === $"node", "left")
      .select($"doc_id", coalesce($"merged", $"cluster_id").as("cluster_id"))
    // endpoints with no standing label: every batch doc in a new edge,
    // plus standing docs whose FIRST edge ever is to this batch — each
    // appears as itself in the contracted graph, so `resolved` covers it
    val fresh = newEdges.select($"a_id".as("doc_id"))
      .union(newEdges.select($"b_id".as("doc_id"))).distinct()
      .join(labels.select($"doc_id"), Seq("doc_id"), "left_anti")
    val freshFinal = fresh
      .join(broadcast(resolved), fresh("doc_id") === $"node", "left")
      .select($"doc_id", coalesce($"merged", $"doc_id").as("cluster_id"))
    // LAZY trailing checkpoints (r19 — VERDICT r18 #4): the step's two
    // state outputs materialize in the CONSUMER's first action (the
    // next micro-batch's joins, or the final sink for labels), not in
    // two extra eager jobs per batch; d28's one-shot never computes the
    // signature set it discards. Plan depth stays bounded at one step
    // (the next step's action caches these before building on them).
    val newLabels = graft.Materialize.checkpointRebasedLazy(
      standingFinal.union(freshFinal))
    val newSigs = graft.Materialize.checkpointRebasedLazy(
      sigs.union(bSig.select($"band", $"sg", $"new_id".as("id"))))
    (newLabels, newSigs)
  }

  /** d28's oracle + operating point, shared with st17's streaming twin
    * (the stream must land on the same full-recompute rows). */
  private[graft] def d28Oracle: String =
    D28OracleSql(D25Threshold, D25Shape._1, D25Shape._2)
  private[graft] def d28Threshold: Double = D25Threshold
  private[graft] def d28Shape: (Int, Int) = D25Shape

  /** The pre-round-12 INLINE derivation of d25 (corpus re-signed every
    * run) — retained as the equivalence twin DedupStressSpec pins the
    * probe path against, and as the shape the DuckDB oracle replays. */
  private[graft] def incrementalSemdedupInline(
      s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val th = D25Threshold
    val (nBands, r) = D25Shape
    val emb = Tables(s, dir, "embeddings")
      .select($"vec_id", $"embedding")
    val corpus = emb.filter($"vec_id" % 5 =!= 0)
    val batch = emb.filter($"vec_id" % 5 === 0)
    val wA = Window.orderBy($"vec_id")
    val anchors = corpus.orderBy($"vec_id").limit(nBands * r)
      .select((row_number().over(wA) - 1).as("plane"),
        $"embedding".as("av"))
    val cSide = bandSignaturesOn(corpus, anchors, r)
      .join(corpus, "vec_id")
      .select($"band", $"sg", $"vec_id".as("corpus_id"),
        $"embedding".as("cv"))
    val bSide = bandSignaturesOn(batch, anchors, r)
      .join(batch, "vec_id")
      .select($"band", $"sg", $"vec_id".as("new_id"),
        $"embedding".as("nv"))
    val matches = bSide.join(cSide, Seq("band", "sg"))
      .withColumn("cosine",
        round(graft.functions.GraftFunctions.cosineSim($"nv", $"cv"), 6))
      .filter($"cosine" >= th)
      .select($"new_id", $"corpus_id", $"cosine")
      .distinct()
    val best = matches
      .withColumn("rk", row_number().over(
        Window.partitionBy($"new_id")
          .orderBy($"cosine".desc, $"corpus_id")))
      .filter($"rk" === 1)
      .select($"new_id", $"corpus_id".as("matched_id"),
        $"cosine".as("best_cosine"))
    batch.select($"vec_id".as("new_id"))
      .join(best, Seq("new_id"), "left_outer")
      .select($"new_id", $"matched_id".isNull.as("admitted"),
        $"matched_id", $"best_cosine")
      .orderBy($"new_id")
  }

  /** GENERATED DuckDB twin of d25 (ADVICE r11: the hand-written form
    * hardcoded the (10, 3) shape in three places) — every shape-
    * dependent term (anchor LIMIT, band division, bit weights, the
    * threshold) derives from the same constants the Scala side uses. */
  /** d28's GENERATED oracle — the FULL RECOMPUTE the incremental path
    * must equal: anchors are the first bands·r CORPUS vectors BY RANK
    * (the index's immutable band space — [[semanticIndex]]'s selection,
    * replayed), signatures cover corpus AND batch, candidates are all
    * same-bucket pairs, exact cosine at the threshold, recursive CC,
    * label = min reachable id. Shares [[D25Threshold]]/[[D25Shape]]
    * with the Scala path so the operating point can never drift. */
  private def D28OracleSql(threshold: Double, nBands: Int, r: Int): String = s"""
        WITH RECURSIVE corpus AS (
          SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 <> 0),
        anch AS (
          SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS plane,
                 embedding AS av
          FROM corpus ORDER BY vec_id LIMIT ${nBands * r}),
        dots AS (
          SELECT e.vec_id, anch.plane,
                 list_reduce(list_prepend(CAST(0 AS DOUBLE),
                   list_transform(generate_series(1, len(e.embedding)),
                     i -> CAST(e.embedding[i] AS DOUBLE) * CAST(anch.av[i] AS DOUBLE))),
                   (acc, x) -> acc + x) AS dot
          FROM embeddings e CROSS JOIN anch),
        sig AS (
          SELECT vec_id, CAST(plane // $r AS BIGINT) AS band,
                 CAST(SUM(CASE WHEN dot >= 0
                               THEN CAST(pow(2, plane % $r) AS BIGINT)
                               ELSE 0 END) AS BIGINT) AS sg
          FROM dots GROUP BY vec_id, band),
        cand AS (
          SELECT DISTINCT x.vec_id AS a_id, y.vec_id AS b_id
          FROM sig x JOIN sig y
            ON x.band = y.band AND x.sg = y.sg AND x.vec_id < y.vec_id),
        cp AS (
          SELECT c.a_id, c.b_id,
                 ROUND(
                   list_sum(list_transform(generate_series(1, len(a.embedding)),
                     i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
                   / (sqrt(list_sum(list_transform(generate_series(1, len(a.embedding)),
                        i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))))
                      * sqrt(list_sum(list_transform(generate_series(1, len(b.embedding)),
                          i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))))), 6) AS cosine
          FROM cand c JOIN embeddings a ON a.vec_id = c.a_id
                      JOIN embeddings b ON b.vec_id = c.b_id),
        cpairs AS (SELECT a_id, b_id FROM cp WHERE cosine >= $threshold),
        edges AS (
          SELECT a_id AS s, b_id AS d FROM cpairs
          UNION ALL SELECT b_id, a_id FROM cpairs),
        reach AS (
          SELECT DISTINCT s AS id, s AS r FROM edges
          UNION
          SELECT e.s AS id, reach.r FROM edges e JOIN reach ON e.d = reach.id)
        SELECT id AS doc_id, MIN(r) AS cluster_id
        FROM reach GROUP BY id ORDER BY doc_id"""

  private def D25OracleSql(threshold: Double, nBands: Int, r: Int): String = s"""
        WITH corpus AS (
          SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 <> 0),
        batch AS (
          SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 = 0),
        anch AS (
          SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS plane,
                 embedding AS av
          FROM corpus ORDER BY vec_id LIMIT ${nBands * r}),
        cdots AS (
          SELECT c.vec_id, anch.plane,
                 list_reduce(list_prepend(CAST(0 AS DOUBLE),
                   list_transform(generate_series(1, len(c.embedding)),
                     i -> CAST(c.embedding[i] AS DOUBLE) * CAST(anch.av[i] AS DOUBLE))),
                   (acc, x) -> acc + x) AS dot
          FROM corpus c CROSS JOIN anch),
        bdots AS (
          SELECT b.vec_id, anch.plane,
                 list_reduce(list_prepend(CAST(0 AS DOUBLE),
                   list_transform(generate_series(1, len(b.embedding)),
                     i -> CAST(b.embedding[i] AS DOUBLE) * CAST(anch.av[i] AS DOUBLE))),
                   (acc, x) -> acc + x) AS dot
          FROM batch b CROSS JOIN anch),
        csig AS (
          SELECT vec_id, CAST(plane // $r AS BIGINT) AS band,
                 CAST(SUM(CASE WHEN dot >= 0
                               THEN CAST(pow(2, plane % $r) AS BIGINT)
                               ELSE 0 END) AS BIGINT) AS sg
          FROM cdots GROUP BY vec_id, band),
        bsig AS (
          SELECT vec_id, CAST(plane // $r AS BIGINT) AS band,
                 CAST(SUM(CASE WHEN dot >= 0
                               THEN CAST(pow(2, plane % $r) AS BIGINT)
                               ELSE 0 END) AS BIGINT) AS sg
          FROM bdots GROUP BY vec_id, band),
        cand AS (
          SELECT DISTINCT b.vec_id AS new_id, c.vec_id AS corpus_id
          FROM bsig b JOIN csig c ON b.band = c.band AND b.sg = c.sg),
        cp AS (
          SELECT cand.new_id, cand.corpus_id,
                 ROUND(
                   list_sum(list_transform(generate_series(1, len(a.embedding)),
                     i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
                   / (sqrt(list_sum(list_transform(generate_series(1, len(a.embedding)),
                        i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))))
                      * sqrt(list_sum(list_transform(generate_series(1, len(b.embedding)),
                          i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))))), 6) AS cosine
          FROM cand JOIN embeddings a ON a.vec_id = cand.new_id
                    JOIN embeddings b ON b.vec_id = cand.corpus_id),
        m AS (SELECT * FROM cp WHERE cosine >= $threshold),
        best AS (
          SELECT new_id, corpus_id AS matched_id, cosine AS best_cosine,
                 ROW_NUMBER() OVER (PARTITION BY new_id
                   ORDER BY cosine DESC, corpus_id) AS rk
          FROM m)
        SELECT bt.vec_id AS new_id,
               (w.matched_id IS NULL) AS admitted,
               w.matched_id, w.best_cosine
        FROM batch bt
        LEFT JOIN (SELECT * FROM best WHERE rk = 1) w
          ON bt.vec_id = w.new_id
        ORDER BY new_id"""

  /** DuckDB twin of [[bandedCosinePairs]]: identical anchors, identical
    * sequential-fold dots, identical band/bit layout, exact cosine over
    * candidates only — ends in the same `cpairs(a_id, b_id, cosine)`
    * shape as [[CosinePairsOracle]] so the keeper tail composes. */
  /** [[BandedCosinePairsOracle]] with the AUTO shape derived inside the
    * SQL itself — the [[autoShape]] rule replayed over COUNT(*): r is
    * the exact integer loop (MIN r with (targetBlock << r) >= n, via
    * generate_series — no float log2, so power-of-two boundaries can't
    * drift), nBands the same ceil/pow expression both engines evaluate
    * in IEEE doubles. This makes the d26/d27 compare SF-INVARIANT: the
    * old literal shape was generated for the driver's 500-row fixture
    * and went red at any other scale. Ends at the `cpairs` CTE exactly
    * like the static template, so the two compose interchangeably. */
  private def BandedCosinePairsAutoOracle(threshold: Double): String = {
    val targetBlock = (MaxCosineBlock / 8).toLong
    s"""
        WITH nn AS (SELECT COUNT(*) AS n FROM embeddings),
        rsel0 AS (
          SELECT (SELECT MIN(r) FROM generate_series(1, 50) t(r)
                  WHERE (CAST($targetBlock AS BIGINT) << r) >= nn.n) AS r
          FROM nn),
        -- ADVICE r14: if n ever exceeded targetBlock << 50 the MIN above
        -- is NULL and the oracle would silently degenerate to empty
        -- while the Scala autoShape loop keeps going — fail LOUDLY
        -- instead (error() is evaluated lazily inside CASE, probed).
        rsel AS (
          SELECT CASE WHEN r IS NULL THEN CAST(error(
                   'banded auto-shape oracle: n exceeds targetBlock<<50')
                   AS INT) ELSE r END AS r
          FROM rsel0),
        sh AS (
          SELECT r, GREATEST(8, CAST(CEIL(LN(10) /
                 POW(1 - ACOS($threshold) / PI(), r)) AS INT)) AS nb
          FROM rsel),
        anch AS (SELECT vec_id AS plane, embedding AS av
                 FROM embeddings, sh WHERE vec_id < CAST(nb AS BIGINT) * r),
        bdots AS (
          SELECT e.vec_id, anch.plane,
                 list_reduce(list_prepend(CAST(0 AS DOUBLE),
                   list_transform(generate_series(1, len(e.embedding)),
                     i -> CAST(e.embedding[i] AS DOUBLE) * CAST(anch.av[i] AS DOUBLE))),
                   (acc, x) -> acc + x) AS dot
          FROM embeddings e CROSS JOIN anch),
        sig AS (
          SELECT vec_id, CAST(plane // sh.r AS BIGINT) AS band,
                 CAST(SUM(CASE WHEN dot >= 0
                               THEN CAST(pow(2, plane % sh.r) AS BIGINT)
                               ELSE 0 END) AS BIGINT) AS sg
          FROM bdots, sh GROUP BY vec_id, band),
        cand AS (
          SELECT DISTINCT x.vec_id AS a_id, y.vec_id AS b_id
          FROM sig x JOIN sig y
            ON x.band = y.band AND x.sg = y.sg AND x.vec_id < y.vec_id),
        cp AS (
          SELECT c.a_id, c.b_id,
                 ROUND(
                   list_sum(list_transform(generate_series(1, len(a.embedding)),
                     i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
                   / (sqrt(list_sum(list_transform(generate_series(1, len(a.embedding)),
                        i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))))
                      * sqrt(list_sum(list_transform(generate_series(1, len(b.embedding)),
                          i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))))), 6) AS cosine
          FROM cand c JOIN embeddings a ON a.vec_id = c.a_id
                      JOIN embeddings b ON b.vec_id = c.b_id),
        cpairs AS (SELECT a_id, b_id, cosine FROM cp WHERE cosine >= $threshold)"""
  }

  private def BandedCosinePairsOracle(threshold: Double, nBands: Int,
                                      rowsPerBand: Int): String = s"""
        WITH anch AS (SELECT vec_id AS plane, embedding AS av
                      FROM embeddings WHERE vec_id < ${nBands * rowsPerBand}),
        bdots AS (
          SELECT e.vec_id, anch.plane,
                 list_reduce(list_prepend(CAST(0 AS DOUBLE),
                   list_transform(generate_series(1, len(e.embedding)),
                     i -> CAST(e.embedding[i] AS DOUBLE) * CAST(anch.av[i] AS DOUBLE))),
                   (acc, x) -> acc + x) AS dot
          FROM embeddings e CROSS JOIN anch),
        sig AS (
          SELECT vec_id, CAST(plane // $rowsPerBand AS BIGINT) AS band,
                 CAST(SUM(CASE WHEN dot >= 0
                               THEN CAST(pow(2, plane % $rowsPerBand) AS BIGINT)
                               ELSE 0 END) AS BIGINT) AS sg
          FROM bdots GROUP BY vec_id, band),
        cand AS (
          SELECT DISTINCT x.vec_id AS a_id, y.vec_id AS b_id
          FROM sig x JOIN sig y
            ON x.band = y.band AND x.sg = y.sg AND x.vec_id < y.vec_id),
        cp AS (
          SELECT c.a_id, c.b_id,
                 ROUND(
                   list_sum(list_transform(generate_series(1, len(a.embedding)),
                     i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
                   / (sqrt(list_sum(list_transform(generate_series(1, len(a.embedding)),
                        i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))))
                      * sqrt(list_sum(list_transform(generate_series(1, len(b.embedding)),
                          i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))))), 6) AS cosine
          FROM cand c JOIN embeddings a ON a.vec_id = c.a_id
                      JOIN embeddings b ON b.vec_id = c.b_id),
        cpairs AS (SELECT a_id, b_id, cosine FROM cp WHERE cosine >= $threshold)"""

  private def CosinePairsOracle(threshold: Double): String = s"""
        WITH e AS (SELECT vec_id, embedding FROM embeddings),
        p AS (
          SELECT a.vec_id AS a_id, b.vec_id AS b_id,
                 ROUND(
                   list_sum(list_transform(generate_series(1, len(a.embedding)),
                     i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
                   / (sqrt(list_sum(list_transform(generate_series(1, len(a.embedding)),
                        i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))))
                      * sqrt(list_sum(list_transform(generate_series(1, len(b.embedding)),
                          i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))))), 6) AS cosine
          FROM e a JOIN e b ON a.vec_id < b.vec_id),
        cpairs AS (SELECT a_id, b_id, cosine FROM p WHERE cosine >= $threshold)"""
}
