package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Stress tests for the dedup plane's two scale defenses:
  *
  *  1. d7's connected-components iteration on a pathological chain graph —
  *     pointer jumping must converge in O(log diameter) rounds (a plain
  *     min-label propagation would need one round per hop), and the
  *     non-convergence guard must fail loudly when the round cap is too
  *     small instead of returning silently-partial labels.
  *
  *  2. d2/d4 on a skewed corpus where one boilerplate phrase appears in
  *     90% of documents. The MaxShingleDf cap must drop the hot shingles
  *     BEFORE the inverted-index self-join, so boilerplate-only overlap
  *     produces zero pairs (the unguarded join would emit O(df²) pairs on
  *     the hot keys — ~16k here, ~10¹⁵ at 100 TB), while genuine
  *     near-dups still surface. MinHash+LSH must likewise return only the
  *     true pairs: hot-shingle band collisions inflate candidates, but
  *     the exact rerank kills them.
  */
class DedupStressSpec extends SparkTestBase {

  import spark.implicits._

  // ------------------------------------------------------------- d7 chain

  test("connected components converges on a 300-node chain in O(log d) rounds") {
    val chain = spark.range(0, 299)
      .select($"id".as("a_id"), ($"id" + 1).as("b_id"))
    val (labels, rounds) = Dedup.connectedComponents(spark, chain)
    val rows = labels.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.length == 300)
    assert(rows.forall(_._2 == 0L), "every chain node must label to min id 0")
    // diameter 299; plain propagation would need ~299 rounds. Pointer
    // jumping contracts exponentially — well under the 25-round cap.
    assert(rounds <= 15, s"pointer jumping took $rounds rounds on a 300-chain")
  }

  test("connected components handles a 100k-edge graph with planted clusters") {
    // ~100k edges, three planted shapes stressing different contraction
    // behavior (VERDICT r6 next-round #6): a 30k-node CHAIN (diameter
    // 30000 — the pointer-jumping worst case), a 25k-leaf STAR (max
    // fan-in on one label), and 15k independent 4-node PATHS (the
    // realistic many-small-clusters dedup shape). All generated
    // distributed via spark.range; all assertions are DataFrame-side
    // aggregates — the only collects are the tiny summaries.
    val chain = spark.range(0, 30000)
      .select($"id".as("a_id"), ($"id" + 1).as("b_id"))
    val star = spark.range(100001, 125001)
      .select(lit(100000L).as("a_id"), $"id".as("b_id"))
    // NB $"id" / 3 is DOUBLE division in Spark — floor+cast keeps the
    // ids BIGINT (connectedComponents' label-sum fixpoint needs it)
    val quadBase = lit(200000L) + floor($"id" / 3).cast("long") * 4 + ($"id" % 3)
    val quads = spark.range(0, 45000).select(
      quadBase.as("a_id"), (quadBase + 1).as("b_id"))
    val edges = chain.union(star).union(quads)
    assert(edges.count() == 100000L)

    val (labels, rounds) = Dedup.connectedComponents(spark, edges)
    // O(log d): diameter 30000 ⇒ ~15 doubling rounds; 20 leaves slack
    // without ever letting a linear regression (30000 rounds) sneak by
    assert(rounds <= 20, s"took $rounds rounds on a diameter-30000 graph")

    // every component labels to its min id, sizes exactly as planted
    val sizes = labels.groupBy($"cluster_id").agg(count(lit(1)).as("n"))
    val byN = sizes.groupBy($"n").agg(count(lit(1)).as("clusters"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(byN == Map(30001L -> 1L, 25001L -> 1L, 4L -> 15000L),
      s"cluster size histogram was $byN")
    val big = sizes.filter($"n" > 4).select($"cluster_id")
      .collect().map(_.getLong(0)).toSet
    assert(big == Set(0L, 100000L), "chain and star must label to min ids")
    // the 4-node paths each label to their own base id
    assert(sizes.filter($"n" === 4 &&
      ($"cluster_id" - 200000L) % 4 === 0).count() == 15000L)
  }

  test("non-convergence guard fails loudly when the cap is too small") {
    val chain = spark.range(0, 299)
      .select($"id".as("a_id"), ($"id" + 1).as("b_id"))
    val e = intercept[IllegalStateException] {
      Dedup.connectedComponents(spark, chain, maxRounds = 2)
    }
    assert(e.getMessage.contains("did not converge"))
  }

  // --------------------------------------------------------- d2/d4 skew

  /** 200 docs: 90% share a 5-token boilerplate prefix (hot 3-gram shingles
    * with df = 180 >> MaxShingleDf = 50) followed by per-doc unique
    * filler; 10% are fully unique; plus three planted identical-text pairs
    * (ids 1000..1005) that are the only genuine near-dups. */
  private lazy val skewedDocs = {
    val boiler = (0 until 200).map { i =>
      val uniq = (0 until 8).map(j => s"u${i}x$j").mkString(" ")
      val text =
        if (i % 10 != 0) s"the quick brown fox jumps $uniq"
        else s"v${i}a v${i}b v${i}c v${i}d v${i}e v${i}f v${i}g v${i}h"
      (i.toLong, text)
    }
    val dups = (0 until 3).flatMap { p =>
      val text = s"alpha$p beta$p gamma$p delta$p epsilon$p zeta$p"
      Seq((1000L + 2 * p, text), (1001L + 2 * p, text))
    }
    (boiler ++ dups).toDF("doc_id", "text")
  }

  private val expectedPairs = Set((1000L, 1001L), (1002L, 1003L), (1004L, 1005L))

  test("d2 df cap drops the hot boilerplate shingles before the self-join") {
    // The hot shingles really are above the cap...
    val df = Shingles.pairs(spark, skewedDocs)
      .groupBy($"shingle").agg(count(lit(1)).as("df"))
    val hot = df.filter($"df" > Dedup.MaxShingleDf).collect()
    assert(hot.nonEmpty && hot.forall(_.getLong(1) == 180L),
      "boilerplate shingles must exceed MaxShingleDf")
    // ...and the pair output contains ONLY the planted near-dups: zero
    // boilerplate-driven pairs out of a worst-case 180*179/2 = 16110.
    val pairs = Dedup.jaccardPairsOn(spark, skewedDocs)
      .select($"a_id", $"b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == expectedPairs,
      s"expected exactly the planted pairs, got ${pairs.size} pairs")
  }

  test("d4 minhash returns only true near-dups on the skewed corpus") {
    val pairs = MinHashDedup.minhashPairsOn(spark, skewedDocs, threshold = 0.5)
      .select($"a_id", $"b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == expectedPairs,
      s"rerank must kill hot-band false candidates, got ${pairs.size} pairs")
  }

  /** lshIndex as it was built before its one typed pass, kept as the
    * reference: a persisted `array<string>` of each document's distinct
    * shingles, a typed flatMap for the band minima and a HOF
    * `transform(toks, t -> xxhash64(t))` for the fingerprints. */
  private def twoPassLshIndex(docs: DataFrame) = {
    import MinHashDedup.{NumBands, P, coefA, coefB}
    val sets = docs.select($"doc_id", $"text").as[(Long, String)]
      .map { case (id, text) => (id, Shingles.shingleSet(text, 3).toArray(Array.empty[String])) }
      .filter(_._2.nonEmpty)
      .toDF("doc_id", "toks")
    val bands = sets.as[(Long, Seq[String])].flatMap { case (id, toks) =>
      val mins = Array.fill(NumBands)(Long.MaxValue)
      toks.foreach { t =>
        val x = scala.util.hashing.MurmurHash3.stringHash(t, 0x9747b28c).toLong & 0x7FFFFFFFL
        for (i <- 0 until NumBands) mins(i) = math.min(mins(i), (coefA(i) * x + coefB(i)) % P)
      }
      (0 until NumBands).map(i => (id, i, mins(i)))
    }.toDF("doc_id", "band", "hv")
    val fingerprints = sets.select($"doc_id",
      array_sort(expr("transform(toks, t -> xxhash64(t))")).as("hs"))
    (bands, fingerprints)
  }

  private def assertLshIndexMatchesTwoPass(docs: DataFrame): Unit = {
    val (bands, fps) = MinHashDedup.lshIndex(spark, docs)
    val (wantBands, wantFps) = twoPassLshIndex(docs)
    assert(bands.schema == wantBands.schema && fps.schema == wantFps.schema)
    def bandRows(df: DataFrame) =
      df.as[(Long, Int, Long)].collect().toSeq.sorted
    def fpRows(df: DataFrame) =
      df.as[(Long, Seq[Long])].collect().toSeq.sortBy(_._1)
    val got = bandRows(bands)
    assert(got.nonEmpty && got == bandRows(wantBands), "band rows differ from the two-pass form")
    assert(fpRows(fps) == fpRows(wantFps), "fingerprints differ from the two-pass form")
  }

  test("lshIndex's one typed pass equals the two-pass form on the skewed corpus") {
    assertLshIndexMatchesTwoPass(skewedDocs)
  }

  test("lshIndex's one typed pass equals the two-pass form on sf0.01") {
    val sf001 = new java.io.File(new java.io.File(sfDir).getParentFile, "sf0.01").getPath
    assertLshIndexMatchesTwoPass(graft.Tables(spark, sf001, "documents"))
  }

  test("d12 incremental minhash finds exactly the planted batch-vs-corpus near-dups") {
    // batch = the odd planted ids; their identical-text partners (even
    // ids) and all 200 boilerplate docs are the corpus. The batch band
    // probe must surface exactly the three cross-side pairs — no
    // boilerplate-driven candidates survive the exact rerank, and
    // corpus-internal duplicates are not the incremental query's output.
    val pairs = try {
      MinHashDedup.minhashIncrementalOn(spark, skewedDocs,
          $"doc_id" >= 1000L && $"doc_id" % 2 === 1, threshold = 0.5)
        .select($"a_id", $"b_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    } finally spark.catalog.clearCache()
    assert(pairs == Set((1001L, 1000L), (1003L, 1002L), (1005L, 1004L)),
      s"expected the three planted cross pairs, got $pairs")
  }

  // --------------------------------------------------------- d11 bloom

  test("d11 bloom prefilter prunes the corpus to ~matches and stays exact") {
    // batch: 10 docs (2 passages each); corpus: 500 docs, of which 5
    // share one passage with the batch and 495 are pure noise. The Bloom
    // prefilter must cut the 1000 corpus passages down to the 5 true
    // matches (+ ~1% fp), and the confirm join must agree exactly with
    // the unfiltered batch⋈corpus join.
    val batchDocs = (0 until 10).map { i =>
      (i.toLong, s"b${i}p0", s"b${i}p1")
    }.flatMap { case (id, p0, p1) => Seq((id, p0), (id, p1)) }
    val corpusDocs = (0 until 500).flatMap { i =>
      val id = 1000L + i
      val shared = if (i < 5) Seq((id, s"b${i}p1")) else Nil
      shared ++ Seq((id, s"n${i}a"), (id, s"n${i}b"))
    }
    val passages = (batchDocs ++ corpusDocs).toDF("doc_id", "passage")
    val (batch, candidates) =
      Dedup.bloomCandidatesOn(spark, passages, $"doc_id" < 1000L)
    try {
      val nCorpus = corpusDocs.size.toLong
      val nCand = candidates.count()
      assert(nCand >= 5, "bloom must never drop a true match")
      assert(nCand <= 5 + nCorpus / 20,
        s"bloom pruned to $nCand of $nCorpus corpus passages — too many fps")
      val confirmed = batch.join(candidates, Seq("passage"))
        .select($"doc_id", $"corpus_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val exact = passages.filter($"doc_id" < 1000L).as("b")
        .join(passages.filter($"doc_id" >= 1000L).as("c"), Seq("passage"))
        .select($"b.doc_id", $"c.doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(confirmed == exact,
        s"confirm join must equal the plain join: $confirmed vs $exact")
      assert(exact == (0 until 5).map(i => (i.toLong, 1000L + i)).toSet)
    } finally spark.catalog.clearCache()
  }

  test("d19 containment catches short-inside-long pairs the Jaccard threshold is blind to") {
    import spark.implicits._
    // 12-token doc fully embedded at the head of a 312-token doc:
    // common = 10 shingles, na = 10, nb = 310 → jaccard ~ 0.032 (below
    // d2's 0.05 floor) but contain_a = 1.0 — the asymmetric case d19
    // exists for
    val small = (1 to 12).map(i => s"alpha$i").mkString(" ")
    val filler = (1 to 300).map(i => s"zz$i").mkString(" ")
    val docs = Seq((1L, small), (2L, small + " " + filler)).toDF("doc_id", "text")
    val jac = Dedup.jaccardPairsOn(spark, docs).collect()
    assert(jac.isEmpty,
      s"jaccard >= 0.05 should not fire on the containment pair: ${jac.mkString(",")}")
    val got = Dedup.containmentPairsOn(spark, docs, 0.5).collect()
    assert(got.length == 1, s"expected exactly the planted pair, got ${got.length}")
    val r = got.head
    assert(r.getAs[Long]("a_id") == 1L && r.getAs[Long]("b_id") == 2L)
    assert(r.getAs[Long]("common") == 10L && r.getAs[Long]("na") == 10L
      && r.getAs[Long]("nb") == 310L)
    assert(r.getAs[Double]("contain_a") == 1.0)
    assert(r.getAs[Double]("contain_b") < 0.05)
  }

  test("d18 keeps exactly one doc per cluster — the longest, doc_id tiebreak") {
    val rows = graft.SparkEntry.queries("d18_cluster_keeper")(spark, sfDir).collect()
    val byCluster = rows.groupBy(_.getAs[Long]("cluster_id"))
    byCluster.foreach { case (cid, members) =>
      val keeps = members.filter(_.getAs[Boolean]("keep"))
      assert(keeps.length == 1, s"cluster $cid has ${keeps.length} keepers")
      val best = members.minBy(m =>
        (-m.getAs[Long]("n_chars"), m.getAs[Long]("doc_id")))
      assert(keeps.head.getAs[Long]("doc_id") == best.getAs[Long]("doc_id"),
        s"cluster $cid keeper is not the quality argmax")
    }
    // exhaustive single-verdict coverage of the corpus
    assert(rows.map(_.getAs[Long]("doc_id")).distinct.length == rows.length)
    assert(byCluster.exists(_._2.length > 1),
      "no multi-doc near-dup cluster on the fixture — keeper choice untested")
  }

  test("d20 weights invert d18's cluster sizes and sum to the cluster count") {
    val w = graft.SparkEntry.queries("d20_soft_dedup_weights")(spark, sfDir)
      .collect()
    val keeper = graft.SparkEntry.queries("d18_cluster_keeper")(spark, sfDir)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id"))
      .toMap
    // same partition of the corpus as d18 (both hang off d7's closure)
    assert(w.map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id"))
      .toMap == keeper)
    val sizes = keeper.groupBy(_._2).map { case (c, ms) => c -> ms.size }
    w.foreach { r =>
      val (cid, size, weight) = (r.getAs[Long]("cluster_id"),
        r.getAs[Long]("cluster_size"), r.getAs[Double]("weight"))
      assert(size == sizes(cid).toLong, s"cluster $cid size")
      val expect = BigDecimal(1.0 / size)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(weight - expect) < 1e-12, s"cluster $cid weight")
    }
    // soft dedup's invariant: every cluster contributes one document's
    // worth of total mass (up to the 6dp weight rounding), so Σ weight
    // equals the effective corpus size = #clusters
    val total = w.map(r =>
      BigDecimal(r.getAs[Double]("weight"))).sum.toDouble
    assert(math.abs(total - sizes.size) < 1e-3,
      s"Σ weight $total vs ${sizes.size} clusters")
    // and duplicates are really downweighted on the fixture
    assert(w.exists(_.getAs[Long]("cluster_size") > 1L))
  }

  test("d21 is exactly d13's cross-side slice, and never leaks same-side pairs") {
    val d21 = graft.SparkEntry.queries("d21_fuzzy_decontamination")(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // purity: train ids are never eval-slice docs and vice versa
    d21.foreach { case (t, e, _, dist) =>
      assert(t % 7 != 0, s"eval doc $t reported as train")
      assert(e % 7 == 0, s"train doc $e reported as eval")
      assert(dist <= 0.5)
    }
    // the same md5-band machinery over ALL pairs (d13), sliced to the
    // cross-side subset, must agree pair-for-pair — candidacy, common
    // counts and distance all derive from identical band minima
    val d13 = graft.SparkEntry.queries("d13_minhash_oracle_twin")(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val expect = d13.collect {
      case (a, b, c, j) if (a % 7 == 0) != (b % 7 == 0) =>
        if (a % 7 == 0) (b, a, c, j) else (a, b, c, j)
    }.toSet
    assert(d21.toSet == expect,
      s"d21 ${d21.length} pairs vs d13 cross-side ${expect.size}")
    assert(d21.nonEmpty, "no cross-side contamination on the fixture — untested")
  }

  test("d22 equals a driver-side TF-IDF rebuild and weighting is not Jaccard") {
    import spark.implicits._
    val got = graft.SparkEntry.queries("d22_tfidf_cosine_pairs")(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val texts = graft.Tables(spark, sfDir, "documents")
      .filter($"text".isNotNull)
      .select($"doc_id", $"text").as[(Long, String)].collect()
    def shingles(t: String): Seq[String] = {
      val w = t.trim.split("\\s+")
      (0 to w.length - 3).map(i => s"${w(i)} ${w(i + 1)} ${w(i + 2)}")
    }
    val tf = texts.flatMap { case (id, t) =>
      shingles(t).groupBy(identity).map { case (sh, xs) =>
        ((id, sh), xs.size.toLong) }
    }.toMap
    val df = tf.keys.groupBy(_._2).map { case (sh, ks) => sh -> ks.size }
      .filter(_._2 <= Dedup.MaxShingleDf)
    val n = tf.keys.map(_._1).toSeq.distinct.size.toDouble
    val w = tf.collect { case ((id, sh), t) if df.contains(sh) =>
      ((id, sh), t * BigDecimal(math.log(n / df(sh)) * 1000.0)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)
    }.toMap
    val norms = w.groupBy(_._1._1).map { case (id, ws) =>
      id -> ws.values.map(x => x * x).sum }
    val bySh = w.toSeq.groupBy(_._1._2)
    val dots = collection.mutable.Map.empty[(Long, Long), Long]
    bySh.values.foreach { ws =>
      for (a <- ws; b <- ws if a._1._1 < b._1._1)
        dots((a._1._1, b._1._1)) =
          dots.getOrElse((a._1._1, b._1._1), 0L) + a._2 * b._2
    }
    val expect = dots.toSeq.map { case ((a, b), dot) =>
      val c = BigDecimal(dot.toDouble /
        (math.sqrt(norms(a).toDouble) * math.sqrt(norms(b).toDouble)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (a, b, dot, c)
    }.sortBy { case (a, b, _, c) => (-c, a, b) }.take(100)
    assert(got.toSeq == expect, "d22 disagrees with the driver rebuild")
    // the weighting is REAL: tf-idf cosine must not be a monotone
    // relabeling of d2's Jaccard — at least one top pair ranks
    // differently than its shingle-set Jaccard would place it
    val setsById = texts.map { case (id, t) => id -> shingles(t).toSet }.toMap
    def jac(a: Long, b: Long): Double = {
      val (sa, sb) = (setsById(a), setsById(b))
      (sa & sb).size.toDouble / (sa | sb).size
    }
    val byCos = got.map { case (a, b, _, _) => (a, b) }
    val byJac = got.sortBy { case (a, b, _, _) => (-jac(a, b), a, b) }
      .map { case (a, b, _, _) => (a, b) }
    assert(byCos != byJac.toSeq,
      "tf-idf ordering identical to Jaccard — weighting is inert")
  }

  test("d23 partitions like d8 and keeps the farthest-from-centroid member") {
    import spark.implicits._
    val got = graft.SparkEntry.queries("d23_semdedup_keeper")(spark, sfDir)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toMap
    // cluster partition must be exactly d8's (plus self-clusters for
    // vectors outside any cosine pair)
    val d8 = graft.SparkEntry.queries("d8_semantic_clusters")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    got.foreach { case (v, (c, _, _)) =>
      assert(c == d8.getOrElse(v, v), s"vec $v cluster $c vs d8")
    }
    // centroid distances: recompute on the integer grid and check the
    // keeper is the (dist2 DESC, vec_id) argmax of every cluster
    val grid = graft.Tables(spark, sfDir, "embeddings")
      .select($"vec_id", $"embedding").as[(Long, Array[Float])].collect()
      .map { case (id, e) =>
        id -> e.map(x => math.floor(x.toDouble * 1000000.0).toLong) }
      .toMap
    val byCluster = got.toSeq.groupBy(_._2._1)
    byCluster.foreach { case (c, members) =>
      val ids = members.map(_._1)
      val dims = grid(ids.head).length
      val cent = Array.tabulate(dims)(d =>
        math.floor(ids.map(grid(_)(d)).sum.toDouble / ids.size).toLong)
      members.foreach { case (v, (_, dist2, _)) =>
        val expect = grid(v).zip(cent)
          .map { case (x, y) => (x - y) * (x - y) }.sum
        assert(dist2 == expect, s"vec $v dist2 $dist2 vs $expect")
      }
      val keeper = members
        .minBy { case (v, (_, dist2, _)) => (-dist2, v) }._1
      members.foreach { case (v, (_, _, keep)) =>
        assert(keep == (v == keeper), s"cluster $c keeper")
      }
    }
    // the pass is real: some cluster has >1 member and drops something
    assert(byCluster.exists(_._2.length > 1),
      "no multi-member semantic cluster — keeper choice untested")
  }

  test("d25 probe over the persisted signature index ≡ the inline derivation") {
    // the round-12 persist-and-probe form (VERDICT r11 #2): the standing
    // index staged by semanticIndex and probed from disk must produce
    // the EXACT frame the corpus-re-signing inline derivation produces —
    // same admit verdicts, same best matches, same rounded cosines.
    // (The DuckDB oracle replays the inline form; this pin is what
    // extends its coverage to the probe path the roster now runs.)
    val dir = "/root/testdata/sf0.001"
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getBoolean(1),
        if (r.isNullAt(2)) null else r.getLong(2),
        if (r.isNullAt(3)) null else r.getDouble(3))
    val probe = Dedup.semanticProbe(spark, dir,
      Dedup.semanticIndex(spark, dir)).collect().map(key).toSeq
    val inline = Dedup.incrementalSemdedupInline(spark, dir)
      .collect().map(key).toSeq
    assert(probe == inline,
      s"probe diverged from inline: ${probe.diff(inline).take(5)} vs ${inline.diff(probe).take(5)}")
    // the pass is real: the batch is non-empty and someone was rejected
    assert(probe.nonEmpty, "empty batch — equivalence vacuous")
    assert(probe.exists(!_._2) && probe.exists(_._2),
      "batch has no mix of admitted/rejected docs — equivalence weak")
  }
}
