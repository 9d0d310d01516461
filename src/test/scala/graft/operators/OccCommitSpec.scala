package graft.operators

import graft.SparkTestBase
import java.util.concurrent.{ConcurrentLinkedQueue, CyclicBarrier, TimeUnit}

/** Pins e17/e19's optimistic-concurrency commit protocol:
  *
  *  - claim atomicity under a genuine multi-writer race (a 4-writer
  *    barrier forces every writer onto the SAME slot; exactly one wins
  *    it, the rest retry to contiguous versions, and the union of all
  *    adds survives — lost-update impossibility, pinned structurally
  *    here and by value through e17's base-table oracle),
  *  - conflict detection (two writers adding the SAME file: the loser
  *    must abort with ConcurrentModificationException, never
  *    double-commit),
  *  - torn-commit invisibility (the log only ever contains fully-linked
  *    v*.parquet files; temp state is cleaned even on abort),
  *  - checkpoint bootstrap (e19): snapshot + tail plans the identical
  *    file set as a full-log replay while opening only 1 + |tail|
  *    manifests.
  */
class OccCommitSpec extends SparkTestBase {

  private def freshRoot(): java.io.File = {
    val d = java.nio.file.Files.createTempDirectory("occ_spec_").toFile
    d.deleteOnExit()
    d
  }

  private def row(name: String): (String, Long, Long, Long, Long, Long) =
    (name, 10L, 0L, 100L, 0L, 100L)

  test("four barrier-gated writers race one slot: contiguous versions, no lost update, three retries") {
    val root = freshRoot()
    Lakehouse.occCommit(spark, root, Seq(row("bootstrap")), snapshotVersion = -1)
    val writers = 4
    val barrier = new CyclicBarrier(writers)
    def gate(attempt: Int): Unit =
      if (attempt == 0) { barrier.await(30, TimeUnit.SECONDS); () }
    val results = new ConcurrentLinkedQueue[Lakehouse.OccResult]()
    val failures = new ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to writers).map { i =>
      new Thread(() =>
        try results.add(Lakehouse.occCommit(spark, root,
          Seq(row(s"writer$i-a"), row(s"writer$i-b")),
          snapshotVersion = 0, gate))
        catch { case t: Throwable => failures.add(t); () })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(failures.isEmpty, s"a disjoint-adds writer failed: ${failures.peek()}")

    import scala.jdk.CollectionConverters._
    val rs = results.asScala.toSeq
    assert(rs.map(_.version).sorted == (1 to writers),
      s"versions not contiguous: ${rs.map(_.version).sorted}")
    // all four claimed slot 1 together; the three losers each retried
    assert(rs.map(_.retries).sum >= writers - 1,
      s"the barrier should force >= ${writers - 1} retries, saw ${rs.map(_.retries)}")

    val commitsDir = new java.io.File(root, "commits")
    val committed = spark.read.parquet(commitsDir.getAbsolutePath)
      .select("file").collect().map(_.getString(0)).toSet
    val expected = Set("bootstrap") ++
      (1 to writers).flatMap(i => Seq(s"writer$i-a", s"writer$i-b"))
    assert(committed == expected, "a concurrent commit's adds were lost")
    // torn-commit invisibility: only fully-claimed version files live in
    // the log dir, and no temp residue survives under the root
    val names = commitsDir.listFiles().map(_.getName).toSeq
    assert(names.forall(_.matches("v\\d{5}\\.parquet")), names.toString)
    assert(!root.listFiles().exists(_.getName.startsWith("_occ_tmp_")),
      "temp commit state leaked")
  }

  test("adding a file another post-snapshot commit already added aborts, never double-commits") {
    val root = freshRoot()
    Lakehouse.occCommit(spark, root, Seq(row("base")), snapshotVersion = -1)
    Lakehouse.occCommit(spark, root, Seq(row("shared"), row("a-only")),
      snapshotVersion = 0)
    val before = Lakehouse.occVersions(new java.io.File(root, "commits"))
    intercept[java.util.ConcurrentModificationException] {
      Lakehouse.occCommit(spark, root, Seq(row("shared"), row("b-only")),
        snapshotVersion = 0)
    }
    val after = Lakehouse.occVersions(new java.io.File(root, "commits"))
    assert(after == before, "an aborted commit left a version in the log")
    assert(!root.listFiles().exists(_.getName.startsWith("_occ_tmp_")),
      "aborted commit leaked temp state")
    // the same adds re-tried from a FRESH snapshot (which sees the
    // winner) must also abort — the conflict is real, not a race artifact
    intercept[java.util.ConcurrentModificationException] {
      Lakehouse.occCommit(spark, root, Seq(row("shared")),
        snapshotVersion = 0)
    }
  }

  test("a commit racing a conflict it has NOT seen aborts on retry, not after claiming") {
    // writer snapshot = 1 (it has seen v0+v1); a v2 lands with file X
    // before the writer claims; the writer (also adding X) must detect
    // it during the claim loop
    val root = freshRoot()
    Lakehouse.occCommit(spark, root, Seq(row("base")), snapshotVersion = -1)
    Lakehouse.occCommit(spark, root, Seq(row("day1")), snapshotVersion = 0)
    Lakehouse.occCommit(spark, root, Seq(row("x")), snapshotVersion = 1) // v2
    intercept[java.util.ConcurrentModificationException] {
      Lakehouse.occCommit(spark, root, Seq(row("x")), snapshotVersion = 1)
    }
  }

  test("e19 bootstrap: snapshot + tail equals full replay, opening only 1 + |tail| manifests") {
    val root = new java.io.File(Lakehouse.occRoot(spark, sfDir))
    val commitsDir = new java.io.File(root, "commits")
    assert(Lakehouse.occVersions(commitsDir) == Seq(0, 1, 2, 3, 4, 5, 6),
      "staged OCC log should carry 7 commits (incl. the raced compactions)")
    val cpV = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(root, "_last_checkpoint").toPath)).trim.toInt
    assert(cpV == 2, s"checkpoint pointer should read v2, got v$cpV")

    val (frame, tail) = Lakehouse.occBootstrap(spark, root)
    assert(tail == Seq(3, 4, 5, 6),
      s"bootstrap should replay exactly the post-checkpoint commits, got $tail")
    // visible (net) state must agree — the tail's v5/v6 REMOVE actions
    // apply against adds that live inside the checkpoint file
    val viaBootstrap = Lakehouse.occVisible(frame)
      .select("file").collect().map(_.getString(0)).toSet
    val viaFullReplay = Lakehouse.occVisible(
      spark.read.parquet(commitsDir.getAbsolutePath))
      .select("file").collect().map(_.getString(0)).toSet
    assert(viaBootstrap == viaFullReplay,
      "snapshot+tail diverged from replaying the full commit log")
    // the physical bootstrap read set: one checkpoint + the four tail
    // commits — never the seven log files (r19: the log reads are
    // driver-side, so the read set comes from the read plane's own
    // record rather than DataFrame.inputFiles, which a LocalRelation
    // does not carry)
    val opened = Lakehouse.lastLogReadFiles().sorted
    assert(opened.size == 1 + tail.size,
      s"bootstrap opened ${opened.size} manifests: $opened")
    assert(opened.exists(_.contains("cp_v00002")), opened.toString)
  }

  test("log read sets are per thread: a concurrent reader never overwrites another's") {
    val roots = Seq(freshRoot(), freshRoot())
    Lakehouse.occCommit(spark, roots(0), Seq(row("a0")), snapshotVersion = -1)
    Lakehouse.occCommit(spark, roots(1), Seq(row("a1")), snapshotVersion = -1)
    Lakehouse.occCommit(spark, roots(1), Seq(row("b1")), snapshotVersion = 0)
    // reader 0 reads, then reader 1 reads, then both report what they
    // opened: reader 0's report comes after reader 1's read
    val barrier = new CyclicBarrier(2)
    val seen = new java.util.concurrent.ConcurrentHashMap[Int, Seq[String]]()
    val errors = new ConcurrentLinkedQueue[Throwable]()
    val readers = roots.indices.map { i =>
      new Thread(() => try {
        if (i == 1) barrier.await(30, TimeUnit.SECONDS)
        Lakehouse.occLogWithVersions(spark, roots(i))
        if (i == 0) barrier.await(30, TimeUnit.SECONDS)
        barrier.await(30, TimeUnit.SECONDS)
        seen.put(i, Lakehouse.lastLogReadFiles())
        ()
      } catch { case t: Throwable => errors.add(t); () })
    }
    readers.foreach(_.start())
    readers.foreach(_.join(60000))
    assert(errors.isEmpty, errors.toString)
    roots.indices.foreach { i =>
      val opened = seen.get(i)
      assert(opened.size == i + 1, s"reader $i opened $opened")
      assert(opened.forall(_.startsWith(roots(i).getAbsolutePath)),
        s"reader $i saw another reader's files: $opened")
    }
  }

  test("e20 staged log: compactions retired 4 victims, visible state swaps them for packed files, rows preserved") {
    val root = new java.io.File(Lakehouse.occRoot(spark, sfDir))
    val all = spark.read.parquet(new java.io.File(root, "commits").getAbsolutePath)
    val removed = all.filter("action = 'remove'")
      .select("file").collect().map(_.getString(0)).toSet
    assert(removed.size == 4, s"expected 4 retired victims, got $removed")
    val visible = Lakehouse.occVisible(all)
      .select("file").collect().map(_.getString(0)).toSet
    assert(removed.forall(v => !visible.contains(v)),
      "a retired victim stayed visible")
    val packed = visible.filter(_.contains("/compacted/"))
    assert(packed.size == 2, s"expected 2 packed files, got $packed")
    // content preservation, value-checked: packed rows == victims' rows
    val packedRows = spark.read.parquet(packed.toSeq: _*).count()
    val victimRows = spark.read.parquet(removed.toSeq: _*).count()
    assert(packedRows == victimRows,
      s"compaction changed the row count: $victimRows -> $packedRows")
  }

  test("overlapping-victim compactions: exactly one lands, the loser aborts and cleans its packed file") {
    import spark.implicits._
    val root = freshRoot()
    // three REAL one-file parquet leaves (occCompact reads victim bytes)
    val leaves = (0 until 3).map { i =>
      val d = new java.io.File(root, s"leaf$i")
      Seq((i.toLong * 10, i.toLong * 10, 1L))
        .toDF("l_partkey", "l_suppkey", "l_orderkey")
        .coalesce(1).write.parquet(d.getAbsolutePath)
      Mixing.footerBoxRows(d)
    }
    Lakehouse.occCommit(spark, root, leaves.flatten, snapshotVersion = -1)
    val files = leaves.flatten.map(_._1)
    val barrier = new CyclicBarrier(2)
    def gate(attempt: Int): Unit =
      if (attempt == 0) { barrier.await(30, TimeUnit.SECONDS); () }
    val oks = new ConcurrentLinkedQueue[Lakehouse.OccResult]()
    val aborts = new ConcurrentLinkedQueue[Throwable]()
    // both rewrite leaf1 — a true write-write conflict
    val threads = Seq(files.take(2), files.drop(1)).zipWithIndex.map {
      case (victims, i) =>
        new Thread(() =>
          try oks.add(Lakehouse.occCompact(spark, root, victims, s"c$i",
            snapshotVersion = 0, gate))
          catch { case t: Throwable => aborts.add(t); () })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(oks.size == 1 && aborts.size == 1,
      s"expected one winner and one abort, got ${oks.size}/${aborts.size}")
    assert(aborts.peek().isInstanceOf[java.util.ConcurrentModificationException],
      s"loser should abort with ConcurrentModificationException: ${aborts.peek()}")
    // the log carries only v0 + the winner; the loser's packed file is gone
    assert(Lakehouse.occVersions(new java.io.File(root, "commits")) == Seq(0, 1))
    val packedDirs = Option(new java.io.File(root, "compacted").listFiles())
      .map(_.map(_.getName).toSet).getOrElse(Set.empty)
    import scala.jdk.CollectionConverters._
    val winnerLabel = spark.read.parquet(Lakehouse.occCommitFile(
      new java.io.File(root, "commits"), 1).getAbsolutePath)
      .filter("action = 'add'").select("file")
      .collect().map(_.getString(0)).head match {
        case p if p.contains("/c0/") => "c0"
        case _ => "c1"
      }
    assert(packedDirs == Set(winnerLabel),
      s"loser's orphaned packed dir survived: $packedDirs")
    // table content is byte-identical to pre-race state: 3 rows, same keys
    val visible = Lakehouse.occVisible(spark.read.parquet(
      new java.io.File(root, "commits").getAbsolutePath))
      .select("file").as[String].collect().toSeq
    val keys = spark.read.parquet(visible: _*)
      .select("l_partkey").as[Long].collect().toSet
    assert(keys == Set(0L, 10L, 20L), s"post-race content diverged: $keys")
  }

  test("e22 time travel: AS OF pre-compaction equals head by value with different file sets; AS OF 0 is the standing split") {
    import spark.implicits._
    val root = new java.io.File(Lakehouse.occRoot(spark, sfDir))
    def files(v: Int): Seq[String] = Lakehouse.occAsOf(spark, root, v)
      .select($"file").as[String].collect().toSeq.sorted
    def agg(fs: Seq[String]): Seq[String] = Mixing.flagAgg(
      spark.read.parquet(fs: _*).select("l_returnflag", "l_quantity",
        "l_extendedprice")).collect().map(_.toString).toSeq

    val preCompaction = files(4)
    val head = files(6)
    assert(preCompaction != head,
      "compaction should change the visible file set")
    assert(head.exists(_.contains("/compacted/")) &&
      !preCompaction.exists(_.contains("/compacted/")),
      "head should read packed files, the historical version must not")
    // rewrites preserve content: the two versions agree BY VALUE
    assert(agg(preCompaction) == agg(head),
      "AS OF pre-compaction diverged from head by value")
    // AS OF 0 = the bootstrap commit = the standing files only
    val v0 = files(0)
    assert(v0.forall(_.contains("/standing/")),
      s"AS OF 0 leaked non-standing files: ${v0.filterNot(_.contains("/standing/"))}")
  }

  test("checkpoint nets out remove actions instead of copying tombstones forward") {
    val root = freshRoot()
    Lakehouse.occCommit(spark, root, Seq(row("x"), row("y")), snapshotVersion = -1)
    Lakehouse.occCommit(spark, root, Seq(row("z")), snapshotVersion = 0,
      removes = Seq("x"))
    Lakehouse.occCheckpoint(spark, root, upTo = 1)
    val cp = spark.read.parquet(new java.io.File(
      new java.io.File(root, "checkpoints"), "cp_v00001.parquet").getAbsolutePath)
    assert(cp.filter("action = 'remove'").count() == 0,
      "checkpoint copied a tombstone forward")
    val files = cp.select("file").collect().map(_.getString(0)).toSet
    assert(files == Set("y", "z"), s"checkpoint net state wrong: $files")
  }

  test("e23 change feed: dataChange deletes emit removed rows, rewrites emit nothing") {
    import spark.implicits._
    val root = freshRoot()
    def stage(name: String, ks: Seq[Int]): String = {
      val d = new java.io.File(root, name)
      ks.map(k => (k, s"v$k")).toDF("k", "v")
        .coalesce(1).write.parquet(d.getAbsolutePath)
      d.getAbsolutePath
    }
    val a = stage("a", Seq(1, 2))
    val b = stage("b", Seq(3))
    val p = stage("p", Seq(1, 2, 3)) // the compaction's packed rewrite
    def fr(f: String) = (f, 1L, 0L, 100L, 0L, 100L)
    Lakehouse.occCommit(spark, root, Seq(fr(a)), snapshotVersion = -1) // v0
    Lakehouse.occCommit(spark, root, Seq(fr(b)), snapshotVersion = 0)  // v1
    Lakehouse.occCommit(spark, root, Seq(fr(p)), snapshotVersion = 1,  // v2
      removes = Seq(a, b), dataChange = false)                      // rewrite
    Lakehouse.occCommit(spark, root, Nil, snapshotVersion = 2,         // v3
      removes = Seq(p))                                             // DELETE

    // the rewrite window alone: file churn, zero logical changes
    assert(Lakehouse.occChangedFiles(spark, root, 1, 2) == ((Nil, Nil)),
      "the dataChange=false rewrite leaked into the feed")
    // (0, 3]: insert of b's rows at v1, delete of p's rows at v3
    val feed = Lakehouse.occChangeFeed(spark, root, 0, 3)
      .select("change_type", "k").as[(String, Int)].collect().toSet
    assert(feed == Set(("insert", 3), ("delete", 1), ("delete", 2),
      ("delete", 3)), s"feed rows wrong: $feed")
    // a delete image reads the RETIRED bytes — retention keeps them
    val (_, del) = Lakehouse.occChangedFiles(spark, root, 2, 3)
    assert(del == Seq(p), s"delete sources wrong: $del")
  }

  test("st22 txn action: occLastTxn tracks the per-app high-water mark") {
    val root = freshRoot()
    Lakehouse.occCommit(spark, root, Seq(row("boot")), snapshotVersion = -1)
    assert(Lakehouse.occLastTxn(spark, root, "writer-a") == -1L,
      "an app that never committed should read -1")
    Lakehouse.occCommit(spark, root, Seq(row("a0")), snapshotVersion = 0,
      txn = Some(("writer-a", 0L)))
    Lakehouse.occCommit(spark, root, Seq(row("b5")), snapshotVersion = 1,
      txn = Some(("writer-b", 5L)))
    Lakehouse.occCommit(spark, root, Seq(row("a1")), snapshotVersion = 2,
      txn = Some(("writer-a", 1L)))
    assert(Lakehouse.occLastTxn(spark, root, "writer-a") == 1L)
    assert(Lakehouse.occLastTxn(spark, root, "writer-b") == 5L)
    assert(Lakehouse.occLastTxn(spark, root, "writer-c") == -1L)
  }
}
