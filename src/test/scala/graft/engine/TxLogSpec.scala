package graft.engine

import org.apache.spark.sql.functions._

/** Pins the commit-log protocol (TxLog): ordered versions, snapshot
  * read-back, the optimistic-retry guarantee that concurrent DISJOINT
  * writers both land (the lost-update class the read-merge-swap sinks
  * cannot rule out), and crash-tolerance of the claim step.
  */
class TxLogSpec extends graft.SparkSpec {
  import TxLogSpec.partitionState

  private def table(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_txlog_$tag").toString + "/t"

  test("append/replaceWhere commit ordered versions and read back exactly") {
    import spark.implicits._
    val t = table("seq")
    assert(TxLog.append(
      Seq((1L, "a", "x"), (2L, "b", "y")).toDF("k", "v", "p"),
      t, Some("p")) === 0L)
    assert(TxLog.append(
      Seq((3L, "c", "x")).toDF("k", "v", "p"), t, Some("p")) === 1L)
    // replace partition y wholesale; x's files stay byte-untouched
    assert(TxLog.replaceWhere(
      Seq((9L, "Z", "y")).toDF("k", "v", "p"), t, "p", Seq("y")) === 2L)
    val got = TxLog.read(spark, t).collect()
      .map(r => r.getAs[Long]("k") ->
        ((r.getAs[String]("v"), r.getAs[String]("p")))).toMap
    assert(got === Map(1L -> ("a", "x"), 3L -> ("c", "x"), 9L -> ("Z", "y")))
    assert(TxLog.snapshot(spark, t).version === 2L)
  }

  test("unpartitioned appends read back as one table") {
    import spark.implicits._
    val t = table("plain")
    TxLog.append(Seq((1L, "a")).toDF("k", "v"), t)
    TxLog.append(Seq((2L, "b")).toDF("k", "v"), t)
    assert(TxLog.read(spark, t).collect()
      .map(r => r.getAs[Long]("k") -> r.getAs[String]("v")).toMap
      === Map(1L -> "a", 2L -> "b"))
  }

  test("concurrent disjoint appends both land with contiguous versions") {
    val t = table("cc")
    val gate = new java.util.concurrent.CyclicBarrier(2)
    def writer(k: Long, p: String): Thread = new Thread(() => {
      val s = spark.newSession()
      import s.implicits._
      val df = Seq((k, s"w$k", p)).toDF("k", "v", "p")
      gate.await()
      TxLog.append(df, t, Some("p")): Unit
    })
    val (t1, t2) = (writer(1L, "x"), writer(2L, "y"))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert(TxLog.read(spark, t).collect()
      .map(_.getAs[Long]("k")).toSet === Set(1L, 2L),
      "both concurrent appends must land — the claim race must retry, not lose")
    assert(TxLog.snapshot(spark, t).version === 1L,
      "two commits must occupy exactly versions 0 and 1")
  }

  test("concurrent replaceWhere on disjoint partitions both land") {
    import spark.implicits._
    val t = table("rw")
    TxLog.append(
      Seq((1L, "old", "x"), (2L, "old", "y"), (3L, "old", "z"))
        .toDF("k", "v", "p"),
      t, Some("p"))
    val gate = new java.util.concurrent.CyclicBarrier(2)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def writer(k: Long, p: String): Thread = new Thread(() => {
      try {
        val s = spark.newSession()
        import s.implicits._
        val df = Seq((k, "new", p)).toDF("k", "v", "p")
        gate.await()
        TxLog.replaceWhere(df, t, "p", Seq(p)): Unit
      } catch { case e: Throwable => errs.add(e): Unit }
    })
    val (t1, t2) = (writer(10L, "x"), writer(20L, "y"))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert(errs.isEmpty, s"writer thread failed: ${errs.peek()}")
    val got = TxLog.read(spark, t).collect()
      .map(r => r.getAs[Long]("k") -> r.getAs[String]("v")).toMap
    assert(got === Map(10L -> "new", 20L -> "new", 3L -> "old"),
      "disjoint replaceWhere writers must compose whatever the interleaving")
  }

  test("an aborted claim burns its slot but blocks neither commits nor readers") {
    import spark.implicits._
    val t = table("crash")
    TxLog.append(Seq((1L, "a", "x")).toDF("k", "v", "p"), t, Some("p"))
    // simulate a writer that died between claiming and writing: an
    // unreadable claim file at the next slot
    val burned = new java.io.File(s"$t/_txlog/v${"0" * 19}1.json")
    val w = new java.io.FileWriter(burned); w.write("{not json"); w.close()
    assert(TxLog.snapshot(spark, t).version === 0L,
      "readers must resolve the last COMMITTED version past the aborted claim")
    // the next commit must skip the burned slot instead of colliding forever
    assert(TxLog.append(Seq((2L, "b", "x")).toDF("k", "v", "p"), t, Some("p")) === 2L)
    assert(TxLog.read(spark, t).collect().map(_.getAs[Long]("k")).toSet
      === Set(1L, 2L))
  }

  test("vacuum drops old manifests and dead files, never live or unreferenced ones") {
    import spark.implicits._
    val t = table("vac")
    TxLog.append(Seq((1L, "a", "x"), (2L, "b", "y")).toDF("k", "v", "p"),
      t, Some("p"))
    TxLog.replaceWhere(Seq((9L, "Z", "y")).toDF("k", "v", "p"), t, "p", Seq("y"))
    // an ORPHAN from an aborted stage: referenced by no manifest — vacuum
    // must leave it (it could be a concurrent writer's in-flight staging)
    val orphanDir = new java.io.File(s"$t/data/orphan-stage")
    orphanDir.mkdirs()
    val orphan = new java.io.File(orphanDir, "part-orphan.parquet")
    val w = new java.io.FileWriter(orphan); w.write("x"); w.close()
    val before = TxLog.read(spark, t).collect()
      .map(r => r.getAs[Long]("k") -> r.getAs[String]("v")).toMap
    val (manifests, files) = TxLog.vacuum(spark, t, keepVersions = 1)
    assert(manifests === 1 && files === 1,
      "one old manifest (v0) dropped; only y's replaced file is dead (x's file is still live in v1)")
    val after = TxLog.read(spark, t).collect()
      .map(r => r.getAs[Long]("k") -> r.getAs[String]("v")).toMap
    assert(after === before, "content must be identical after vacuum")
    assert(after === Map(1L -> "a", 9L -> "Z"),
      "the latest snapshot (x kept, y replaced) must survive vacuum exactly")
    assert(orphan.exists(), "unreferenced files are never vacuum's to delete")
    assert(TxLog.snapshot(spark, t).version === 1L)
    // a second vacuum is a no-op; a later commit still lands
    assert(TxLog.vacuum(spark, t, keepVersions = 1) === ((0, 0)))
    assert(TxLog.append(Seq((5L, "e", "x")).toDF("k", "v", "p"), t, Some("p")) === 2L)
  }

  test("replaceWhere rejects staged rows outside the declared values") {
    import spark.implicits._
    val t = table("stray")
    TxLog.append(Seq((1L, "a", "x")).toDF("k", "v", "p"), t, Some("p"))
    val e = intercept[IllegalArgumentException] {
      TxLog.replaceWhere(
        Seq((2L, "b", "x"), (3L, "c", "q")).toDF("k", "v", "p"),
        t, "p", Seq("x"))
    }
    assert(e.getMessage.contains("outside the declared values"),
      s"expected the stray-partition contract failure, got: ${e.getMessage}")
  }

  test("an append landing inside the replaceWhere window fails the replace loudly") {
    // ADVICE_r13: the losing replaceWhere's rebase used to re-filter the
    // partition's files against the NEW snapshot, silently absorbing a
    // concurrent append's freshly landed files — serializable as
    // append-then-replace, but a lost write from the appender's view. The
    // rebase now detects files that appeared in the replaced partitions
    // after its baseline and fails with the public
    // ConcurrentAppendException contract, leaving the appended world
    // intact. The interleave seam lands the append deterministically
    // inside the [baseline read -> claim] window a barrier can only hit
    // probabilistically.
    import spark.implicits._
    val t = table("race")
    TxLog.append(Seq((1L, "old", "x")).toDF("k", "v", "p"), t, Some("p"))
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    TxLog.testInterleave = () =>
      if (fired.compareAndSet(false, true)) {
        // one-shot: the inner append's own commit must not re-enter
        TxLog.testInterleave = () => ()
        TxLog.append(Seq((2L, "appended", "x")).toDF("k", "v", "p"),
          t, Some("p")): Unit
      }
    try {
      val e = intercept[java.util.ConcurrentModificationException] {
        TxLog.replaceWhere(
          Seq((9L, "replaced", "x")).toDF("k", "v", "p"), t, "p", Seq("x"))
      }
      assert(e.getMessage.contains("concurrent append"))
    } finally TxLog.testInterleave = () => ()
    assert(TxLog.read(spark, t).collect()
      .map(r => r.getAs[Long]("k") -> r.getAs[String]("v")).toMap
      === Map(1L -> "old", 2L -> "appended"),
      "a failed replace must leave the appended world intact")
    // the caller's documented recovery: re-read and re-issue — the fresh
    // baseline now includes the append, so the replacement covers it
    assert(TxLog.replaceWhere(
      Seq((9L, "replaced", "x")).toDF("k", "v", "p"), t, "p", Seq("x")) >= 2L)
    assert(TxLog.read(spark, t).collect()
      .map(r => r.getAs[Long]("k") -> r.getAs[String]("v")).toMap
      === Map(9L -> "replaced"))
  }

  test("vacuum minAge retains below-cutoff manifests younger than the window") {
    // ADVICE_r13: keepVersions=1 with no age floor deletes every older
    // manifest and its dead files immediately, racing a reader that
    // resolved an older snapshot mid-scan. The minAge guard keeps young
    // manifests (and so their files) even below the count cutoff.
    import spark.implicits._
    val t = table("vage")
    TxLog.append(Seq((1L, "a", "x")).toDF("k", "v", "p"), t, Some("p"))
    TxLog.replaceWhere(Seq((2L, "b", "x")).toDF("k", "v", "p"), t, "p", Seq("x"))
    // everything is seconds old: an hour-wide window must drop nothing
    assert(TxLog.vacuum(spark, t, keepVersions = 1,
      minAgeMs = 3600L * 1000L) === ((0, 0)))
    // the ageless form still drops v0 and its replaced file
    assert(TxLog.vacuum(spark, t, keepVersions = 1) === ((1, 1)))
    assert(TxLog.read(spark, t).collect()
      .map(r => r.getAs[Long]("k") -> r.getAs[String]("v")).toMap
      === Map(2L -> "b"))
  }

  test("reclaimOrphans deletes only old unreferenced commit dirs") {
    import spark.implicits._
    val t = table("orph")
    TxLog.append(Seq((1L, "a", "x")).toDF("k", "v", "p"), t, Some("p"))
    // a fresh orphan (aborted stage OR an in-flight concurrent commit —
    // indistinguishable): too young to reclaim
    val orphanDir = new java.io.File(s"$t/data/orphan-stage/p=x")
    orphanDir.mkdirs()
    val orphan = new java.io.File(orphanDir, "part-orphan.parquet")
    val w = new java.io.FileWriter(orphan); w.write("x"); w.close()
    assert(TxLog.reclaimOrphans(spark, t, minAgeMs = 3600L * 1000L) === 0)
    assert(orphan.exists())
    // age it past the window: now it is an abort, reclaimable
    val old = System.currentTimeMillis() - 7200L * 1000L
    new java.io.File(s"$t/data/orphan-stage").setLastModified(old)
    orphanDir.setLastModified(old)
    orphan.setLastModified(old)
    assert(TxLog.reclaimOrphans(spark, t, minAgeMs = 3600L * 1000L) === 1)
    assert(!orphan.exists(), "the aged orphan must be reclaimed")
    // referenced commit dirs are never touched, whatever their age
    assert(TxLog.read(spark, t).collect()
      .map(r => r.getAs[Long]("k")).toSeq === Seq(1L))
    val e = intercept[IllegalArgumentException] {
      TxLog.reclaimOrphans(spark, t, minAgeMs = 0L)
    }
    assert(e.getMessage.contains("positive age window"))
  }

  test("checkpoints bound resolution, match full replay, and survive vacuum") {
    // round 14: version files are DELTA manifests; a full-list checkpoint
    // lands every 10 commits, so snapshot resolution is checkpoint + a
    // bounded delta suffix — and must equal full replay exactly (a
    // checkpoint is derived metadata, never independent truth).
    import spark.implicits._
    val t = table("ckpt")
    (0 until 25).foreach { i =>
      assert(TxLog.append(Seq((i.toLong, s"v$i", (i % 3).toString))
        .toDF("k", "v", "p"), t, Some("p")) === i.toLong)
      if (i == 20) {
        // the read lands exactly on the checkpoint version: the checkpoint
        // already holds v20's files, so its delta must not apply again
        assert(TxLog.read(spark, t).count() === 21L)
        assert(TxLog.snapshot(spark, t).entries.map(_.path).sorted
          === TxLog.fullReplaySnapshot(spark, t).entries.map(_.path).sorted)
      }
    }
    assert(TxLog.latestCheckpointVersion(spark, t) === 20L)
    val resolved = TxLog.snapshot(spark, t)
    val replayed = TxLog.fullReplaySnapshot(spark, t)
    assert(resolved.version === 24L && replayed.version === 24L)
    assert(resolved.entries.map(_.path).sorted
      === replayed.entries.map(_.path).sorted,
      "checkpoint-resolved and full-replay snapshots must be identical")
    assert(TxLog.read(spark, t).count() === 25L)
    // vacuum writes its own checkpoint at the cutoff so the retained
    // delta suffix keeps a replay base; appends removed nothing, so no
    // file is dead — only manifests drop
    assert(TxLog.vacuum(spark, t, keepVersions = 3) === ((22, 0)))
    assert(TxLog.read(spark, t).count() === 25L,
      "content must survive vacuum across a checkpoint boundary")
    assert(TxLog.append(Seq((99L, "z", "0")).toDF("k", "v", "p"),
      t, Some("p")) === 25L)
    assert(TxLog.read(spark, t).count() === 26L)
  }

  test("readWhere prunes files from manifest stats and keeps stat-less files") {
    import spark.implicits._
    val t = table("stats")
    // four appends with disjoint key ranges, stats on k
    (0 until 4).foreach { i =>
      TxLog.append(
        Seq.tabulate(5)(j => (i * 100L + j, s"r$i$j")).toDF("k", "v")
          .repartition(1),
        t, None, statsCol = Some("k")): Unit
    }
    val (rows, read, total) = TxLog.readWhere(spark, t, "k", 100.0, 205.0)
    assert(total === 4 && read === 2,
      s"ranges [100..104] and [200..204] overlap the query; got $read/$total")
    assert(rows.collect().map(_.getAs[Long]("k")).sorted.toSeq
      === Seq(100L, 101L, 102L, 103L, 104L, 200L, 201L, 202L, 203L, 204L))
    // a commit without stats can never be pruned
    TxLog.append(Seq((999L, "nostats")).toDF("k", "v"), t, None)
    val (rows2, read2, total2) = TxLog.readWhere(spark, t, "k", 100.0, 105.0)
    assert(total2 === 5 && read2 === 2,
      "the stat-less file is kept (1) plus the one overlapping range (1)")
    assert(rows2.collect().map(_.getAs[Long]("k")).sorted.toSeq
      === Seq(100L, 101L, 102L, 103L, 104L))
  }

  test("log-coordinated merges: disjoint writers both land, same-partition writers compose") {
    import spark.implicits._
    val t = table("merge")
    TxLog.applyChanges(spark, t,
      deletes = Seq.empty[(Long, String)].toDF("k", "p"),
      upserts = Seq((1L, "a", "x"), (2L, "b", "y")).toDF("k", "v", "p"),
      key = "k", partitionCol = "p")
    // concurrent DISJOINT-partition merges: whoever loses the claim
    // re-merges against the winner's snapshot, so both must land
    val gate = new java.util.concurrent.CyclicBarrier(2)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def merge(k: Long, v: String, part: String): Thread = new Thread(() => {
      try {
        gate.await()
        TxLog.applyChanges(spark, t,
          deletes = Seq.empty[(Long, String)].toDF("k", "p"),
          upserts = Seq((k, v, part)).toDF("k", "v", "p"),
          key = "k", partitionCol = "p"): Unit
      } catch { case e: Throwable => errs.add(e): Unit }
    })
    val (wx, wy) = (merge(3L, "cx", "x"), merge(4L, "dy", "y"))
    wx.start(); wy.start(); wx.join(120000); wy.join(120000)
    assert(errs.isEmpty, s"merge thread failed: ${errs.peek()}")
    assert(TxLog.read(spark, t).collect()
      .map(r => r.getAs[Long]("k") -> r.getAs[String]("v")).toMap
      === Map(1L -> "a", 2L -> "b", 3L -> "cx", 4L -> "dy"),
      "disjoint-partition merges must both land whatever the interleaving")
    // concurrent SAME-partition merges on different keys: the loser's
    // re-merge includes the winner's row — composition, not last-wins
    val (m1, m2) = (merge(5L, "e", "x"), merge(6L, "f", "x"))
    m1.start(); m2.start(); m1.join(120000); m2.join(120000)
    val got = TxLog.read(spark, t).collect()
      .map(r => r.getAs[Long]("k") -> r.getAs[String]("v")).toMap
    assert(got.get(5L) === Some("e") && got.get(6L) === Some("f"),
      s"same-partition merges must compose, got $got")
    // delete + upsert same key across partitions = the cell-move contract
    TxLog.applyChanges(spark, t,
      deletes = Seq((1L, "x")).toDF("k", "p"),
      upserts = Seq((1L, "a2", "y")).toDF("k", "v", "p"),
      key = "k", partitionCol = "p")
    val moved = TxLog.read(spark, t).collect()
      .map(r => r.getAs[Long]("k") -> ((r.getAs[String]("v"), r.getAs[String]("p")))).toMap
    assert(moved(1L) === (("a2", "y")), "a key move lands in its new partition only")
  }

  test("a reader mid-commit sees the prior snapshot; wrong-partition deletes abort uncommitted") {
    import spark.implicits._
    val t = table("iso")
    TxLog.applyChanges(spark, t,
      deletes = Seq.empty[(Long, String)].toDF("k", "p"),
      upserts = Seq((1L, "a", "x")).toDF("k", "v", "p"),
      key = "k", partitionCol = "p")
    // snapshot isolation: the interleave seam fires inside the writer's
    // commit attempt — its merge is staged but unclaimed; a read() at that
    // moment must return the PRIOR committed content
    @volatile var midCommit: Option[Map[Long, String]] = None
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    TxLog.testInterleave = () =>
      if (fired.compareAndSet(false, true)) {
        TxLog.testInterleave = () => ()
        midCommit = Some(TxLog.read(spark, t).collect()
          .map(r => r.getAs[Long]("k") -> r.getAs[String]("v")).toMap)
      }
    try {
      TxLog.applyChanges(spark, t,
        deletes = Seq.empty[(Long, String)].toDF("k", "p"),
        upserts = Seq((2L, "b", "x")).toDF("k", "v", "p"),
        key = "k", partitionCol = "p"): Unit
    } finally TxLog.testInterleave = () => ()
    assert(midCommit === Some(Map(1L -> "a")),
      "a reader during an in-flight merge commit must see the prior snapshot")
    assert(TxLog.read(spark, t).count() === 2)
    // wrong-partition delete: k=1 lives in x, the delete names y — the
    // merge must abort with NOTHING committed (version unchanged) and the
    // staging dropped from the data dir
    val vBefore = TxLog.snapshot(spark, t).version
    val e = intercept[IllegalArgumentException] {
      TxLog.applyChanges(spark, t,
        deletes = Seq((1L, "y")).toDF("k", "p"),
        upserts = Seq((9L, "z", "y")).toDF("k", "v", "p"),
        key = "k", partitionCol = "p")
    }
    assert(e.getMessage.contains("do not name"))
    assert(TxLog.snapshot(spark, t).version === vBefore,
      "a failed merge must commit nothing")
    // a replayed delete (key absent everywhere) converges as a no-op
    TxLog.applyChanges(spark, t,
      deletes = Seq((777L, "x")).toDF("k", "p"),
      upserts = Seq((3L, "c", "x")).toDF("k", "v", "p"),
      key = "k", partitionCol = "p")
    assert(TxLog.read(spark, t).collect().map(_.getAs[Long]("k")).toSet
      === Set(1L, 2L, 3L))
    // NULL delete keys rejected before any IO
    val ne = intercept[IllegalArgumentException] {
      TxLog.applyChanges(spark, t,
        deletes = Seq((Option.empty[Long], "x")).toDF("k", "p"),
        upserts = Seq((4L, "d", "x")).toDF("k", "v", "p"),
        key = "k", partitionCol = "p")
    }
    assert(ne.getMessage.contains("NULL key"))
  }

  test("upsertPartitioned keeps untouched partitions' manifest entries and files") {
    import spark.implicits._
    val t = table("upsert_p")
    TxLog.append(Seq((1L, "a", 10), (2L, "b", 10), (3L, "c", 20), (4L, "d", 30))
      .toDF("k", "v", "p"), t, Some("p"))
    val (p20, p30) = (partitionState(spark, t, "p=20"), partitionState(spark, t, "p=30"))
    assert(p20._1.nonEmpty && p30._1.nonEmpty)
    // batch touches ONLY p=10: replaces key 2, inserts key 9
    TxLog.upsert(spark, t,
      Seq((2L, "B", 10), (9L, "z", 10)).toDF("k", "v", "p"), "k", Some("p"))
    assert(partitionState(spark, t, "p=20") === p20,
      "untouched partition p=20 must keep its entries and exact files")
    assert(partitionState(spark, t, "p=30") === p30,
      "untouched partition p=30 must keep its entries and exact files")
    val got = TxLog.read(spark, t).collect()
      .map(r => r.getAs[Long]("k") -> ((r.getAs[String]("v"), r.getAs[Int]("p")))).toMap
    assert(got === Map(1L -> ("a", 10), 2L -> ("B", 10), 9L -> ("z", 10),
      3L -> ("c", 20), 4L -> ("d", 30)))
    // an empty batch (a no-data streaming trigger) commits nothing
    assert(TxLog.upsert(spark, t,
      Seq.empty[(Long, String, Int)].toDF("k", "v", "p"), "k", Some("p")) === 1L)
    assert(TxLog.snapshot(spark, t).version === 1L)
    // a merge into a table with no log yet lays down version 0
    val fresh = table("upsert_p_fresh")
    assert(TxLog.upsert(spark, fresh,
      Seq((7L, "q", 40)).toDF("k", "v", "p"), "k", Some("p")) === 0L)
    assert(TxLog.read(spark, fresh).count() === 1L)
  }

  private def kv(t: String): Map[Long, String] = TxLog.read(spark, t).collect()
    .map(r => r.getAs[Long]("k") -> r.getAs[String]("v")).toMap

  test("unpartitioned upsert replaces same-key rows and inserts new keys") {
    import spark.implicits._
    val t = table("upsert_u")
    TxLog.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), t)
    TxLog.append(Seq((3L, "c")).toDF("k", "v"), t)
    // a computed batch: replaces k=2 and k=3 (from two commit dirs), inserts k=4
    assert(TxLog.upsert(spark, t, spark.range(2, 5)
      .select(col("id").as("k"), concat(lit("u"), col("id")).as("v")), "k") === 2L)
    assert(kv(t) === Map(1L -> "a", 2L -> "u2", 3L -> "u3", 4L -> "u4"))
    assert(TxLog.snapshot(spark, t).entries.forall(_.partition.isEmpty))
  }

  test("unpartitioned upsert of an empty batch commits nothing into an existing table") {
    import spark.implicits._
    val t = table("upsert_u_empty")
    TxLog.append(Seq((1L, "a")).toDF("k", "v"), t)
    def commitDirs = new java.io.File(s"$t/data").list().toSet
    val dirsBefore = commitDirs
    assert(TxLog.upsert(spark, t, Seq.empty[(Long, String)].toDF("k", "v"), "k") === 0L)
    assert(TxLog.upsert(spark, t,
      spark.range(0).select(col("id").as("k"), lit("x").as("v")), "k") === 0L)
    assert(TxLog.snapshot(spark, t).version === 0L)
    assert(commitDirs === dirsBefore, "an empty batch must leave no staging behind")
    assert(kv(t) === Map(1L -> "a"))
  }

  test("unpartitioned upsert of an empty batch into a missing table commits an empty version 0") {
    import spark.implicits._
    val t = table("upsert_u_fresh")
    assert(TxLog.upsert(spark, t, Seq.empty[(Long, String)].toDF("k", "v"), "k") === 0L)
    val got = TxLog.read(spark, t)
    assert(got.schema.map(f => f.name -> f.dataType) ===
      Seq("k" -> org.apache.spark.sql.types.LongType,
        "v" -> org.apache.spark.sql.types.StringType))
    assert(got.count() === 0L)
    // and the empty table takes the next batch like any other
    TxLog.upsert(spark, t, Seq((1L, "a")).toDF("k", "v"), "k")
    assert(kv(t) === Map(1L -> "a"))
  }

  test("a replayed unpartitioned upsert converges") {
    import spark.implicits._
    val t = table("upsert_u_replay")
    TxLog.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), t)
    def deliver(): Long = TxLog.upsert(spark, t, Seq((2L, "B"), (3L, "c")).toDF("k", "v"), "k")
    assert(deliver() === 1L)
    assert(deliver() === 2L) // at-least-once redelivery
    assert(kv(t) === Map(1L -> "a", 2L -> "B", 3L -> "c"))
    assert(TxLog.read(spark, t).count() === 3L, "a replay must not duplicate keys")
  }

  test("concurrent unpartitioned upserts of disjoint keys both land") {
    // writer A blocks inside its staged write until writer B has committed,
    // so A's claim must lose and A must re-merge on B's version; a
    // read-merge-swap would drop B's row here
    import spark.implicits._
    val t = table("upsert_u_cc")
    TxLog.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), t)
    val (entered, release) = (new java.util.concurrent.CountDownLatch(1),
      new java.util.concurrent.CountDownLatch(1))
    TxLogSpec.latches = Some((entered, release))
    val gated = udf { (v: String) =>
      TxLogSpec.latches.foreach { case (in, go) =>
        in.countDown(); go.await(60, java.util.concurrent.TimeUnit.SECONDS) }
      v
    }.asNondeterministic()
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val a = new Thread(() => {
      try {
        val s = spark.newSession()
        TxLog.upsert(s, t, s.range(8, 9)
          .select(col("id").as("k"), gated(lit("wA")).as("v")), "k"): Unit
      } catch { case e: Throwable => errs.add(e): Unit }
    })
    try {
      a.start()
      assert(entered.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "writer A never reached its staged write")
      assert(TxLog.upsert(spark.newSession(), t, Seq((9L, "wB")).toDF("k", "v"), "k") === 1L)
      release.countDown()
      a.join(120000)
    } finally { release.countDown(); TxLogSpec.latches = None }
    assert(errs.isEmpty, s"upsert thread failed: ${errs.peek()}")
    assert(kv(t) === Map(1L -> "a", 2L -> "b", 8L -> "wA", 9L -> "wB"),
      "both writers' upserts must land; neither may clobber the other")
    assert(TxLog.snapshot(spark, t).version === 2L,
      "the losing claim must re-merge onto the winner's version")
    assert(new java.io.File(s"$t/data").list().length === 3,
      "one commit dir per committed version: the lost attempt's staging is dropped")
  }

  test("an upsert whose staged write throws leaves the prior version live") {
    // the window in which a delete-then-rename swap has no table on disk
    import spark.implicits._
    val t = table("upsert_u_fault")
    TxLog.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), t)
    val before = (TxLog.snapshot(spark, t), kv(t),
      new java.io.File(s"$t/_txlog").list().toSet,
      new java.io.File(s"$t/data").list().toSet)
    val boom = udf { (k: Long) =>
      if (k == 3L) throw new IllegalStateException("injected write fault")
      s"u$k"
    }
    intercept[Exception] {
      TxLog.upsert(spark, t, spark.range(2, 5)
        .select(col("id").as("k"), boom(col("id")).as("v")), "k")
    }
    assert(TxLog.snapshot(spark, t) === before._1, "no version may be committed")
    assert(kv(t) === before._2, "the prior version must read back unchanged")
    assert(new java.io.File(s"$t/_txlog").list().toSet === before._3,
      "no manifest may be written for the failed attempt")
    assert(new java.io.File(s"$t/data").list().toSet === before._4,
      "the failed attempt's staging must be dropped")
  }

  test("applyChanges round-trips NULL and escape-needing partition values") {
    import spark.implicits._
    val t = table("changes_n")
    TxLog.append(Seq((1L, "a", Some("x y")), (2L, "b", None), (3L, "c", Some("x y")),
        (4L, "d", Some("2024/01"))).toDF("k", "v", "p"), t, Some("p"))
    val tokens = TxLog.snapshot(spark, t).entries.flatMap(_.partition).toSet
    assert(tokens === Set("p=x y", "p=__HIVE_DEFAULT_PARTITION__", "p=2024%2F01"),
      s"fixture must land a Hive default (null) and an escaped partition: $tokens")
    def got = TxLog.read(spark, t).collect()
      .map(r => r.getAs[Long]("k") -> ((r.getAs[String]("v"), r.getAs[String]("p")))).toMap
    // delete k=2 — EMPTIES the null partition; replace k=1 inside "x y";
    // move k=4 within "2024/01" to a new key — its delete only finds the
    // row through the escaped directory token
    TxLog.applyChanges(spark, t,
      deletes = Seq((2L, None: Option[String]), (4L, Some("2024/01"))).toDF("k", "p"),
      upserts = Seq((1L, "A", Some("x y")), (5L, "e", Some("2024/01"))).toDF("k", "v", "p"),
      key = "k", partitionCol = "p")
    assert(!TxLog.snapshot(spark, t).entries
      .exists(_.partition.contains("p=__HIVE_DEFAULT_PARTITION__")),
      "an emptied null partition must drop out of the manifest")
    assert(got === Map(1L -> ("A", "x y"), 3L -> ("c", "x y"), 5L -> ("e", "2024/01")))
    // and back into the null partition
    TxLog.upsert(spark, t,
      Seq((6L, "f", None: Option[String])).toDF("k", "v", "p"), "k", Some("p"))
    assert(got.get(6L) === Some(("f", null)))
  }
}

object TxLogSpec {

  /** (entered, release) for a UDF that parks a writer inside its staged
    * write; tasks run in the driver JVM, so the closure reads it here. */
  @volatile var latches: Option[(java.util.concurrent.CountDownLatch,
    java.util.concurrent.CountDownLatch)] = None

  /** The live manifest entries of one partition, with (name, length,
    * mtime) of each entry's file — equality means a merge neither
    * re-pointed nor rewrote the partition.
    */
  def partitionState(spark: org.apache.spark.sql.SparkSession, t: String, token: String)
      : (Seq[TxLog.FileEntry], Set[(String, Long, Long)]) = {
    val es = TxLog.snapshot(spark, t).entries.filter(_.partition.contains(token))
    (es, es.map { e =>
      val f = new java.io.File(new org.apache.hadoop.fs.Path(e.path).toUri.getPath)
      (f.getName, f.length(), f.lastModified())
    }.toSet)
  }
}
