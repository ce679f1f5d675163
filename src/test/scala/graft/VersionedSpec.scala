package graft

import org.apache.spark.sql.functions._

import graft.sources.Versioned

class VersionedSpec extends SparkSpec {
  import spark.implicits._

  private def table(n: Int) =
    (0 until n).map(i => (i.toLong, s"s$i", i * 10.0))
      .toDF("k", "status", "price")

  test("copy-on-write merge rewrites ONLY range-affected files; old " +
    "snapshots stay readable") {
    val root = TempDirs.createCleanedAtExit("graft-versioned-spec") + "/t"
    Versioned.write(table(20), root, "k", version = 1, nFiles = 4)
    val man1 = Versioned.manifest(spark, root, 1)
      .select("path", "min_key", "max_key", "rows")
      .as[(String, Long, Long, Long)].collect().sortBy(_._2)
    assert(man1.length == 4, s"expected 4 files, got ${man1.length}")
    assert(man1.map(_._4).sum == 20)
    // ranges are disjoint and ordered (repartitionByRange)
    man1.sliding(2).foreach { w =>
      assert(w(0)._3 < w(1)._2, s"overlapping ranges: ${w.toSeq}")
    }
    // change batch confined to the FIRST file's range (update k=1,
    // delete k=2) plus one net-new key (insert k=100)
    val changes = Seq(
      (1L, "upd", 111.0, "U"),
      (2L, "del", 0.0, "D"),
      (100L, "new", 1000.0, "U")).toDF("k", "status", "price", "op")
    Versioned.merge(spark, root, "k", "op", changes, 1, 2)
    val man2 = Versioned.manifest(spark, root, 2)
      .select("path", "min_key", "max_key", "rows")
      .as[(String, Long, Long, Long)].collect()
    // files whose ranges the batch does NOT touch carry over verbatim
    // (identical path = no rewrite); touched ones must be rewritten
    val touched = man1.filter(e =>
      Seq(1L, 2L).exists(k => k >= e._2 && k <= e._3)).map(_._1).toSet
    val untouchedExp = man1.map(_._1).toSet -- touched
    val carried = man1.map(_._1).toSet.intersect(man2.map(_._1).toSet)
    assert(touched.nonEmpty && untouchedExp.size >= 2, man1.toSeq.toString)
    assert(carried == untouchedExp,
      s"carried=$carried expected=$untouchedExp")
    // v2 content: update applied, delete gone, insert present
    val v2 = Versioned.readAsOf(spark, root, 2)
      .as[(Long, String, Double)].collect().map(r => r._1 -> r).toMap
    assert(v2.size == 20, s"19 base + 1 insert, got ${v2.size}")
    assert(v2(1L) == ((1L, "upd", 111.0)))
    assert(!v2.contains(2L))
    assert(v2(100L) == ((100L, "new", 1000.0)))
    assert(v2(7L) == ((7L, "s7", 70.0)))
    // time travel: v1 still reads exactly the original snapshot
    val v1 = Versioned.readAsOf(spark, root, 1)
      .as[(Long, String, Double)].collect().toSet
    assert(v1 == table(20).as[(Long, String, Double)].collect().toSet)
  }

  test("insert-only commit into net-new key space adds a file without " +
    "reading the table; delete-only miss is a pure manifest copy") {
    val root = TempDirs.createCleanedAtExit("graft-versioned-spec2") + "/t"
    Versioned.write(table(10), root, "k", version = 1, nFiles = 2)
    val man1 = Versioned.manifest(spark, root, 1)
      .select("path").as[String].collect().toSet
    // inserts beyond every file's max key
    val ins = Seq((50L, "a", 1.0, "U"), (51L, "b", 2.0, "U"))
      .toDF("k", "status", "price", "op")
    Versioned.merge(spark, root, "k", "op", ins, 1, 2)
    val man2 = Versioned.manifest(spark, root, 2)
      .select("path").as[String].collect().toSet
    assert(man1.subsetOf(man2) && man2.size == man1.size + 1,
      s"expected all ${man1.size} files carried + 1 new, got $man2")
    assert(Versioned.readAsOf(spark, root, 2).count() == 12)
    // deletes whose keys fall in no file's range: commit is metadata-only
    val miss = Seq((999L, "x", 0.0, "D")).toDF("k", "status", "price", "op")
    Versioned.merge(spark, root, "k", "op", miss, 2, 3)
    val man3 = Versioned.manifest(spark, root, 3)
      .select("path").as[String].collect().toSet
    assert(man3 == man2, "delete-miss commit must carry every file")
    assert(Versioned.readAsOf(spark, root, 3).count() == 12)
  }

  test("readAsOfWhere prunes files by manifest key bounds and matches " +
    "the full read + filter") {
    val root = TempDirs.createCleanedAtExit("graft-versioned-spec3") + "/t"
    Versioned.write(table(40), root, "k", version = 1, nFiles = 4)
    val all = Versioned.manifest(spark, root, 1)
      .select("path").as[String].collect().toSet
    // a range inside one file's bounds opens strictly fewer files
    val pruned = Versioned.prunedPaths(spark, root, 1, 2L, 3L)
    assert(pruned.nonEmpty && pruned.size < all.size,
      s"pruning inert: ${pruned.size} of ${all.size}")
    val got = Versioned.readAsOfWhere(spark, root, 1, "k", 2L, 3L)
      .as[(Long, String, Double)].collect().toSet
    val want = Versioned.readAsOf(spark, root, 1)
      .filter($"k" >= 2 && $"k" <= 3)
      .as[(Long, String, Double)].collect().toSet
    assert(got == want && got.size == 2)
    // fully-out-of-range read: zero files opened, schema intact
    val empty = Versioned.readAsOfWhere(spark, root, 1, "k", 900L, 999L)
    assert(empty.count() == 0
      && empty.columns.toSeq == Seq("k", "status", "price"))
  }

  test("expire deletes only files no surviving snapshot references") {
    val root = TempDirs.createCleanedAtExit("graft-versioned-spec4") + "/t"
    Versioned.write(table(20), root, "k", version = 1, nFiles = 4)
    val changes = Seq((1L, "u", 1.0, "U")).toDF("k", "status", "price", "op")
    Versioned.merge(spark, root, "k", "op", changes, 1, 2)
    val man1 = Versioned.manifest(spark, root, 1)
      .select("path").as[String].collect().toSet
    val man2 = Versioned.manifest(spark, root, 2)
      .select("path").as[String].collect().toSet
    val deleted = Versioned.expire(spark, root, keepVersions = 1)
    // exactly the v1-only files (the rewritten first file's ancestor)
    assert(deleted == (man1 -- man2).size && deleted >= 1)
    assert(!Versioned.hasVersion(root, 1))
    // v2 still reads completely
    assert(Versioned.readAsOf(spark, root, 2).count() == 20)
    man2.foreach { p =>
      assert(new java.io.File(new java.net.URI(p).getPath).exists(), p)
    }
  }

  test("merge-on-read deletes: tombstone commits reuse every data " +
    "file, stack, and compact folds them back") {
    val root = TempDirs.createCleanedAtExit("graft-versioned-spec5") + "/t"
    Versioned.write(table(20), root, "k", version = 1, nFiles = 4)
    val dataFiles1 = Versioned.manifest(spark, root, 1)
      .select("path").as[String].collect().toSet
    // v2: MOR-delete keys 3,7 — zero data files rewritten
    Versioned.deleteMor(spark, root, "k",
      Seq(3L, 7L).toDF("k"), 1, 2)
    val man2 = Versioned.manifest(spark, root, 2)
    assert(man2.filter($"kind" === "data")
      .select("path").as[String].collect().toSet == dataFiles1,
      "a MOR delete must carry every data file verbatim")
    assert(man2.filter($"kind" === "delete").count() == 1)
    val v2 = Versioned.readAsOf(spark, root, 2)
      .select("k").as[Long].collect().toSet
    assert(v2 == (0L until 20L).toSet -- Set(3L, 7L))
    // v3: second tombstone commit stacks on the first
    Versioned.deleteMor(spark, root, "k", Seq(11L).toDF("k"), 2, 3)
    val v3 = Versioned.readAsOf(spark, root, 3)
      .select("k").as[Long].collect().toSet
    assert(v3 == (0L until 20L).toSet -- Set(3L, 7L, 11L))
    // range read under tombstones: pruned AND delete-corrected
    val got = Versioned.readAsOfWhere(spark, root, 3, "k", 2L, 8L)
      .select("k").as[Long].collect().toSet
    assert(got == Set(2L, 4L, 5L, 6L, 8L))
    // v4 = compact: same content, pure data files, no tombstones
    Versioned.compact(spark, root, "k", 3, 4)
    val man4 = Versioned.manifest(spark, root, 4)
    assert(man4.filter($"kind" === "delete").isEmpty)
    val v4 = Versioned.readAsOf(spark, root, 4)
      .select("k").as[Long].collect().toSet
    assert(v4 == v3)
    assert(man4.agg(sum("rows")).head().getLong(0) == 17)
    // COW merge refuses a tombstoned from-version (compact-first
    // contract), accepts the compacted one
    val up = Seq((0L, "z", 9.0, "U")).toDF("k", "status", "price", "op")
    intercept[IllegalArgumentException] {
      Versioned.merge(spark, root, "k", "op", up, 3, 5)
    }
    Versioned.merge(spark, root, "k", "op", up, 4, 5)
    assert(Versioned.readAsOf(spark, root, 5).filter($"k" === 0)
      .select("status").as[String].head() == "z")
  }

  test("merge and compact release the cached manifest when they fail") {
    val root = TempDirs.createCleanedAtExit("graft-versioned-spec-leak") + "/t"
    Versioned.write(table(20), root, "k", version = 1, nFiles = 4)
    Versioned.deleteMor(spark, root, "k", Seq(3L).toDF("k"), 1, 2)
    // a cached manifest is found by any frame of the same rows
    def cached(v: Int): Boolean = Versioned.manifest(spark, root, v).storageLevel !=
      org.apache.spark.storage.StorageLevel.NONE
    val up = Seq((0L, "z", 9.0, "U")).toDF("k", "status", "price", "op")
    // merge's tombstone check throws
    intercept[IllegalArgumentException](
      Versioned.merge(spark, root, "k", "op", up, 2, 3))
    assert(!cached(2), "merge left the v2 manifest cached")
    // compact's injected crash before the commit
    val crash = intercept[RuntimeException](Versioned.compact(spark, root, "k", 2, 3,
      crashAt = Some("pre_commit")))
    assert(crash.getMessage.contains("injected crash at pre_commit"))
    assert(!cached(2), "compact left the v2 manifest cached")
    // a commit conflict: v3 already exists
    Versioned.compact(spark, root, "k", 2, 3)
    intercept[Versioned.ConcurrentCommitException](
      Versioned.merge(spark, root, "k", "op", up, 3, 3, overwrite = false))
    assert(!cached(3), "a losing merge left the v3 manifest cached")
    intercept[Versioned.ConcurrentCommitException](
      Versioned.compact(spark, root, "k", 2, 3, overwrite = false))
    assert(!cached(2), "a losing compact left the v2 manifest cached")
  }

  test("add-column schema evolution: rewritten files carry the new " +
    "column, old files read as nulls, old snapshots keep the old " +
    "schema") {
    val root = TempDirs.createCleanedAtExit("graft-versioned-spec6") + "/t"
    Versioned.write(table(20), root, "k", version = 1, nFiles = 4)
    // change batch carries a NEW column `tier`: update k=1, insert
    // k=100; every other row survives with tier = null
    val changes = Seq(
      (1L, "upd", 111.0, "gold", "U"),
      (100L, "new", 1000.0, "silver", "U"))
      .toDF("k", "status", "price", "tier", "op")
    Versioned.merge(spark, root, "k", "op", changes, 1, 2)
    val v2 = Versioned.readAsOf(spark, root, 2)
    assert(v2.columns.toSet == Set("k", "status", "price", "tier"))
    val tiers = v2.select("k", "tier").as[(Long, Option[String])]
      .collect().toMap
    assert(tiers(1L).contains("gold") && tiers(100L).contains("silver"))
    assert(tiers(7L).isEmpty && tiers.size == 21)
    // carried rows in the REWRITTEN file also get null (they predate
    // the column): k=0 shares the first file with k=1
    assert(tiers(0L).isEmpty)
    // the old snapshot is untouched by the evolution
    assert(Versioned.readAsOf(spark, root, 1).columns.toSet ==
      Set("k", "status", "price"))
    // range reads see the evolved schema too
    val w = Versioned.readAsOfWhere(spark, root, 2, "k", 1L, 1L)
    assert(w.columns.contains("tier")
      && w.select("tier").as[String].head() == "gold")
    // schema STABILITY: a range whose surviving files all predate the
    // evolution must still carry the column (as nulls), and so must a
    // fully-pruned range — the snapshot's schema never depends on
    // which files the manifest prunes
    val oldOnly = Versioned.readAsOfWhere(spark, root, 2, "k", 15L, 16L)
    assert(oldOnly.columns.contains("tier"),
      s"pre-evolution range dropped the evolved column: ${oldOnly.columns.toSeq}")
    assert(oldOnly.select("k", "tier").as[(Long, Option[String])]
      .collect().toSet == Set((15L, None), (16L, None)))
    val none = Versioned.readAsOfWhere(spark, root, 2, "k", 900L, 999L)
    assert(none.count() == 0 && none.columns.contains("tier"),
      s"fully-pruned range lost the schema: ${none.columns.toSeq}")
  }

  test("change feed: per-commit row-level diff with pre/post images, " +
    "carried-verbatim files never scanned, compaction diffs to zero") {
    val root = TempDirs.createCleanedAtExit("graft-versioned-spec7") + "/t"
    Versioned.write(table(20), root, "k", version = 1, nFiles = 4)
    // v2: COW merge with an evolved column — update k=1, delete k=2,
    // insert k=100 (net-new key space)
    val changes = Seq(
      (1L, "upd", 111.0, "gold", "U"),
      (2L, "del", 0.0, null.asInstanceOf[String], "D"),
      (100L, "new", 1000.0, "silver", "U"))
      .toDF("k", "status", "price", "tier", "op")
    Versioned.merge(spark, root, "k", "op", changes, 1, 2)
    val feed2 = Versioned.changeFeed(spark, root, "k", 1, 2)
      .select("_change_type", "k", "status", "price", "tier")
      .as[(String, Long, String, Double, Option[String])]
      .collect().toSet
    assert(feed2 == Set(
      ("delete", 2L, "s2", 20.0, None),
      ("update_preimage", 1L, "s1", 10.0, None),
      ("update_postimage", 1L, "upd", 111.0, Some("gold")),
      ("insert", 100L, "new", 1000.0, Some("silver"))),
      s"unexpected feed: $feed2")
    // rewritten-but-carried rows (k=0, k=3 share the first file with
    // k=1/k=2) must NOT appear — the null-safe struct diff drops them
    assert(!feed2.exists(r => r._2 == 0L || r._2 == 3L))
    // carried-verbatim files are never scanned: the CDF path set is
    // disjoint from the files both manifests share
    val common = Versioned.manifest(spark, root, 1)
      .select("path").as[String].collect().toSet
      .intersect(Versioned.manifest(spark, root, 2)
        .select("path").as[String].collect().toSet)
    val scanned = Versioned.cdfScanPaths(spark, root, 1, 2).toSet
    assert(common.nonEmpty && scanned.intersect(common).isEmpty,
      s"CDF scanned a carried file: ${scanned.intersect(common)}")
    // v3: MOR tombstone commit — pure deletes in the feed, and the
    // brute-force snapshot diff agrees with the manifest-diff feed
    Versioned.deleteMor(spark, root, "k", Seq(5L, 7L).toDF("k"), 2, 3)
    val feed3 = Versioned.changeFeed(spark, root, "k", 2, 3)
      .select("_change_type", "k").as[(String, Long)].collect().toSet
    assert(feed3 == Set(("delete", 5L), ("delete", 7L)))
    // a second tombstone commit re-deleting k=5 plus k=9: the feed
    // excludes the already-dead key
    Versioned.deleteMor(spark, root, "k", Seq(5L, 9L).toDF("k"), 3, 4)
    val feed4 = Versioned.changeFeed(spark, root, "k", 3, 4)
      .select("_change_type", "k").as[(String, Long)].collect().toSet
    assert(feed4 == Set(("delete", 9L)))
    // v5 = compaction: content-preserving, so its diff is EMPTY and a
    // multi-commit range attributes every change to its true commit
    Versioned.compact(spark, root, "k", 4, 5)
    assert(Versioned.changeFeed(spark, root, "k", 4, 5).isEmpty)
    val byCommit = Versioned.changeFeed(spark, root, "k", 2, 5)
      .groupBy("_commit_version").count()
      .as[(Int, Long)].collect().toMap
    assert(byCommit == Map(3 -> 2L, 4 -> 1L), s"got $byCommit")
  }

  test("optimistic concurrency: the second writer committing the same " +
    "version loses atomically and succeeds on retry against the new " +
    "latest") {
    val root = TempDirs.createCleanedAtExit("graft-versioned-spec8") + "/t"
    Versioned.write(table(20), root, "k", version = 1, nFiles = 4)
    // writer A wins the race to v2
    val a = Seq((1L, "a", 1.0, "U")).toDF("k", "status", "price", "op")
    Versioned.merge(spark, root, "k", "op", a, 1, 2, overwrite = false)
    // writer B derived its batch from v1 too; its v2 commit must fail
    // without touching A's committed manifest
    val b = Seq((2L, "b", 2.0, "U")).toDF("k", "status", "price", "op")
    intercept[Versioned.ConcurrentCommitException] {
      Versioned.merge(spark, root, "k", "op", b, 1, 2, overwrite = false)
    }
    assert(Versioned.latestVersion(root) == 2)
    assert(Versioned.readAsOf(spark, root, 2).filter($"k" === 1)
      .select("status").as[String].head() == "a", "loser clobbered A")
    // the retry loop: B re-reads the latest and commits on top
    Versioned.merge(spark, root, "k", "op", b, 2, 3, overwrite = false)
    val v3 = Versioned.readAsOf(spark, root, 3)
      .select("k", "status").as[(Long, String)].collect().toMap
    assert(v3(1L) == "a" && v3(2L) == "b")
    // B's orphaned first-attempt file group is unreferenced; expire
    // keeps every live file and the snapshots stay readable
    Versioned.expire(spark, root, keepVersions = 2)
    assert(Versioned.readAsOf(spark, root, 3).count() == 20)
    // the same conflict guards the tombstone and compaction commits
    intercept[Versioned.ConcurrentCommitException] {
      Versioned.deleteMor(spark, root, "k", Seq(5L).toDF("k"), 2, 3,
        overwrite = false)
    }
    intercept[Versioned.ConcurrentCommitException] {
      Versioned.write(table(5), root, "k", version = 3, nFiles = 1,
        overwrite = false)
    }
  }

  test("optimistic concurrency under TRUE concurrency: racing writers " +
    "produce exactly one winner per version, every time") {
    val root = TempDirs.createCleanedAtExit("graft-versioned-spec9") + "/t"
    Versioned.write(table(10), root, "k", version = 1, nFiles = 2)
    import java.util.concurrent.{CountDownLatch, Executors}
    val pool = Executors.newFixedThreadPool(4)
    try {
      (2 to 4).foreach { v =>
        // four writers race the same commit; the kernel's rename
        // serializes them — exactly one must win, the rest must get
        // the typed conflict (never a raw rename error or two winners)
        val start = new CountDownLatch(1)
        val results = (0 until 4).map { i =>
          pool.submit(new java.util.concurrent.Callable[String] {
            override def call(): String = {
              val b = Seq((i.toLong, s"w$i-v$v", i * 1.0, "U"))
                .toDF("k", "status", "price", "op")
              start.await()
              try { Versioned.merge(spark, root, "k", "op", b,
                v - 1, v, overwrite = false); "won" }
              catch {
                case _: Versioned.ConcurrentCommitException => "lost"
              }
            }
          })
        }
        start.countDown()
        val outcomes = results.map(_.get())
        assert(outcomes.count(_ == "won") == 1,
          s"v$v outcomes: $outcomes")
        // the committed snapshot carries exactly the winner's row for
        // THIS version (earlier rounds' winners persist on their keys)
        val winner = Versioned.readAsOf(spark, root, v)
          .filter($"status".endsWith(s"-v$v"))
          .select("status").as[String].collect()
        assert(winner.length == 1, s"v$v rows: ${winner.mkString(",")}")
      }
      // the nine losers each orphaned a file group no manifest
      // references; vacuum reclaims EXACTLY those, and every snapshot
      // still reads in full afterwards
      // graceMs = 0: all writers are provably done here; the default
      // retention exists for vacuums racing in-flight commits
      val removed = Versioned.vacuumOrphans(spark, root, graceMs = 0L)
      assert(removed == 9, s"expected 9 orphaned groups, got $removed")
      assert(Versioned.vacuumOrphans(spark, root, graceMs = 0L) == 0)
      // the default-grace vacuum skips EVERYTHING young — the
      // retention window that keeps a racing writer's pre-commit file
      // group alive (all groups here are seconds old)
      Versioned.write(table(3), root, "k", version = 5, nFiles = 1)
      val f = new java.io.File(s"$root/files")
      val groupsBefore = Option(f.listFiles()).get.count(_.isDirectory)
      assert(Versioned.vacuumOrphans(spark, root) == 0)
      assert(Option(f.listFiles()).get.count(_.isDirectory)
        == groupsBefore, "default-grace vacuum must not delete young groups")
      (1 to 4).foreach { v =>
        assert(Versioned.readAsOf(spark, root, v).count() >= 10,
          s"v$v unreadable after vacuum")
      }
    } finally pool.shutdown()
  }

  test("version pointers make table open O(1): warm latest/oldest " +
    "do ZERO manifest-directory listings, and a stale pointer " +
    "self-repairs") {
    val root = TempDirs.createCleanedAtExit("graft-versioned-ptr") + "/t"
    Versioned.write(table(10), root, "k", version = 1, nFiles = 2)
    (2 to 6).foreach { v =>
      val ch = Seq((1L, s"v$v", 1.0, "U")).toDF("k", "status", "price", "op")
      Versioned.merge(spark, root, "k", "op", ch, v - 1, v)
    }
    val before = Versioned.manifestListings.get()
    assert(Versioned.latestVersion(root) == 6)
    assert(Versioned.oldestVersion(root) == 1)
    assert(Versioned.manifestListings.get() == before,
      "pointer-path open must not list the manifest directory")
    // stale-low pointer (a racing writer's late pointer write): the
    // probe walks forward to the true latest
    val last = new java.io.File(s"$root/_graft_manifest/_last")
    java.nio.file.Files.write(last.toPath, "4\n".getBytes("UTF-8"))
    assert(Versioned.latestVersion(root) == 6)
    // expire moves the oldest pointer; open stays listing-free
    Versioned.expire(spark, root, keepVersions = 3)
    val before2 = Versioned.manifestListings.get()
    assert(Versioned.oldestVersion(root) == 4)
    assert(Versioned.latestVersion(root) == 6)
    assert(Versioned.manifestListings.get() == before2)
    // crash between expire's deletes and its pointer update: stale
    // `_first` probes forward and self-repairs
    val first = new java.io.File(s"$root/_graft_manifest/_first")
    java.nio.file.Files.write(first.toPath, "1\n".getBytes("UTF-8"))
    assert(Versioned.oldestVersion(root) == 4)
    // a deleted pointer falls back to the listing and still answers
    last.delete()
    assert(Versioned.latestVersion(root) == 6)
  }

  test("timestamp time travel: latest commit <= ts wins, boundary " +
    "inclusive, pre-history and post-expire asks fail typed") {
    val root = TempDirs.createCleanedAtExit("graft-versioned-ts") + "/t"
    Versioned.write(table(10), root, "k", version = 1, nFiles = 2)
    val ch = Seq((1L, "u", 9.0, "U")).toDF("k", "status", "price", "op")
    Versioned.merge(spark, root, "k", "op", ch, 1, 2)
    Versioned.setCommitTimestamp(root, 1, 1000L)
    Versioned.setCommitTimestamp(root, 2, 2000L)
    assert(Versioned.versionAtTimestamp(root, 1500L) == 1)
    assert(Versioned.versionAtTimestamp(root, 2000L) == 2) // inclusive
    assert(Versioned.versionAtTimestamp(root, 99999L) == 2)
    assert(Versioned.readAsOfTimestamp(spark, root, 1500L)
      .filter($"k" === 1).select("status").as[String].head() == "s1")
    intercept[IllegalArgumentException] {
      Versioned.versionAtTimestamp(root, 999L) // predates v1
    }
    // expire interaction: once v1 is gone, its time range is
    // unanswerable — erroring beats silently serving v2
    Versioned.expire(spark, root, keepVersions = 1)
    intercept[IllegalArgumentException] {
      Versioned.versionAtTimestamp(root, 1500L)
    }
    assert(Versioned.versionAtTimestamp(root, 2500L) == 2)
  }

  test("snapshot isolation under concurrent maintenance: a reader " +
    "pinned to V survives expire+vacuum that keep V, and an expired " +
    "pin fails with the typed error") {
    val root = TempDirs.createCleanedAtExit("graft-versioned-iso") + "/t"
    Versioned.write(table(30), root, "k", version = 1, nFiles = 4)
    (2 to 4).foreach { v =>
      val ch = Seq(((v * 3).toLong, s"v$v", 1.0, "U"), ((v * 7).toLong, "", 0.0, "D"))
        .toDF("k", "status", "price", "op")
      Versioned.merge(spark, root, "k", "op", ch, v - 1, v)
    }
    // reader pins v3 (a DataFrame holds the resolved file list); a
    // concurrent writer commits v5, expire drops v1/v2 but keeps v3,
    // vacuum sweeps orphans — the pinned read must still see exactly
    // the v3 snapshot
    val pinned = Versioned.readAsOf(spark, root, 3)
    val expected = pinned.as[(Long, String, Double)].collect().toSet
    val ch5 = Seq((1L, "v5", 5.0, "U")).toDF("k", "status", "price", "op")
    Versioned.merge(spark, root, "k", "op", ch5, 4, 5)
    Versioned.expire(spark, root, keepVersions = 3) // keeps v3..v5
    Versioned.vacuumOrphans(spark, root, graceMs = 0L)
    assert(pinned.as[(Long, String, Double)].collect().toSet == expected,
      "pinned v3 read changed under concurrent expire+vacuum")
    assert(Versioned.readAsOf(spark, root, 3)
      .as[(Long, String, Double)].collect().toSet == expected)
    // a pin on an EXPIRED version fails with the typed error, not a
    // raw parquet path failure
    intercept[Versioned.NoSuchVersionException] {
      Versioned.readAsOf(spark, root, 2)
    }
    intercept[IllegalArgumentException] { // changeFeed's range require
      Versioned.changeFeed(spark, root, "k", 1, 3)
    }
  }

  test("restore: metadata-only rollback — new version equals the " +
    "target snapshot, history stays readable, CDF shows the revert, " +
    "and expire/vacuum cannot strand the restored files") {
    val root = TempDirs.createCleanedAtExit("graft-versioned-restore") + "/t"
    Versioned.write(table(20), root, "k", version = 1, nFiles = 2)
    val bad = Seq((3L, "oops", -1.0, "U"), (5L, "x", 0.0, "D"))
      .toDF("k", "status", "price", "op")
    Versioned.merge(spark, root, "k", "op", bad, 1, 2)
    val v1 = Versioned.readAsOf(spark, root, 1)
      .as[(Long, String, Double)].collect().toSet
    val newV = Versioned.restore(spark, root, 1)
    assert(newV == 3 && Versioned.latestVersion(root) == 3)
    // restored content == v1 exactly
    assert(Versioned.readAsOf(spark, root, 3)
      .as[(Long, String, Double)].collect().toSet == v1)
    // the bad version stays readable for audit
    val v2 = Versioned.readAsOf(spark, root, 2)
      .as[(Long, String, Double)].collect().toSet
    assert(v2 != v1 && v2.exists(_._2 == "oops"))
    // the change feed across the restore is the exact inverse of the
    // bad commit: the revert re-inserts the deleted key and restores
    // the updated row's pre-image
    val feed = Versioned.changeFeed(spark, root, "k", 2, 3)
    val byType = feed.groupBy("_change_type").count()
      .as[(String, Long)].collect().toMap
    assert(byType.getOrElse("insert", 0L) == 1L, s"got $byType")
    assert(byType.getOrElse("update_postimage", 0L) == 1L)
    val restored3 = feed
      .filter(col("_change_type") === "update_postimage")
      .select("k", "status").as[(Long, String)].head()
    assert(restored3 == (3L, "s3"), s"got $restored3")
    // retention maintenance: expire everything but the last two
    // surviving snapshots (v2, v3), then vacuum with zero grace —
    // v3 re-references v1's file group, so the restored snapshot
    // must survive both
    Versioned.expire(spark, root, keepVersions = 2)
    Versioned.vacuumOrphans(spark, root, graceMs = 0L)
    assert(Versioned.readAsOf(spark, root, 3)
      .as[(Long, String, Double)].collect().toSet == v1,
      "restore stranded by retention maintenance")
    // a restore of an EXPIRED version fails with the typed error
    intercept[Versioned.NoSuchVersionException] {
      Versioned.restore(spark, root, 1)
    }
  }

  test("writeWithExpectations: violators quarantined per constraint " +
    "(double violations attributed to both), committed snapshot is " +
    "clean, NULL passes (SQL CHECK semantics)") {
    val root = TempDirs.createCleanedAtExit("graft-versioned-expect") + "/t"
    val batch = Seq(
      (1L, "O", 10.0),             // clean
      (2L, "O", -5.0),             // price violation
      (3L, "Z", 7.0),              // status violation
      (4L, "Z", -1.0),             // both
      (5L, null.asInstanceOf[String], 3.0) // NULL status -> passes
    ).toDF("k", "status", "price")
    val metrics = Versioned.writeWithExpectations(batch, root, "k",
      version = 1, nFiles = 1, expectations = Seq(
        "price_nonneg" -> (col("price") >= 0),
        "status_known" -> col("status").isin("O", "F")))
      .as[(String, Long)].collect().toMap
    assert(metrics == Map("price_nonneg" -> 2L, "status_known" -> 2L,
      "__committed" -> 2L), metrics.toString)
    // committed snapshot = exactly the all-pass rows (NULL passes)
    val snap = Versioned.readAsOf(spark, root, 1)
      .select("k").as[Long].collect().toSet
    assert(snap == Set(1L, 5L), snap.toString)
    // quarantine: row 4 appears under BOTH constraints
    val q4 = Versioned.quarantine(spark, root, 1)
      .filter(col("k") === 4L)
      .select("__constraint").as[String].collect().toSet
    assert(q4 == Set("price_nonneg", "status_known"), q4.toString)
    // quarantined rows never reach the snapshot
    assert(Versioned.quarantine(spark, root, 1)
      .select("k").as[Long].collect().toSet
      .intersect(snap).isEmpty)
  }

  test("writeWithExpectations: a violation-FREE constraint still " +
    "appears in the metrics with an explicit 0 — 'all rows passed' " +
    "is distinguishable from 'constraint not evaluated'") {
    val root = TempDirs.createCleanedAtExit("graft-versioned-expect0") + "/t"
    val batch = Seq((1L, "O", 10.0), (2L, "F", -5.0))
      .toDF("k", "status", "price")
    val metrics = Versioned.writeWithExpectations(batch, root, "k",
      version = 1, nFiles = 1, expectations = Seq(
        "price_nonneg" -> (col("price") >= 0),
        "status_known" -> col("status").isin("O", "F")))
      .as[(String, Long)].collect().toMap
    assert(metrics == Map("price_nonneg" -> 1L, "status_known" -> 0L,
      "__committed" -> 1L), metrics.toString)
  }
}
