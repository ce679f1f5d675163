package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.rel.Relational

/** Versioned copy-on-write table layout — a miniature of the
  * Delta/Iceberg commit model on plain parquet (beyond-reference
  * source/sink surface; the lifecycle layer over
  * [[Relational.mergeUpsert]], whose doc names exactly this file-level
  * pruning as what table formats add to the merge join).
  *
  * Layout under `root`:
  * {{{
  *   files/<uuid>/part-*.parquet     immutable data files, never edited
  *   _graft_manifest/v=N/            parquet manifest: one row per data
  *                                   file (path, min_key, max_key, rows)
  * }}}
  *
  * A version IS its manifest — a list of immutable files plus per-file
  * key bounds. [[merge]] commits version N+1 by rewriting ONLY the data
  * files whose [min_key, max_key] range intersects the change batch's
  * keys; every other file entry is carried into the new manifest
  * verbatim (spec-gated). Old versions stay readable forever (time
  * travel) because no commit ever mutates or deletes a data file.
  *
  * Scale shape: the manifest is file-count-sized (KBs per million
  * files), so routing a change batch to affected files is a BROADCAST
  * range join — the 100-TB table itself is only scanned for the
  * affected fraction, and an update batch touching 0.1% of the key
  * space rewrites ~0.1% of the bytes. Per-file stats are collected in
  * ONE column-pruned pass grouped by `input_file_name()` at write time
  * (production table formats read the same min/max from parquet
  * footers; the numbers are identical). Snapshot reads list the
  * manifest, not the directory — no eventually-consistent listing, and
  * a reader never sees a half-committed version because the manifest
  * is written to a temp directory and RENAMED into `v=N` as the commit
  * point ([[commitManifest]]) — `hasVersion`/`latestVersion` key on
  * the directory name, which only exists post-rename.
  *
  * Scope note: this layer addresses local/HDFS-style filesystems where
  * directory rename is atomic (`java.io.File`); an object-store port
  * would swap the rename for a conditional PUT of a single manifest
  * object (the Delta commit-log pattern) — the manifest schema and
  * pruning logic are storage-agnostic.
  */
object Versioned {

  /** An optimistic commit (`overwrite = false`) lost the race: some
    * other writer committed this version first. The losing writer's
    * data files are orphaned — never referenced by any manifest, so
    * invisible to every reader — and [[vacuumOrphans]] reclaims them
    * (the Delta VACUUM contract; [[expire]] only reclaims files dead
    * manifests referenced). Recovery is the optimistic-concurrency
    * retry loop: re-read the now-latest snapshot, re-derive the change
    * batch against it, and commit onto the next version number.
    */
  final class ConcurrentCommitException(root: String, version: Int)
    extends RuntimeException(
      s"version $version already committed at $root: a concurrent " +
        "writer won the race; re-read the latest snapshot and retry " +
        "on top of it")

  private def manifestDir(root: String, version: Int): String =
    s"$root/_graft_manifest/v=$version"

  /** Memoized snapshot schema per (root, version) — [[readAsOfWhere]]
    * needs the SNAPSHOT's schema (not the surviving file subset's) on
    * every call, and computing it via [[readAsOf]].schema footer-reads
    * every data file of the snapshot: O(table file count) driver work
    * that would undercut the pruned point-lookup claim on
    * many-file tables. A committed version's file list is immutable,
    * so the memo is sound; the one mutation path (`overwrite = true`
    * re-commit of the same version) invalidates its entry in
    * [[commitManifest]].
    */
  private val snapSchemaCache = new scala.collection.concurrent
    .TrieMap[(String, Int), org.apache.spark.sql.types.StructType]
  graft.Fixtures.onReset(() => snapSchemaCache.clear())

  /** Memoized manifest CONTENT per (root, version) — round-15
    * optimization: every [[manifest]] call was a Spark parquet job
    * (footer read + task launch, 0.2-0.4 s each on the bench host),
    * and one versioned-table entry makes a dozen of them (readAsOf,
    * changeFeed, merge routing, pruning). A committed manifest is
    * immutable, so the rows are collected ONCE and served back as a
    * LocalRelation (collect on it is driver-local, zero jobs).
    *
    * Soundness: entries are validated on EVERY call against a cheap
    * freshness token — the manifest directory's mtime plus the
    * `_commit_ts` content (two java file stats, no Spark) — so the
    * two mutation paths (same-version overwrite re-commit, and an
    * externally swept + rebuilt fixture at the same path) can never be
    * served stale: both land a freshly renamed `v=N` directory with a
    * new mtime. [[commitManifest]]/[[expire]] also invalidate
    * explicitly, and [[graft.Fixtures]] reset clears the map
    * (belt and braces).
    */
  private val manifestCache = new scala.collection.concurrent.TrieMap[
    (String, Int),
    (String, Array[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType)]
  graft.Fixtures.onReset(() => manifestCache.clear())

  private def manifestToken(root: String, version: Int): String = {
    val d = new java.io.File(manifestDir(root, version))
    val ts = new java.io.File(d, "_commit_ts")
    val cts =
      if (ts.exists())
        try new String(java.nio.file.Files.readAllBytes(ts.toPath),
          "UTF-8").trim
        catch { case scala.util.control.NonFatal(_) => "?" }
      else "-"
    s"${d.lastModified()}:$cts"
  }

  /** Directory-listing count (test hook): every O(versions) listing
    * of `_graft_manifest` bumps it, so VersionedSpec can gate that a
    * warm [[latestVersion]]/[[oldestVersion]] opens the table with
    * ZERO listings — the `_last_checkpoint` property that keeps a
    * 100k-commit table's open cost O(1).
    */
  private[graft] val manifestListings =
    new java.util.concurrent.atomic.AtomicLong(0L)

  private def ptrFile(root: String, name: String): java.io.File =
    new java.io.File(s"$root/_graft_manifest/$name")

  private def readPtr(root: String, name: String): Option[Int] =
    try {
      val f = ptrFile(root, name)
      if (f.exists())
        Some(new String(java.nio.file.Files.readAllBytes(f.toPath),
          "UTF-8").trim.toInt)
      else None
      // NonFatal only: an OOM/interrupt here is a real failure, not a
      // stale-pointer case, and must not be masked as "no pointer"
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Best-effort atomic pointer write (temp + rename). The pointer is
    * a HINT, never ground truth: racing writers can land it slightly
    * stale (A commits v5, B commits v6, A's pointer write lands last),
    * and [[latestVersion]]'s probe-forward repairs exactly that — so
    * a lost or stale pointer costs probes, never correctness.
    */
  private def writePtr(root: String, name: String, v: Int): Unit =
    try {
      val dir = java.nio.file.Paths.get(s"$root/_graft_manifest")
      val tmp = java.nio.file.Files.createTempFile(dir, s"_ptr$name", "")
      java.nio.file.Files.write(tmp, (v.toString + "\n").getBytes("UTF-8"))
      java.nio.file.Files.move(tmp, ptrFile(root, name).toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    } catch { case scala.util.control.NonFatal(_) => () }

  /** Atomic manifest commit: write the manifest parquet into a temp
    * directory, then RENAME it to `v=N`. The version directory —
    * which [[hasVersion]]/[[latestVersion]] key on — appears only
    * after every byte of the manifest is on disk, so a concurrent
    * reader can never observe a half-written manifest (directory
    * rename is atomic on local/HDFS-style filesystems).
    *
    * The rename doubles as the MULTI-WRITER conflict detector: with
    * `overwrite = false`, rename(2) into an existing non-empty `v=N`
    * fails atomically — no check-then-act window — and surfaces as
    * [[ConcurrentCommitException]], the put-if-absent that table
    * formats build on a conditional PUT. `overwrite = true` keeps
    * replace semantics for single-writer re-runs (the st05/st13
    * idempotent-retry scheme overwrites its own failed commit); its
    * replace is rename-aside + rename-in (never delete-then-rename),
    * so a reader never sees a HALF-WRITTEN v=N — but between the
    * rename-aside and the rename-in the v=N directory briefly does
    * not exist, so a reader racing an overwrite can observe
    * `hasVersion = false` / a regressed `latestVersion` for that
    * instant. That is the actual guarantee: overwrite is for SINGLE-
    * WRITER re-runs of a failed commit (where no committed reader of
    * v=N exists yet); concurrent multi-writer replace would need a
    * pointer-swap commit this miniature deliberately omits.
    *
    * Each commit also carries its wall-clock timestamp in a
    * `_commit_ts` file INSIDE the manifest directory — written before
    * the rename, so it is atomic with the commit and enables
    * [[readAsOfTimestamp]] resolution with no extra commit step.
    */
  private def commitManifest(stats: DataFrame, root: String,
                             version: Int,
                             overwrite: Boolean = true,
                             tsMs: Option[Long] = None,
                             txn: Option[(String, Long)] = None): Unit = {
    val tmp = s"$root/_graft_manifest/_tmp_v${version}_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    stats.coalesce(1).write.mode("overwrite").parquet(tmp)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(tmp, "_commit_ts"),
      (tsMs.getOrElse(System.currentTimeMillis()).toString + "\n")
        .getBytes("UTF-8"))
    // transaction tag (the Delta txnAppId/txnVersion shape): written
    // INSIDE the manifest dir before the rename, so it is atomic with
    // the commit — [[lastTxnVersion]] makes streaming-writer restarts
    // idempotent by SKIP (put-if-absent + already-committed check),
    // never by history-rewriting overwrite
    txn.foreach { case (app, tv) =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(tmp, "_txn"),
        s"$tv\n$app\n".getBytes("UTF-8"))
    }
    // EXPIRY-FLOOR GUARD (round 15, caught live by
    // RetentionRaceFuzzSpec once the metadata path got fast): the
    // put-if-absent rename arbitrates concurrent committers of the
    // SAME version — but [[expire]] DELETES old version dirs, which
    // RECYCLES their numbers. A slow writer whose attempt out-lived
    // the retention horizon (attempt started at parent=3, maintenance
    // minted v4..v10 and expire freed v4 meanwhile) then renames onto
    // the freed name and "wins" a version BELOW the tip: no conflict
    // surfaces, commitOnce never retries, and the batch's content is
    // invisible to every tip reader — silent loss. Expire now
    // publishes the survivor floor (`_first`) BEFORE delisting
    // anything, so the ordering is: floor write -> name freed -> (this
    // writer's rename can succeed). Rejecting `version < floor` both
    // before the rename (cheap fast-path) and AFTER a successful
    // rename (decisive: a name that was free implies the floor above
    // it was already published) converts the resurrection into the
    // ConcurrentCommitException the caller's retry loop already
    // handles. Also closes the parent=0 bootstrap hazard (a transient
    // latestVersion failure resurrecting v=1 on an expired table).
    def expiryFloor(): Option[Int] = readPtr(root, "_first")
    if (!overwrite && expiryFloor().exists(version < _)) {
      val t0 = new java.io.File(tmp)
      Option(t0.listFiles()).getOrElse(Array.empty).foreach(_.delete())
      t0.delete()
      throw new ConcurrentCommitException(root, version)
    }
    val target = new java.io.File(manifestDir(root, version))
    var aside: Option[java.io.File] = None
    if (target.exists()) {
      if (!overwrite)
        throw new ConcurrentCommitException(root, version)
      val a = new java.io.File(s"$root/_graft_manifest/_old_v${version}_" +
        java.util.UUID.randomUUID().toString.replace("-", ""))
      if (target.renameTo(a)) aside = Some(a)
      // a failed rename-aside (concurrent overwrite of the same
      // version — outside the contract) falls through and lets the
      // rename below fail loudly
    }
    if (!new java.io.File(tmp).renameTo(target)) {
      // two optimistic writers can both pass the exists() probe; the
      // kernel serializes the renames, so the loser lands here.
      // Clean the loser's tmp dir up front (round 15): every lost race
      // used to LEAK a `_tmp_v*` manifest dir, and a starved retry loop
      // accumulated thousands of them — bloating every directory
      // listing (latestVersion fallback, vacuum) in the same loop that
      // was already losing races.
      val t = new java.io.File(tmp)
      Option(t.listFiles()).getOrElse(Array.empty).foreach(_.delete())
      t.delete()
      aside.foreach(_.renameTo(target)) // restore the old manifest
      if (!overwrite && target.exists())
        throw new ConcurrentCommitException(root, version)
      sys.error(s"manifest commit failed: rename $tmp -> $target")
    }
    aside.foreach { a =>
      Option(a.listFiles()).getOrElse(Array.empty).foreach(_.delete())
      a.delete()
    }
    // post-rename expiry-floor validation (see the guard above): our
    // rename succeeded, so if retention freed this version's name, the
    // floor above it was already on disk BEFORE the free — undo and
    // surface the conflict instead of leaving a resurrected below-tip
    // version in the history.
    if (!overwrite && expiryFloor().exists(version < _)) {
      Option(target.listFiles()).getOrElse(Array.empty).foreach(_.delete())
      target.delete()
      snapSchemaCache.remove((root, version))
      manifestCache.remove((root, version))
      throw new ConcurrentCommitException(root, version)
    }
    snapSchemaCache.remove((root, version))
    manifestCache.remove((root, version))
    // version pointers: monotonic hints that make table open O(1)
    if (readPtr(root, "_last").forall(_ < version))
      writePtr(root, "_last", version)
    if (readPtr(root, "_first").forall(_ > version))
      writePtr(root, "_first", version)
  }

  /** Fixture/test hook: pin `version`'s commit timestamp (millis) so
    * [[readAsOfTimestamp]] resolution is deterministic in oracles.
    * Production commits stamp wall-clock time automatically.
    */
  def setCommitTimestamp(root: String, version: Int, tsMs: Long): Unit =
    java.nio.file.Files.write(
      java.nio.file.Paths.get(manifestDir(root, version), "_commit_ts"),
      (tsMs.toString + "\n").getBytes("UTF-8"))

  /** Commit wall-clock timestamp of `version` (millis). Pre-feature
    * manifests (no `_commit_ts` file) fall back to directory mtime —
    * same semantics, weaker durability across copies.
    */
  def commitTimestamp(root: String, version: Int): Long = {
    val f = new java.io.File(manifestDir(root, version), "_commit_ts")
    if (f.exists())
      new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        .trim.toLong
    else new java.io.File(manifestDir(root, version)).lastModified()
  }

  /** A read asked for a version whose manifest no longer (or never)
    * exists — typically a reader pinned to V racing an [[expire]]
    * that dropped V. Typed so a retry loop can distinguish "snapshot
    * expired mid-read, re-pin to a surviving version" from real I/O
    * failure.
    */
  final class NoSuchVersionException(root: String, version: Int)
    extends RuntimeException(
      s"version $version does not exist at $root (never committed, " +
        "or expired); re-pin to a surviving version")

  /** One row per file of `version`: (path, min_key, max_key, rows,
    * kind) with kind = 'data' | 'delete'. Manifests written before the
    * merge-on-read feature lack `kind`; it defaults to 'data' so old
    * snapshots stay readable (manifest-schema evolution).
    */
  def manifest(s: SparkSession, root: String, version: Int): DataFrame = {
    if (!hasVersion(root, version))
      throw new NoSuchVersionException(root, version)
    val token = manifestToken(root, version)
    val (_, rows, schema) = manifestCache.get((root, version))
      .filter(_._1 == token)
      .getOrElse {
        val m0 = s.read.parquet(manifestDir(root, version))
        val m = if (m0.columns.contains("kind")) m0
          else m0.withColumn("kind", lit("data"))
        val entry = (token, m.collect(), m.schema)
        manifestCache.put((root, version), entry)
        entry
      }
    import scala.jdk.CollectionConverters._
    s.createDataFrame(rows.toSeq.asJava, schema)
  }

  def hasVersion(root: String, version: Int): Boolean =
    new java.io.File(manifestDir(root, version)).exists()

  /** The O(versions) listing fallback — counted via
    * [[manifestListings]] so the spec can prove the pointer path
    * avoids it.
    */
  private def listVersions(root: String): Array[Int] = {
    manifestListings.incrementAndGet()
    val manRoot = new java.io.File(s"$root/_graft_manifest")
    Option(manRoot.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("v="))
      .map(_.getName.stripPrefix("v=").toInt)
  }

  /** Highest committed version under `root` — O(1) on the pointer
    * path: read the `_last` hint, then probe FORWARD until the first
    * missing version (commits are dense, so the probe is the
    * staleness gap, usually zero). A racing writer can leave the
    * pointer one behind; the probe repairs it, so the hint is never
    * load-bearing for correctness. Tables without a pointer (pre-
    * feature, or the pointer write failed) fall back to the
    * O(versions) directory listing — the exact cost Delta's
    * `_last_checkpoint` exists to avoid at 100k commits.
    */
  def latestVersion(root: String): Int =
    readPtr(root, "_last") match {
      case Some(p) if hasVersion(root, p) =>
        var v = p
        while (hasVersion(root, v + 1)) v += 1
        v
      case _ =>
        listVersions(root).maxOption
          .getOrElse(sys.error(s"no versions at $root"))
    }

  /** Lowest committed version under `root` — after [[expire]] this is
    * the oldest surviving snapshot, i.e. the change-feed base (its own
    * predecessor diff is gone with the expired manifests). Same
    * pointer scheme as [[latestVersion]] (`_first`, maintained by
    * commits and by [[expire]]); a stale hint — a crash between
    * expire's deletes and its pointer update — probes forward to the
    * first surviving version and self-repairs the pointer.
    */
  def oldestVersion(root: String): Int =
    readPtr(root, "_first") match {
      case Some(p) if hasVersion(root, p) => p
      case Some(p) =>
        val last = latestVersion(root)
        var v = p
        while (v < last && !hasVersion(root, v)) v += 1
        if (hasVersion(root, v)) { writePtr(root, "_first", v); v }
        else listVersions(root).minOption
          .getOrElse(sys.error(s"no versions at $root"))
      case _ =>
        listVersions(root).minOption
          .getOrElse(sys.error(s"no versions at $root"))
    }

  /** Resolve a wall-clock timestamp to the version a reader pinned at
    * that instant would see: the LATEST version whose commit
    * timestamp is <= `tsMs` (the Delta `timestampAsOf` contract).
    * Errors when `tsMs` predates the oldest surviving commit — after
    * [[expire]] that history is gone and silently serving the oldest
    * snapshot would misattribute it.
    */
  def versionAtTimestamp(root: String, tsMs: Long): Int = {
    val lo = oldestVersion(root)
    val hi = latestVersion(root)
    val cands = (lo to hi).filter(v =>
      hasVersion(root, v) && commitTimestamp(root, v) <= tsMs)
    require(cands.nonEmpty,
      s"no commit at or before ts=$tsMs at $root (oldest surviving " +
        s"version $lo committed at ${commitTimestamp(root, lo)}; " +
        "earlier history may have been expired)")
    cands.max
  }

  /** Snapshot read as of a wall-clock timestamp —
    * [[versionAtTimestamp]] + [[readAsOf]]. */
  def readAsOfTimestamp(s: SparkSession, root: String,
                        tsMs: Long): DataFrame =
    readAsOf(s, root, versionAtTimestamp(root, tsMs))

  /** Per-file (path, min_key, max_key, rows) for freshly written
    * files — one column-pruned scan grouped by file.
    */
  private def fileStats(s: SparkSession, paths: Seq[String],
                        keyCol: String): DataFrame =
    s.read.parquet(paths: _*)
      .select(col(keyCol).cast("long").as("__k"),
        input_file_name().as("path"))
      .groupBy("path")
      .agg(min("__k").as("min_key"), max("__k").as("max_key"),
        count(lit(1)).as("rows"))

  private def listParquet(dir: String): Seq[String] = {
    val d = new java.io.File(dir)
    Option(d.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("part-")
        && f.getName.endsWith(".parquet"))
      .map(_.getAbsolutePath).toSeq.sorted
  }

  /** Write a new immutable file group; returns its stats rows tagged
    * with `kind` ('data' for row files, 'delete' for tombstone key
    * files — same layout, same per-file key stats, so range pruning
    * applies to both).
    */
  private def writeFileGroup(df: DataFrame, root: String, keyCol: String,
                             nFiles: Int,
                             kind: String = "data"): DataFrame = {
    val dir = s"$root/files/" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    df.repartitionByRange(math.max(1, nFiles), col(keyCol))
      .write.mode("overwrite").parquet(dir)
    fileStats(df.sparkSession, listParquet(dir), keyCol)
      .withColumn("kind", lit(kind))
  }

  /** Commit `df` as `version` (a full snapshot — the initial load). */
  def write(df: DataFrame, root: String, keyCol: String, version: Int,
            nFiles: Int, overwrite: Boolean = true,
            txn: Option[(String, Long)] = None): Unit = {
    val stats = writeFileGroup(df, root, keyCol, nFiles)
    commitManifest(stats, root, version, overwrite, txn = txn)
  }

  /** Highest writer-transaction version `appId` has committed to this
    * table, or None — the read half of the Delta txnAppId/txnVersion
    * idempotence contract: a restarted streaming writer asks "did my
    * batch N already commit?" and SKIPS the commit if so, instead of
    * overwriting history (an overwrite rewrites a snapshot a
    * concurrent OCC committer may already have read — the
    * drain × maintenance content-loss race DrainMaintRaceFuzzSpec
    * caught on its first run). Scans manifests newest-first and
    * returns at the first tag owned by `appId` (a writer's txn
    * versions are monotone in commit order, so the newest tag IS the
    * max); cost is O(commits since the app's last commit) tiny-file
    * reads, zero data scanned.
    *
    * Retention (round-14-continuation fix): [[expire]] drops old
    * manifests and their tags, and a burst of UNTAGGED maintenance
    * commits (compaction mints latest+1 with no txn) can bury a
    * writer's newest tag under any count-based retention while the
    * writer is down — the restarted writer would then find no
    * evidence and RE-DELIVER its committed batch through
    * [[commitOnce]] (the ingest drain happens to survive because its
    * commit is a merge-by-key upsert — content-idempotent — but the
    * exactly-once CONTRACT is the API's, not the caller's, and an
    * append-style attempt would duplicate content; proven by
    * RetentionRaceFuzzSpec's pre-fix unit test). The fix is Delta's
    * checkpoint shape in miniature: expire rolls the max expired
    * txnVersion per app into a `_graft_manifest/_txns` sidecar
    * BEFORE delisting, and this scan falls back to the sidecar when
    * no live manifest carries the app's tag. A live tag always wins:
    * an app's txn versions are monotone in commit order, so any live
    * tag is >= every rolled-forward dead one.
    */
  def lastTxnVersion(root: String, appId: String): Option[Long] = {
    val latest =
      try latestVersion(root) catch {
        case _: Throwable => return sidecarTxnVersion(root, appId)
      }
    val first = try oldestVersion(root) catch { case _: Throwable => 1 }
    var v = latest
    while (v >= first) {
      val f = new java.io.File(manifestDir(root, v), "_txn")
      if (f.exists()) {
        val lines = new String(
          java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
          .split("\n", 2)
        if (lines.length == 2 && lines(1).trim == appId)
          return Some(lines(0).trim.toLong)
      }
      v -= 1
    }
    sidecarTxnVersion(root, appId)
  }

  /** The retention sidecar: one tiny file per app under
    * `_graft_manifest/_txns/` holding the max txnVersion whose
    * manifest tag has been EXPIRED (content `"<tv>\n<appId>\n"`,
    * filename = md5 of the appId — appIds are caller strings, not
    * filesystem-safe). Never read when a live manifest still carries
    * the app's tag (monotonicity makes the live tag >= it).
    */
  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  private def txnSidecarFile(root: String, appId: String): java.io.File =
    new java.io.File(s"$root/_graft_manifest/_txns/${md5Hex(appId)}")

  /** Writer-intent advisory files — the LIVENESS half of the commit
    * protocol (round 15). [[commitOnce]]'s retry loop is unbounded by
    * design (safety never depends on winning a race), but an
    * aggressive maintenance daemon can STARVE it: a compaction loop
    * that mints a version faster than the writer's attempt completes
    * makes every put-if-absent rename lose, forever — observed live
    * when round-15's manifest memoization made the maintenance ops
    * ~5x faster and RetentionRaceFuzzSpec's drain retried for 80+
    * minutes without landing a batch (16k maintenance commits, zero
    * writer commits). Production table services solve this by having
    * DISCRETIONARY maintenance defer to active writers (Delta/Iceberg
    * compaction retries/aborts on writer conflict, never the other
    * way round); this is that policy in miniature.
    *
    * A writer that LOSES an OCC race signals intent (one tiny file
    * under `_graft_manifest/_intent/`, mtime-refreshed per retry,
    * removed when its commit lands); maintenance ops invoked with
    * `yieldToWriters = true` skip their cycle while any intent is
    * fresh ([[IntentFreshMs]]). The freshness window bounds the damage
    * of a crashed writer's stale intent; safety is untouched — intents
    * gate nothing on the commit path itself, and a maintenance op that
    * ignores them (the default) is merely back in the starvation-risk
    * regime.
    */
  private[graft] val IntentFreshMs: Long = 30000L

  private def intentDir(root: String): java.io.File =
    new java.io.File(s"$root/_graft_manifest/_intent")

  private def signalWriterIntent(root: String, appId: String): Unit =
    try {
      val d = intentDir(root)
      d.mkdirs()
      java.nio.file.Files.write(
        new java.io.File(d, md5Hex(appId)).toPath,
        s"$appId\n".getBytes("UTF-8"))
    } catch { case scala.util.control.NonFatal(_) => () }

  private def clearWriterIntent(root: String, appId: String): Unit =
    try { new java.io.File(intentDir(root), md5Hex(appId)).delete(); () }
    catch { case scala.util.control.NonFatal(_) => () }

  /** Any writer-intent fresher than [[IntentFreshMs]]? */
  def writerIntentActive(root: String): Boolean = {
    val now = System.currentTimeMillis()
    Option(intentDir(root).listFiles()).getOrElse(Array.empty)
      .exists(f => now - f.lastModified() <= IntentFreshMs)
  }

  private def sidecarTxnVersion(root: String,
                                appId: String): Option[Long] = {
    val f = txnSidecarFile(root, appId)
    if (!f.exists()) return None
    val lines = new String(
      java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      .split("\n", 2)
    if (lines.length == 2 && lines(1).trim == appId)
      Some(lines(0).trim.toLong)
    else None // md5 collision with a different app: treat as absent
  }

  /** Write-if-greater with verify-retry: two concurrent expires can
    * compute DIFFERENT maxima for the same app (their dead sets
    * differ when retention settings or racing commits differ), and a
    * plain last-writer-wins rename could let the smaller overwrite
    * the greater — losing idempotence evidence. Re-reading after the
    * atomic rename and retrying (bounded) makes the final state the
    * max of all writers.
    */
  private def rollTxnForward(root: String, appId: String,
                             tv: Long): Unit = {
    val f = txnSidecarFile(root, appId)
    f.getParentFile.mkdirs()
    var attempts = 0
    while (attempts < 5 &&
        !sidecarTxnVersion(root, appId).exists(_ >= tv)) {
      attempts += 1
      val tmp = new java.io.File(f.getParentFile,
        s".${f.getName}.tmp${java.util.UUID.randomUUID()}")
      java.nio.file.Files.write(tmp.toPath,
        s"$tv\n$appId\n".getBytes("UTF-8"))
      java.nio.file.Files.move(tmp.toPath, f.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
  }

  /** Exactly-once writer-transaction commit: runs `attempt(parent)`
    * (which must commit at `parent + 1` with `overwrite = false` and
    * the (`appId`, `txnVersion`) tag) unless `txnVersion` is already
    * committed, retrying lost OCC races against a re-read parent.
    * Returns true iff THIS call committed.
    *
    * The subtle clause is the RE-CHECK inside the retry: the writer
    * that beat us to `parent + 1` may have been our own TWIN — a
    * zombie incarnation of the same streaming query committing the
    * SAME batch (Spark drivers are not fenced; the restarted query
    * and its not-yet-dead predecessor can overlap, which is the
    * entire reason the txnAppId/txnVersion pattern exists). A retry
    * that only re-reads `parent` would then re-commit the batch the
    * twin just committed — duplicate delivery through the exactness
    * machinery itself. Checking [[lastTxnVersion]] again after every
    * lost race closes that window: either the txn tag is now visible
    * (the loss WAS our twin — skip, exactly-once holds) or it is not
    * (an unrelated writer — retry on the new parent). Cost per lost
    * race is O(commits since our last tag) tiny-file reads, zero data.
    */
  def commitOnce(root: String, appId: String, txnVersion: Long)
                (attempt: Int => Unit): Boolean = {
    def committed: Boolean =
      lastTxnVersion(root, appId).exists(_ >= txnVersion)
    if (committed) return false
    // liveness under discretionary maintenance: after the FIRST lost
    // race this writer signals intent (refreshed per retry), which
    // yield-aware maintenance ops honor by skipping their cycle — see
    // the writer-intent scaladoc. Cleared on every exit path.
    var signaled = false
    try {
      while (true) {
        val parent =
          try latestVersion(root) catch { case _: Throwable => 0 }
        try { attempt(parent); return true }
        catch {
          case _: ConcurrentCommitException =>
            if (committed) return false
            signalWriterIntent(root, appId); signaled = true
          case _: Throwable if parent > 0 &&
              !new java.io.File(manifestDir(root, parent)).exists() =>
            // the parent was EXPIRED beneath the in-flight attempt —
            // count-based retention racing a live writer deletes the
            // manifest (and often the data files) the attempt is
            // mid-read on, surfacing as FAILED_READ_FILE from deep in
            // the scan (caught by RetentionRaceFuzzSpec's first seeded
            // run). The attempt's partial output is an orphan group
            // vacuum reclaims, exactly like a lost OCC race; re-check
            // the txn (a twin may have landed) and retry on a fresh
            // parent. A failure whose parent manifest is STILL PRESENT
            // is genuine corruption and propagates below.
            if (committed) return false
            signalWriterIntent(root, appId); signaled = true
          // any other failure propagates: the caller's crash-resume
          // re-enters through the same already-committed check
        }
      }
      false // unreachable
    } finally if (signaled) clearWriterIntent(root, appId)
  }

  /** (data paths, tombstone paths) of `version`. */
  private def pathsByKind(s: SparkSession, root: String,
                          version: Int): (Seq[String], Seq[String]) = {
    val rows = manifest(s, root, version)
      .select("path", "kind").collect()
    (rows.filter(_.getString(1) == "data").map(_.getString(0)).toSeq,
      rows.filter(_.getString(1) == "delete").map(_.getString(0)).toSeq)
  }

  /** (data-file path, version that FIRST committed it) for every data
    * file across `root`'s live version range — the one-pass commit-
    * attribution backfill's map. One manifest read per version (the
    * previous version's path set threads through the fold), so the
    * driver work is O(total manifest rows), never O(versions) table
    * scans.
    */
  private[graft] def dataPathsFirstCommitted(
      s: SparkSession, root: String): Seq[(String, Int)] = {
    var prevSet = Set.empty[String]
    (oldestVersion(root) to latestVersion(root)).flatMap { v =>
      val cur = pathsByKind(s, root, v)._1
      val added = cur.filterNot(prevSet)
      prevSet = cur.toSet
      added.map(p => (p, v))
    }
  }

  /** Merge-on-read: anti-join the data stream against the tombstone
    * key files. The delete side is key-column-only (8 bytes per
    * deleted row) and in practice tiny relative to the table, so AQE
    * broadcasts it; false sharing is impossible because tombstones
    * store the key under its original column name.
    */
  private def applyTombstones(s: SparkSession, data: DataFrame,
                              delPaths: Seq[String]): DataFrame =
    if (delPaths.isEmpty) data
    else {
      val del = s.read.parquet(delPaths: _*)
      val k = del.columns.head
      data.join(del.select(k).distinct(), Seq(k), "left_anti")
    }

  /** Snapshot read of `version`: exactly its manifest's data files,
    * minus its tombstones (merge-on-read). `mergeSchema` because a
    * snapshot may mix pre- and post-evolution files — an add-column
    * commit rewrites only the files it touches, and old files read
    * with nulls in the new column (the q35 mergeSchema semantics
    * through the versioned path).
    */
  def readAsOf(s: SparkSession, root: String, version: Int): DataFrame = {
    val (dataPaths, delPaths) = pathsByKind(s, root, version)
    // the snapshot's merged schema is memoized per (root, version) and
    // SUPPLIED to the read: with an explicit schema the parquet source
    // skips its schema-inference job entirely (one footer-merge pass
    // per readAsOf call on the bench host, 0.1-0.3 s each), and files
    // predating an add-column evolution still read the missing column
    // as typed nulls — the same semantics mergeSchema produced, now
    // paid once per snapshot instead of once per read (round-15; the
    // readAsOfWhere memo at [[snapSchemaCache]] had the same insight
    // for point lookups)
    // the snapshot's merged schema is memoized per (root, version) and
    // SUPPLIED to the read: with an explicit schema the parquet source
    // skips its schema-inference job entirely (one footer-merge pass
    // per readAsOf call on the bench host, 0.1-0.3 s each), and files
    // predating an add-column evolution still read the missing column
    // as typed nulls — the same semantics mergeSchema produced, now
    // paid once per snapshot instead of once per read (round-15; the
    // readAsOfWhere memo at [[snapSchemaCache]] had the same insight
    // for point lookups)
    val snapSchema = snapSchemaCache.getOrElseUpdate((root, version),
      s.read.option("mergeSchema", "true").parquet(dataPaths: _*).schema)
    applyTombstones(s,
      s.read.schema(snapSchema).parquet(dataPaths: _*),
      delPaths)
  }

  /** Paths of `version`'s files of `kind` whose [min_key, max_key]
    * range intersects [lo, hi] — manifest-level data skipping, the
    * key-range analog of partition pruning. File-count-sized driver
    * work; the pruned files are never listed, opened, or footer-read.
    */
  private[graft] def prunedPaths(s: SparkSession, root: String,
                                 version: Int, lo: Long, hi: Long,
                                 kind: String = "data"): Seq[String] =
    manifest(s, root, version)
      .filter(col("kind") === kind
        && col("max_key") >= lo && col("min_key") <= hi)
      .select("path").collect().map(_.getString(0)).toSeq

  /** Snapshot read restricted to key range [lo, hi]: the manifest
    * prunes whole files BEFORE the scan plan exists, then the residual
    * predicate (still pushed to the parquet reader) finishes the job —
    * at 100 TB a point-ish lookup touches one file group, not the
    * table. Tombstone files prune by the SAME per-file key stats (a
    * delete outside the range cannot affect a row inside it). Returns
    * an empty (schema-correct) frame when every file prunes.
    */
  def readAsOfWhere(s: SparkSession, root: String, version: Int,
                    keyCol: String, lo: Long, hi: Long): DataFrame = {
    val paths = prunedPaths(s, root, version, lo, hi)
    // the result schema must be the SNAPSHOT's schema, not whatever the
    // surviving file subset happens to carry: under add-column
    // evolution a range whose files all predate the column (or a
    // fully-pruned range) would otherwise drop it, making the schema
    // depend on the query range. Footer-merged ONCE per (root,
    // version) and memoized ([[snapSchemaCache]]) — repeated point
    // lookups pay zero footer reads; production formats persist the
    // table schema in commit metadata for the same reason.
    val snapSchema = snapSchemaCache.getOrElseUpdate((root, version),
      readAsOf(s, root, version).schema)
    val all =
      if (paths.nonEmpty) {
        val read = s.read.option("mergeSchema", "true").parquet(paths: _*)
        val cols = snapSchema.map(f =>
          if (read.columns.contains(f.name)) col(f.name)
          else lit(null).cast(f.dataType).as(f.name))
        read.select(cols.toSeq: _*)
      } else readAsOf(s, root, version).filter(lit(false))
    val live = applyTombstones(s, all,
      prunedPaths(s, root, version, lo, hi, kind = "delete"))
    live.filter(col(keyCol).cast("long") >= lo
      && col(keyCol).cast("long") <= hi)
  }

  /** Commit `toVersion` = `fromVersion` minus `deleteKeys` — a
    * MERGE-ON-READ delete: no data file is opened, read, or rewritten.
    * The commit writes one key-column-only tombstone file group plus a
    * manifest; readers ([[readAsOf]]/[[readAsOfWhere]]) subtract
    * tombstones at scan time. Delete commits stack (v3 can tombstone
    * more keys on top of v2's); [[compact]] folds them back into pure
    * data files.
    *
    * This is the write-cheap half of the COW/MOR trade: a COW delete
    * of 0.1% of keys spread across many files rewrites all of them;
    * the MOR commit writes ~8 bytes per deleted key, full stop — the
    * Iceberg v2 equality-delete shape. The read-side cost (an
    * anti-join against the tombstone set) is what [[compact]] is for.
    */
  def deleteMor(s: SparkSession, root: String, keyCol: String,
                deleteKeys: DataFrame, fromVersion: Int,
                toVersion: Int, overwrite: Boolean = true): Unit = {
    val carried = manifest(s, root, fromVersion)
    val tombStats = writeFileGroup(
      deleteKeys.select(col(keyCol)).distinct(), root, keyCol,
      nFiles = 1, kind = "delete")
    commitManifest(carried.unionByName(tombStats), root, toVersion,
      overwrite)
  }

  /** Commit `toVersion` = `fromVersion` with every tombstone folded
    * in: data files whose key range intersects a tombstone's range are
    * rewritten minus the deleted keys; every other data file entry
    * carries over verbatim; no tombstone entries remain. The
    * maintenance half of merge-on-read — runs with file-level pruning,
    * so compaction cost scales with the AFFECTED fraction of the
    * table, not its size.
    */
  def compact(s: SparkSession, root: String, keyCol: String,
              fromVersion: Int, toVersion: Int,
              overwrite: Boolean = true,
              crashAt: Option[String] = None,
              yieldToWriters: Boolean = false): Unit = {
    // discretionary-maintenance mode (see the writer-intent scaladoc):
    // skip the cycle while a conflicted writer's intent is fresh. A
    // yielding caller must tolerate `toVersion` not existing; direct
    // callers (entries, restore fixtures) keep the default and always
    // mint.
    if (yieldToWriters && writerIntentActive(root)) return
    def maybeCrash(point: String): Unit =
      if (crashAt.contains(point))
        throw new RuntimeException(s"injected crash at $point in compact")
    val man = manifest(s, root, fromVersion).cache()
    try {
      val (_, delPaths) = pathsByKind(s, root, fromVersion)
      if (delPaths.isEmpty) {
        commitManifest(man.filter(col("kind") === "data"), root,
          toVersion, overwrite)
        return
      }
      val tombs = s.read.parquet(delPaths: _*)
      val k = tombs.columns.head
      val keys = tombs.select(col(k).cast("long").as("__dk")).distinct()
      // file-count-sized broadcast join: which data files hold a deleted
      // key (by range — a superset of the truly-affected set, which is
      // exactly the COW rewrite granularity)
      val affected = keys.join(
          broadcast(man.filter(col("kind") === "data")),
          col("__dk") >= col("min_key") && col("__dk") <= col("max_key"))
        .select("path").distinct().collect().map(_.getString(0)).toSet
      val untouched = man.filter(col("kind") === "data"
        && !col("path").isin(affected.toSeq: _*))
      val newStats =
        if (affected.isEmpty)
          man.filter(lit(false)).select("path", "min_key", "max_key",
            "rows", "kind")
        else {
          val rewritten = applyTombstones(s,
            s.read.option("mergeSchema", "true")
              .parquet(affected.toSeq: _*), delPaths)
          writeFileGroup(rewritten, root, keyCol,
            math.max(1, affected.size))
        }
      // the rewrite group is on disk but unreferenced until the rename
      // below — a crash here orphans it (vacuumOrphans debris), never
      // half-commits (VersionedCrashFuzzSpec kills this point)
      maybeCrash("pre_commit")
      commitManifest(untouched.unionByName(newStats), root, toVersion,
        overwrite)
    } finally man.unpersist(blocking = false)
  }

  /** Expire old snapshots: drop every manifest older than the newest
    * `keepVersions`, then delete data files no surviving manifest
    * references (never a file a live version can still read). Returns
    * the deleted data-file count. Driver work is manifest-sized.
    */
  /** Commit with DATA-QUALITY EXPECTATIONS (the Delta Live Tables
    * `expect_or_drop` shape on the commit path): each expectation is a
    * named boolean Column; rows satisfying ALL of them are committed
    * as `version`, violators land in a version-keyed QUARANTINE side
    * table (`_quarantine/v=N`, one row per violated constraint so a
    * row failing two gates is attributed to both), and the returned
    * metrics frame records per-constraint violation counts plus the
    * committed row count — the audit record a pipeline run logs.
    * NULL satisfies a constraint (SQL CHECK semantics: only an
    * explicit FALSE violates).
    *
    * Scale shape: ONE pass over the batch computes the violation
    * vector as a narrow array projection; the valid/quarantine split
    * is two filters off it (Spark re-reads the batch per sink, as any
    * multi-output write does); metrics are constraint-count-sized.
    */
  def writeWithExpectations(df: DataFrame, root: String, keyCol: String,
      version: Int, nFiles: Int,
      expectations: Seq[(String, org.apache.spark.sql.Column)],
      crashAt: Option[String] = None)
      : DataFrame = {
    require(expectations.nonEmpty, "need at least one expectation")
    def maybeCrash(point: String): Unit =
      if (crashAt.contains(point))
        throw new RuntimeException(
          s"injected crash at $point in writeWithExpectations")
    val fails = array(expectations.map { case (n, c) =>
      when(coalesce(c, lit(true)) === false, lit(n))
    }: _*)
    val flagged = df.withColumn("__fails",
      filter(fails, x => x.isNotNull))
    val valid = flagged.filter(size(col("__fails")) === 0)
      .drop("__fails")
    // QUARANTINE BEFORE COMMIT (round-14 fix, caught by
    // VersionedCrashFuzzSpec's first run): the original order
    // committed the version first, so a crash before the quarantine
    // write left a COMMITTED version whose violators were recorded
    // nowhere — dropped from the table by design, silently missing
    // from the audit trail. Writing quarantine first makes the crash
    // states safe in both directions: quarantine-without-version is
    // overwritten idempotently by the re-run (the version number keys
    // the cell), and a committed version now implies its audit record
    // exists.
    val quarantined = flagged.filter(size(col("__fails")) > 0)
      .withColumn("__constraint", explode(col("__fails")))
      .drop("__fails")
    quarantined.write.mode("overwrite")
      .parquet(s"$root/_quarantine/v=$version")
    maybeCrash("between_writes")
    write(valid, root, keyCol, version, nFiles)
    val s = df.sparkSession
    import s.implicits._
    // every DECLARED constraint appears in the metrics, violation-free
    // ones with an explicit 0 — a caller must be able to distinguish
    // "all rows passed" from "constraint not evaluated" (a grouped
    // count over quarantine rows alone silently drops clean ones)
    val declared = expectations.map(_._1).toDF("expectation")
    val qCounts = s.read.parquet(s"$root/_quarantine/v=$version")
      .groupBy("__constraint").agg(count(lit(1)).as("n_rows"))
      .select(col("__constraint").as("expectation"), col("n_rows"))
    val perConstraint = declared.join(qCounts, Seq("expectation"), "left")
      .select(col("expectation"),
        coalesce(col("n_rows"), lit(0L)).as("n_rows"))
    val committed = readAsOf(s, root, version)
      .agg(count(lit(1)).as("n_rows"))
      .select(lit("__committed").as("expectation"), col("n_rows"))
    perConstraint.unionByName(committed)
  }

  /** Quarantined rows of `version` (with the `__constraint` column). */
  def quarantine(s: SparkSession, root: String, version: Int): DataFrame =
    s.read.parquet(s"$root/_quarantine/v=$version")

  /** Delta-style RESTORE: roll the table back to `toVersion`'s content
    * by committing a NEW version whose manifest is the target
    * snapshot's manifest verbatim — metadata-only (zero data files
    * move or rewrite; the commit is one manifest write whatever the
    * table size). History is PRESERVED: the rolled-back versions stay
    * readable for audit/time-travel, and the restore itself appears in
    * the change feed as the diff back to the old content. Safe under
    * retention maintenance by construction: `expire` keeps every file
    * a SURVIVING manifest references, and the restored manifest
    * re-references the old file group — so vacuuming the bad history
    * cannot strand the restored snapshot (the Delta RESTORE +
    * VACUUM contract). Commits with `overwrite = false`, so a racing
    * writer surfaces as the usual [[ConcurrentCommitException]].
    * Returns the new version number.
    */
  def restore(s: SparkSession, root: String, toVersion: Int): Int = {
    val target = manifest(s, root, toVersion) // throws if expired
    val newV = latestVersion(root) + 1
    commitManifest(target, root, newV, overwrite = false)
    newV
  }

  def expire(s: SparkSession, root: String, keepVersions: Int,
             crashAt: Option[String] = None,
             yieldToWriters: Boolean = false): Int = {
    // discretionary-maintenance mode: expiring the snapshot an active
    // writer's attempt is mid-read on fails that attempt (the
    // FAILED_READ_FILE retry path below commitOnce) — yield while a
    // conflicted writer's intent is fresh, like compact.
    if (yieldToWriters && writerIntentActive(root)) return 0
    def maybeCrash(point: String): Unit =
      if (crashAt.contains(point))
        throw new RuntimeException(s"injected crash at $point in expire")
    val manRoot = new java.io.File(s"$root/_graft_manifest")
    val versions = Option(manRoot.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("v="))
      .map(_.getName.stripPrefix("v=").toInt).sorted
    val keep = versions.takeRight(keepVersions).toSet
    val dead = versions.filterNot(keep)
    val live = keep.toSeq.flatMap(v =>
      manifest(s, root, v).select("path").collect().map(_.getString(0)))
      .toSet
    val deadRefs = dead.flatMap(v =>
      manifest(s, root, v).select("path").collect().map(_.getString(0)))
      .toSet
    val toDelete = (deadRefs -- live).toSeq.sorted
    // TAGS FORWARD FIRST (round-14-continuation fix, see
    // lastTxnVersion's retention note): roll each app's max DEAD
    // txnVersion into the _txns sidecar BEFORE any deletion, so a
    // writer whose newest tag dies with these manifests keeps its
    // exactly-once evidence. Crash-safe by the same idempotence as
    // the deletions: a re-run recomputes the same dead set and
    // write-if-greater converges; a crash between roll-forward and
    // delisting leaves a sidecar floor live tags still dominate.
    dead.flatMap { v =>
        val f = new java.io.File(manifestDir(root, v), "_txn")
        if (!f.exists()) None
        else {
          val lines = new String(
            java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
            .split("\n", 2)
          if (lines.length == 2)
            Some((lines(1).trim, lines(0).trim.toLong))
          else None
        }
      }
      .groupBy(_._1)
      .foreach { case (app, tags) =>
        rollTxnForward(root, app, tags.map(_._2).max)
      }
    maybeCrash("post_txn_rollforward")
    // DELIST FIRST, delete data files SECOND (round-14 fix, caught by
    // VersionedCrashFuzzSpec's first run): the original order deleted
    // data files while their dead manifests were still listed, so a
    // crash in between left listed-but-unreadable versions — and a
    // restore() to one would commit a manifest referencing DELETED
    // files, permanently breaking the LATEST snapshot. With manifests
    // gone first, a crash at ANY point leaves only invisible debris:
    // unlisted manifest dirs are gone, and data files of
    // already-delisted versions leak as ORPHANS that a re-run cannot
    // see (deadRefs is computed from listed manifests) but
    // vacuumOrphans reclaims — the janitor's documented job.
    // FLOOR FIRST (round 15): publish the survivor floor BEFORE any
    // name is freed, so commitManifest's expiry-floor guard is
    // decisive — a writer whose rename lands on a freed name is
    // guaranteed to see the floor above it (see the guard's scaladoc;
    // caught live by RetentionRaceFuzzSpec: a slow merge resurrected
    // an expired version number and its batch vanished from the tip).
    // Idempotent on crash-re-run like every other step here; the
    // post-delete write below keeps the old repair behavior.
    keep.minOption.foreach { f =>
      if (readPtr(root, "_first").forall(_ < f)) writePtr(root, "_first", f)
    }
    maybeCrash("post_floor_publish")
    var firstMan = true
    dead.foreach { v =>
      val d = new java.io.File(manifestDir(root, v))
      Option(d.listFiles()).getOrElse(Array.empty).foreach(_.delete())
      d.delete()
      snapSchemaCache.remove((root, v))
      manifestCache.remove((root, v))
      if (firstMan) { firstMan = false; maybeCrash("mid_manifest_deletes") }
    }
    maybeCrash("post_manifest_deletes")
    var firstFile = true
    toDelete.foreach { p =>
      val f = new java.io.File(new java.net.URI(p).getPath)
      f.delete()
      if (firstFile) { firstFile = false; maybeCrash("mid_file_deletes") }
    }
    // keep the open-cost pointer honest: the oldest survivor moved up
    keep.minOption.foreach(writePtr(root, "_first", _))
    toDelete.size
  }

  /** Delete data-file groups NO committed manifest references — the
    * VACUUM twin of [[expire]] (which only reclaims files that dead
    * manifests referenced). Orphans come from writers that lost an
    * optimistic-commit race AFTER writing their file group, and from
    * crashes between file-group write and manifest commit; both are
    * invisible to every reader. This is the one maintenance op that
    * must LIST the files/ directory (the commit protocol never does)
    * — directory-listing-sized driver work, the Delta VACUUM
    * contract. Returns the number of orphaned file GROUPS removed.
    *
    * `graceMs` is the retention window that makes vacuum safe under
    * CONCURRENT writers: the commit protocol writes a file group
    * BEFORE renaming its manifest in, so a zero-grace vacuum racing
    * that window would delete an in-flight winner's data files and
    * leave its subsequent manifest referencing nothing — a
    * permanently broken snapshot. Skipping groups younger than the
    * grace period (mtime-based, like Delta VACUUM's retention) closes
    * the race for any writer that commits within the window; pass
    * `graceMs = 0` only when no writer can be in flight.
    */
  def vacuumOrphans(s: SparkSession, root: String,
                    graceMs: Long = 20 * 60 * 1000L,
                    crashAt: Option[String] = None): Int = {
    def maybeCrash(point: String): Unit =
      if (crashAt.contains(point))
        throw new RuntimeException(s"injected crash at $point in vacuum")
    val manRoot = new java.io.File(s"$root/_graft_manifest")
    val versions = Option(manRoot.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("v="))
      .map(_.getName.stripPrefix("v=").toInt)
    val referenced = versions.flatMap(v =>
      manifest(s, root, v).select("path").collect().map(r =>
        // manifests store absolute file:// URIs; compare on the
        // file-group DIRECTORY (files/<uuid>), the unit of both the
        // write and the vacuum
        new java.io.File(new java.net.URI(r.getString(0)).getPath)
          .getParentFile.getCanonicalPath)).toSet
    val groups = Option(new java.io.File(s"$root/files").listFiles())
      .getOrElse(Array.empty).filter(_.isDirectory)
    val cutoff = System.currentTimeMillis() - graceMs
    val orphans = groups.filterNot(g => referenced(g.getCanonicalPath))
      .filter(_.lastModified() < cutoff)
    var firstGroup = true
    orphans.foreach { g =>
      Option(g.listFiles()).getOrElse(Array.empty).foreach(_.delete())
      g.delete()
      if (firstGroup) { firstGroup = false; maybeCrash("mid_group_deletes") }
    }
    orphans.length
  }

  /** The adjacent-pair diff's scan scope: data files present in
    * exactly one of the two manifests, the new tombstone files, the
    * from-side tombstones, and the common files whose key range a NEW
    * tombstone file's range touches. Computed with ONE manifest
    * read + collect per side (shared by [[diffSnapshots]] and the
    * spec-facing [[cdfScanPaths]]).
    */
  private case class CdfScope(removed: Seq[String], added: Seq[String],
                              newTomb: Seq[String],
                              touchedCommon: Seq[String],
                              delF: Seq[String], delT: Seq[String],
                              droppedTomb: Seq[String],
                              revivedCommon: Seq[String])

  private def cdfScope(s: SparkSession, root: String,
                       fromVersion: Int, toVersion: Int): CdfScope = {
    // ONE read per manifest serves kind routing AND the range
    // intersections below
    val manF = manifest(s, root, fromVersion)
      .select("path", "kind", "min_key", "max_key").collect()
    val manT = manifest(s, root, toVersion)
      .select("path", "kind", "min_key", "max_key").collect()
    val dataF = manF.filter(_.getString(1) == "data").map(_.getString(0)).toSeq
    val delF = manF.filter(_.getString(1) == "delete").map(_.getString(0)).toSeq
    val dataT = manT.filter(_.getString(1) == "data").map(_.getString(0)).toSeq
    val delT = manT.filter(_.getString(1) == "delete").map(_.getString(0)).toSeq
    val removed = dataF.filterNot(dataT.toSet)
    val added = dataT.filterNot(dataF.toSet)
    val newTomb = delT.filterNot(delF.toSet)
    // tombstones present at from but GONE at to with their covered
    // data files carried verbatim: impossible under the merge/
    // deleteMor/compact algebra (compact folds tombstones by
    // REWRITING the affected files), but RESTORE commits an old
    // manifest verbatim and can drop a tombstone while keeping the
    // file — reviving its keys. Those revivals are inserts this diff
    // must surface (race-fuzz-caught: an empty feed for a restore
    // that un-deleted keys).
    val droppedTomb = delF.filterNot(delT.toSet)
    val commonSet = dataF.toSet.intersect(dataT.toSet)
    // file-count-sized driver work: common data files whose
    // [min_key, max_key] intersects some changed tombstone's range
    def commonTouchedBy(tombPaths: Seq[String],
                        man: Array[org.apache.spark.sql.Row])
        : Seq[String] =
      if (tombPaths.isEmpty) Seq.empty[String]
      else {
        val tset = tombPaths.toSet
        val ranges = man.filter(r => tset(r.getString(0)))
          .map(r => (r.getLong(2), r.getLong(3)))
        manT.filter(r => r.getString(1) == "data"
            && commonSet(r.getString(0)))
          .filter(r => ranges.exists(t =>
            r.getLong(3) >= t._1 && r.getLong(2) <= t._2))
          .map(_.getString(0)).toSeq
      }
    val touchedCommon = commonTouchedBy(newTomb, manT)
    val revivedCommon = commonTouchedBy(droppedTomb, manF)
    CdfScope(removed, added, newTomb, touchedCommon, delF, delT,
      droppedTomb, revivedCommon)
  }

  /** Paths the adjacent-pair snapshot diff [[changeFeed]] will scan —
    * exposed for the spec gate that the CDF never reads a carried
    * file UNTOUCHED by a changed tombstone range. Carried files whose
    * key ranges overlap a tombstone added (touchedCommon) or dropped
    * (revivedCommon — the restore-revival fix) between the versions
    * ARE deliberately scanned: their visible rows change even though
    * their bytes did not.
    */
  private[graft] def cdfScanPaths(s: SparkSession, root: String,
                                  fromVersion: Int,
                                  toVersion: Int): Seq[String] = {
    val sc = cdfScope(s, root, fromVersion, toVersion)
    sc.removed ++ sc.added ++ sc.touchedCommon ++ sc.newTomb ++
      sc.revivedCommon ++ sc.droppedTomb
  }

  /** Row-level diff of two ADJACENT committed snapshots, derived
    * retrospectively from their manifests — no change log is stored.
    * Returns union-schema rows plus `_change_type` ∈ insert | delete |
    * update_preimage | update_postimage (the Delta CDF contract;
    * updates emit a pre/post pair).
    *
    * Scale shape: files common to both manifests were carried VERBATIM
    * by the commit protocol, so their BYTES cannot differ and only
    * those whose key ranges a changed tombstone overlaps — rows whose
    * VISIBILITY flipped — are scanned ([[cdfScanPaths]], spec-gated);
    * untouched carried files never are. The scan — and the
    * key-keyed full-outer diff join that follows — is commit-sized,
    * not table-sized: a commit touching 0.1% of a 100-TB table yields
    * a CDF that reads ~0.1% of the bytes. A compaction commit
    * (tombstones folded in, content unchanged) diffs to ZERO rows.
    */
  private def diffSnapshots(s: SparkSession, root: String, keyCol: String,
                            fromVersion: Int,
                            toVersion: Int): DataFrame = {
    val CdfScope(removed, added, newTomb, touchedCommon, delF, delT,
      droppedTomb, revivedCommon) =
      cdfScope(s, root, fromVersion, toVersion)

    def read(paths: Seq[String]): Option[DataFrame] =
      if (paths.isEmpty) None
      else Some(s.read.option("mergeSchema", "true").parquet(paths: _*))

    // rows visible at fromVersion whose file is gone at toVersion
    // (rewritten or compacted away) — candidates for delete/update
    val oldRewritten = read(removed).map(applyTombstones(s, _, delF))
    // rows in carried files that a NEW tombstone kills: visible at
    // fromVersion (anti delF), dead at toVersion. Keys tombstoned in
    // BOTH versions died in an earlier commit — not this diff's rows.
    val oldTombstoned = (read(touchedCommon), read(newTomb)) match {
      case (Some(data), Some(tomb)) =>
        val k = tomb.columns.head
        val newKeys = applyTombstones(s,
          tomb.select(k).distinct(), delF)
        Some(applyTombstones(s, data, delF)
          .join(newKeys, Seq(k), "left_semi"))
      case _ => None
    }
    val oldSide = (oldRewritten.toSeq ++ oldTombstoned.toSeq)
      .reduceOption(_.unionByName(_, allowMissingColumns = true))
    // rows in carried files REVIVED by a dropped tombstone (restore):
    // dead at fromVersion (killed by a delF file gone at to), alive at
    // toVersion (anti delT) — inserts on the new side
    val newRevived = (read(revivedCommon), read(droppedTomb)) match {
      case (Some(data), Some(tomb)) =>
        val k = tomb.columns.head
        val revKeys = applyTombstones(s, tomb.select(k).distinct(), delT)
        Some(applyTombstones(s, data, delT)
          .join(revKeys, Seq(k), "left_semi"))
      case _ => None
    }
    // rows visible at toVersion whose file did not exist at fromVersion
    val newSide =
      (read(added).map(applyTombstones(s, _, delT)).toSeq ++
        newRevived.toSeq)
        .reduceOption(_.unionByName(_, allowMissingColumns = true))

    // align both sides to the union schema (add-column evolution:
    // the missing side reads as typed nulls, like mergeSchema)
    val schemas = (oldSide.toSeq ++ newSide.toSeq).map(_.schema)
    val unionFields = schemas.flatMap(_.fields)
      .foldLeft(Vector.empty[org.apache.spark.sql.types.StructField]) {
        (acc, f) => if (acc.exists(_.name == f.name)) acc else acc :+ f
      }
    def aligned(dfo: Option[DataFrame]): DataFrame = {
      val base = dfo.getOrElse {
        // one empty side (e.g. tombstone-only commit): schema-correct
        // empty frame so the full-outer join degenerates cleanly
        val any = (oldSide.toSeq ++ newSide.toSeq).head
        any.filter(lit(false))
      }
      val cols = unionFields.map(f =>
        if (base.columns.contains(f.name)) col(f.name)
        else lit(null).cast(f.dataType).as(f.name))
      base.select(cols: _*)
    }
    if (oldSide.isEmpty && newSide.isEmpty)
      // no files changed at all: an empty, schema-correct feed
      return readAsOf(s, root, toVersion).filter(lit(false))
        .withColumn("_change_type", lit(""))

    val rowCols = unionFields.map(f => col(f.name))
    val o = aligned(oldSide)
      .select(col(keyCol).as("__ko"), struct(rowCols: _*).as("__o"))
    val n = aligned(newSide)
      .select(col(keyCol).as("__kn"), struct(rowCols: _*).as("__n"))
    // commit-sized full-outer diff: rewritten-but-carried rows (equal
    // pre/post images) vanish via the null-safe struct comparison
    o.join(n, col("__ko") === col("__kn"), "full_outer")
      .select(explode(
        when(col("__ko").isNull,
          array(struct(lit("insert").as("t"), col("__n").as("r"))))
        .when(col("__kn").isNull,
          array(struct(lit("delete").as("t"), col("__o").as("r"))))
        .when(col("__o") <=> col("__n"), lit(null))
        .otherwise(array(
          struct(lit("update_preimage").as("t"), col("__o").as("r")),
          struct(lit("update_postimage").as("t"), col("__n").as("r")))))
        .as("__c"))
      .select(col("__c.r.*"), col("__c.t").as("_change_type"))
  }

  /** Change data feed over (`fromVersion`, `toVersion`]: the union of
    * each adjacent commit's [[diffSnapshots]] tagged with
    * `_commit_version` — CDF computed after the fact from the
    * manifests alone, so it works on tables that never planned for it.
    * Every per-commit diff scans only that commit's added/removed
    * files; total cost tracks the SUM OF COMMIT SIZES in the range,
    * never the table.
    */
  def changeFeed(s: SparkSession, root: String, keyCol: String,
                 fromVersion: Int, toVersion: Int): DataFrame = {
    require(fromVersion < toVersion,
      s"changeFeed needs fromVersion < toVersion, got $fromVersion >= $toVersion")
    // every manifest in the range must still exist — a feed across an
    // expired snapshot has lost its per-commit attribution ground truth
    val missing = (fromVersion to toVersion).filterNot(hasVersion(root, _))
    require(missing.isEmpty,
      s"changeFeed range [$fromVersion, $toVersion] crosses expired/" +
        s"uncommitted versions $missing at $root")
    ((fromVersion + 1) to toVersion).map(v =>
        diffSnapshots(s, root, keyCol, v - 1, v)
          .withColumn("_commit_version", lit(v)))
      .reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** Commit `toVersion` = `fromVersion` + `changes` (columns of the
    * table plus `opCol`: 'U' upsert / 'D' delete, at most one row per
    * key — the [[Relational.mergeUpsert]] contract).
    *
    * Copy-on-write: a file is rewritten iff some change key falls in
    * its [min_key, max_key]; change keys outside every range (pure
    * inserts) form a new file. Untouched manifest entries carry over
    * byte-identical.
    *
    * Schema evolution: `changes` may carry columns the table does not
    * have yet (add-column). Rewritten/new files get the new columns;
    * rows carried from old files get nulls; untouched files keep the
    * old schema on disk and read with nulls via the readers'
    * mergeSchema — exactly the Delta/Iceberg add-column contract.
    *
    * Requires a tombstone-free `fromVersion` (run [[compact]] first):
    * interleaving COW rewrites with standing equality-deletes needs
    * per-file sequence numbers to order them, which this miniature
    * deliberately omits.
    */
  def merge(s: SparkSession, root: String, keyCol: String, opCol: String,
            changes: DataFrame, fromVersion: Int, toVersion: Int,
            overwrite: Boolean = true,
            txn: Option[(String, Long)] = None): Unit = {
    val man = manifest(s, root, fromVersion).cache()
    try {
      require(man.filter(col("kind") === "delete").isEmpty,
        s"merge requires a tombstone-free from-version; run compact($fromVersion) first")
      // file-count-sized broadcast range join routes each change row to
      // the file whose key range holds it (null = net-new key space)
      val routed = changes.withColumn("__k", col(keyCol).cast("long"))
        .join(broadcast(man),
          col("__k") >= col("min_key") && col("__k") <= col("max_key"),
          "left")
      val affected = routed.filter(col("path").isNotNull)
        .select("path").distinct().collect().map(_.getString(0)).toSet
      val untouched = man.filter(!col("path").isin(affected.toSeq: _*))
      val hasInserts = !changes.filter(col(opCol) === "U").isEmpty
      import s.implicits._
      val newStats =
        if (affected.isEmpty && !hasInserts) {
          // deletes into untouched key space: nothing to rewrite
          Seq.empty[(String, Long, Long, Long, String)]
            .toDF("path", "min_key", "max_key", "rows", "kind")
        } else {
          val base =
            if (affected.isEmpty) {
              // insert-only commit into net-new key space: empty base
              // with the table's schema
              s.read.option("mergeSchema", "true")
                .parquet(man.select("path").first().getString(0))
                .filter(lit(false))
            } else s.read.option("mergeSchema", "true")
              .parquet(affected.toSeq: _*)
          // add-column schema evolution, BOTH directions: columns the
          // change batch has but the base files lack read as typed
          // nulls in the base (rewritten files land with the new
          // schema), and columns the TABLE evolved earlier that this
          // batch omits become typed nulls on the change side — an
          // upserted row IS the change row in full, so an absent column
          // is null, and later commits need not know about every past
          // evolution (fuzz-caught: a post-evolution batch without the
          // evolved column failed to resolve it).
          val newCols = changes.columns
            .filterNot(c => c == opCol || base.columns.contains(c))
          val aligned = newCols.foldLeft(base)((b, c) =>
            b.withColumn(c, lit(null).cast(changes.schema(c).dataType)))
          val missingInChanges = aligned.columns
            .filterNot(changes.columns.contains)
          val changesAligned = missingInChanges.foldLeft(changes)((c, cn) =>
            c.withColumn(cn, lit(null).cast(aligned.schema(cn).dataType)))
          val merged = Relational.mergeUpsert(aligned, changesAligned,
            keyCol, opCol)
          writeFileGroup(merged, root, keyCol, math.max(1, affected.size))
        }
      commitManifest(untouched.unionByName(newStats), root, toVersion,
        overwrite, txn = txn)
    } finally man.unpersist(blocking = false)
  }
}
