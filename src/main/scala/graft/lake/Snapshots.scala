package graft.lake

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths, StandardCopyOption}
import graft.{Q, Tables}

/** Versioned table snapshots with time-travel reads — the Delta/Iceberg
  * capability a plain-parquet lake lacks (the reference's tables are
  * overwrite-in-place; an analyst cannot ask "what did this table say
  * yesterday"). Layout: each version is an immutable directory
  * `<root>/v=<n>/`; `_latest` is a one-line manifest naming the current
  * version, committed by write-temp-then-atomic-rename so a reader
  * never sees a half-written pointer.
  *
  * Scale shape: a snapshot write is exactly one parquet write (no
  * rewrite of history); version resolution reads a one-line file; a
  * time-travel read is an ordinary pruned scan of one immutable
  * directory. Storage is per-version full copies — the honest tradeoff
  * vs manifest-of-files designs, noted here; the READ API is identical.
  */
object Snapshots {

  private def manifest(root: String) = Paths.get(root, "_latest")

  /** Write `df` as version `v` and advance the manifest. Single-writer
    * API (the caller picks `v`); racing writers use [[commitVersion]].
    */
  def writeVersion(df: DataFrame, root: String, v: Int): Unit = {
    Lake.writeParquet(df, s"$root/v=$v")
    publish(root, v)
    val tmp = Paths.get(root, s"_latest.tmp$v")
    Files.writeString(tmp, v.toString)
    Files.move(tmp, manifest(root), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  // ------------------------------------------- optimistic concurrency
  //
  // Two writers racing the same table must never lose a snapshot or
  // publish a torn one — the one lake-table behavior Delta/Iceberg's
  // commit log has that a mutable `_latest` pointer lacks (two racers
  // both writing `v=2` silently drop one writer's data). The protocol
  // here is the log-is-the-truth design: a version is CLAIMED by
  // atomically creating `_claim_v<n>` (POSIX/HDFS create-fails-if-
  // exists — exactly one contender can win a given n; the loser sees
  // the collision and retries on n+1, n+2, …), the claimed directory
  // is written while invisible to readers, and the version becomes
  // readable only when its `_commit_v<n>` marker lands via atomic
  // rename. `latestVersion` is DERIVED as max over commit markers —
  // there is no mutable pointer to race — so a reader sees either the
  // pre-commit or the post-commit table, never a half-written one, and
  // a claimed-but-crashed writer just leaves a skipped number behind.
  // One marker listing per resolution: manifest-scale, never data-
  // scale.

  /** Atomically claim version `v`; exactly one caller wins. */
  private def claim(root: String, v: Int): Boolean =
    try { Files.createFile(Paths.get(root, s"_claim_v$v")); true }
    catch { case _: java.nio.file.FileAlreadyExistsException => false }

  /** Test hook: exercise the claim CAS directly (a claim without a
    * commit models a writer that died mid-commit). */
  private[lake] def commitProbe(root: String, v: Int): Boolean = {
    Files.createDirectories(Paths.get(root))
    claim(root, v)
  }

  /** Make claimed version `v` visible: write-temp + atomic rename.
    *
    * Refuses to publish a version whose staged data directory is gone:
    * a [[commitAudited]] stage whose audit outlives `orphanGraceMs` can
    * be swept by a concurrent [[vacuum]] (racing writers push the
    * retention cutoff past it) — publishing after that sweep would
    * escalate a lost stage into a COMMITTED version with no data, which
    * every subsequent read of that version would crash on. Failing the
    * commit keeps the invariant: a commit marker always names a
    * directory that exists. */
  private def publish(root: String, v: Int): Unit = {
    val data = Paths.get(root, s"v=$v")
    if (!Files.isDirectory(data))
      throw new IllegalStateException(
        s"concurrency conflict: staged directory $data vanished before " +
          "publish (vacuum's orphan sweep outran this commit — size " +
          "orphanGraceMs above the slowest audit); refusing to publish " +
          "a data-less version")
    val tmp = Paths.get(root, s"_commit_v$v.tmp")
    Files.writeString(tmp, v.toString)
    // REPLACE_EXISTING keeps re-publishing a version the caller owns
    // (writeVersion overwrite semantics) idempotent; the rename stays
    // atomic either way.
    Files.move(tmp, Paths.get(root, s"_commit_v$v"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Concurrent-safe snapshot commit: claim the next free version via
    * CAS, write it, publish it. Returns the committed version. */
  def commitVersion(df: DataFrame, root: String): Int =
    commitVersionWith(root)(p => Lake.writeParquet(df, p))

  /** [[commitVersion]] with a caller-supplied writer — each version
    * owns its physical layout (partitioning scheme, file sizing), which
    * is what makes PARTITION EVOLUTION (k21) possible: the commit
    * protocol versions directories, not layouts. */
  def commitVersionWith(root: String)(write: String => Unit): Int = {
    Files.createDirectories(Paths.get(root))
    var v = latestVersion(root) + 1
    while (!claim(root, v)) v += 1 // loser of the race moves to n+2, …
    write(s"$root/v=$v")
    publish(root, v)
    v
  }

  /** Newest COMMITTED version: max over `_commit_v*` markers, falling
    * back to the legacy `_latest` pointer (pre-CAS layouts), else 0
    * (empty table — the next commit is v1). */
  def latestVersion(root: String): Int = {
    import scala.jdk.CollectionConverters._
    val dir = Paths.get(root)
    val committed =
      if (!Files.isDirectory(dir)) Nil
      else {
        val ls = Files.list(dir)
        try ls.iterator().asScala.map(_.getFileName.toString)
          .filter(n => n.startsWith("_commit_v") && !n.endsWith(".tmp"))
          .map(_.stripPrefix("_commit_v").toInt).toList
        finally ls.close()
      }
    if (committed.nonEmpty) committed.max
    else if (Files.exists(manifest(root)))
      Files.readString(manifest(root)).trim.toInt
    else 0
  }

  /** Read a specific version, or the manifest's latest. This is the
    * RAW physical read — deletion-vector sidecars (`_dv_v<n>`) are NOT
    * applied; use [[readWithDeletes]] for the logical rows of a version
    * that has position deletes. */
  def readVersion(s: SparkSession, root: String,
      version: Option[Int] = None): DataFrame =
    s.read.parquet(s"$root/v=${version.getOrElse(latestVersion(root))}")

  /** VACUUM: expire snapshot history, keeping the newest `retain`
    * committed versions — the Delta `VACUUM` / Iceberg
    * `expire_snapshots` retention step, without which a snapshot lake
    * stores every version forever (the honest cost k15 documents).
    * Per expired version the DATA DIRECTORY is removed FIRST, then the
    * commit marker, then the claim — a crashed vacuum leaves the
    * marker behind, so the half-expired version stays classified
    * COMMITTED and the next run simply re-expires it; it can never be
    * mistaken for a crashed-writer orphan (whose sweep also deletes
    * the `_renames_v<n>` schema sidecar — metadata expiry must never
    * break the rename chain pinned versions read through). A reader
    * pinned to a mid-delete version fails fast at scan; version
    * RESOLUTION is unaffected because expired < cutoff ≤ latest and
    * latest's marker is never touched. Unmarked `v=` dirs below the
    * cutoff (crashed WRITERS) are swept once their claim goes stale. Concurrency-safe by construction: the cutoff
    * derives from `latestVersion` at entry, writers only ever ADD
    * versions above it (the claim CAS starts at latest+1), so vacuum
    * and commit never touch the same version. The ORPHAN sweep honors a
    * retention GRACE (Delta/Iceberg-style): an unmarked `v=` dir whose
    * `_claim_v<n>` is younger than `orphanGraceMs` is an IN-FLIGHT
    * stage (a [[commitAudited]] audit in progress, a slow writer), not
    * a crash residue — sweeping it would delete data about to be
    * published. Expired versions also drop their `_dv_v<n>` deletion-
    * vector sidecar (otherwise orphaned forever). Driver-side work is
    * marker-count-sized, deletion is per expired directory — never
    * data-scale reads. Returns the expired version numbers. */
  def vacuum(root: String, retain: Int,
      orphanGraceMs: Long = 20 * 60 * 1000L): Seq[Int] = {
    require(retain >= 1, "vacuum must retain at least the latest version")
    import scala.jdk.CollectionConverters._
    val cutoff = latestVersion(root) - retain + 1
    val dir = Paths.get(root)
    if (!Files.isDirectory(dir)) return Nil
    val ls = Files.list(dir)
    val entries =
      try ls.iterator().asScala.map(_.getFileName.toString).toList
      finally ls.close()
    val committed = entries.filter(n => n.startsWith("_commit_v") &&
      !n.endsWith(".tmp")).map(_.stripPrefix("_commit_v").toInt)
    // In-flight protection: a fresh claim means a writer/audit may still
    // publish this dir — only stale (or claim-less) unmarked dirs sweep.
    def claimStale(v: Int): Boolean = {
      val c = Paths.get(root, s"_claim_v$v")
      !Files.exists(c) || System.currentTimeMillis() -
        Files.getLastModifiedTime(c).toMillis >= orphanGraceMs
    }
    val orphanDirs = entries.filter(_.startsWith("v="))
      .map(_.stripPrefix("v=").toInt)
      .filter(v => v < cutoff && !committed.contains(v) && claimStale(v))
    // Iceberg's expire-respects-refs rule: a TAGGED version (k28) is
    // retained regardless of the retention window — the tag IS the
    // statement that someone must be able to read it forever. BRANCH
    // HEADS (k36) are refs too: expiring a branch's current head
    // would sever a live line of development.
    val tagged = entries.filter(n => (n.startsWith("_tag_") ||
        n.startsWith("_branch_")) &&
      !n.endsWith(".tmp") && !n.endsWith(".claim"))
      .map(n => Files.readString(dir.resolve(n)).trim.toInt).toSet
    val expired = committed.filter(v => v < cutoff && !tagged(v)).sorted
    for (v <- expired) {
      // Data dir FIRST, marker after: a vacuum that crashes mid-expire
      // leaves the marker behind, so the half-expired version is still
      // classified COMMITTED — the next vacuum re-expires it cleanly,
      // and it can never be mistaken for a crashed-writer orphan
      // (whose sweep would delete the `_renames_v<v>` sidecar and
      // permanently break the rename chain below). A pinned reader of
      // the expiring version fails at scan rather than at resolution —
      // it was being expired either way; `latestVersion` is unaffected
      // because expired < cutoff ≤ latest and latest's marker stays.
      Lake.deleteRecursively(new java.io.File(s"$root/v=$v"))
      Lake.deleteRecursively(new java.io.File(s"$root/_dv_v$v"))
      Files.deleteIfExists(Paths.get(root, s"_commit_v$v"))
      // NOTE: `_renames_v<v>` is NOT swept here — rename metadata
      // describes the schema TRANSITION at v and is still needed to
      // read any surviving version OLDER than v (a tagged snapshot,
      // say) under the unified schema. Schema history outlives data
      // history, exactly as in Iceberg's metadata log.
      Files.deleteIfExists(Paths.get(root, s"_claim_v$v"))
    }
    for (v <- orphanDirs) { // crashed-vacuum sweep
      Lake.deleteRecursively(new java.io.File(s"$root/v=$v"))
      Lake.deleteRecursively(new java.io.File(s"$root/_dv_v$v"))
      Files.deleteIfExists(Paths.get(root, s"_renames_v$v"))
      Files.deleteIfExists(Paths.get(root, s"_claim_v$v"))
    }
    expired
  }

  // ------------------------------------------------------------- tags

  /** TAG: a named, immutable ref to a committed version (Iceberg
    * `create_tag`) — the reproducibility pin: "the corpus release this
    * model trained on". Creation is race-free and write-once via the
    * same CAS primitive as version claims (create-fails-if-exists on a
    * claim file, then write-temp + atomic-rename of the pointer, so a
    * reader sees a complete pointer or none); [[vacuum]] retains tagged
    * versions regardless of the retention window. */
  def tag(root: String, name: String, v: Int): Unit = {
    // The pointer file is `_tag_<name>` in the table root: the name must
    // never collide with the `.tmp`/`.claim` suffixes vacuum's tagged-
    // version scan EXCLUDES (a tag named `rel.tmp` would be invisible to
    // expire-respects-refs and its "pinned forever" version silently
    // expired), and must not contain path separators (a `../x` name
    // escapes the root).
    require(name.matches("[A-Za-z0-9._-]+"),
      s"tag '$name': names must match [A-Za-z0-9._-]+ (no path separators)")
    require(!name.endsWith(".tmp") && !name.endsWith(".claim"),
      s"tag '$name': names ending in .tmp/.claim collide with commit-" +
        "protocol temp files and would be ignored by vacuum's tag scan")
    require(Files.exists(Paths.get(root, s"_commit_v$v")),
      s"tag '$name': version $v is not committed")
    try Files.createFile(Paths.get(root, s"_tag_$name.claim"))
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new IllegalStateException(
          s"tag '$name' already exists (tags are immutable)")
    }
    val tmp = Paths.get(root, s"_tag_$name.tmp")
    Files.writeString(tmp, v.toString)
    Files.move(tmp, Paths.get(root, s"_tag_$name"),
      StandardCopyOption.ATOMIC_MOVE)
  }

  /** Resolve a tag to its version number (fails fast on unknown tag). */
  def tagVersion(root: String, name: String): Int =
    Files.readString(Paths.get(root, s"_tag_$name")).trim.toInt

  /** Read the table as of a tag — [[readVersion]] through the ref. */
  def readTag(s: SparkSession, root: String, name: String): DataFrame =
    readVersion(s, root, Some(tagVersion(root, name)))

  // -------------------------------------------------- branches (k36)

  /** BRANCH: a named MUTABLE ref (Iceberg branches / the Nessie and
    * LakeFS development model) — k28's tags pin a version forever;
    * a branch is the moving head of a line of development. Commits
    * made THROUGH a branch share the table's one CAS version log (so
    * concurrent branches never collide on version numbers) and record
    * their parent version in a `_parent_v<n>` sidecar, which gives
    * the linear log a commit DAG that merge can walk. Branch creation
    * is write-once via the claim CAS (same rule as tags); the pointer
    * afterwards moves only by commit/merge, each move an atomic
    * rename, so a reader sees a complete pointer or the old one.
    * [[vacuum]] retains every branch head like a tagged version. */
  def createBranch(root: String, name: String, v: Int): Unit = {
    require(name.matches("[A-Za-z0-9._-]+"),
      s"branch '$name': names must match [A-Za-z0-9._-]+")
    require(!name.endsWith(".tmp") && !name.endsWith(".claim"),
      s"branch '$name': names ending in .tmp/.claim collide with " +
        "commit-protocol temp files")
    require(Files.exists(Paths.get(root, s"_commit_v$v")),
      s"branch '$name': version $v is not committed")
    try Files.createFile(Paths.get(root, s"_branch_$name.claim"))
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new IllegalStateException(
          s"branch '$name' already exists")
    }
    moveBranchPtr(root, name, v)
  }

  private def moveBranchPtr(root: String, name: String, v: Int): Unit = {
    val tmp = Paths.get(root, s"_branch_$name.tmp")
    Files.writeString(tmp, v.toString)
    Files.move(tmp, Paths.get(root, s"_branch_$name"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Resolve a branch to its current head version (fails on unknown). */
  def branchHead(root: String, name: String): Int =
    Files.readString(Paths.get(root, s"_branch_$name")).trim.toInt

  /** Commit a full snapshot THROUGH a branch: claim the next free
    * version in the shared log, write, record the parent (= the
    * branch's head at entry), publish, advance the pointer. */
  def commitToBranch(df: DataFrame, root: String, name: String): Int = {
    val parent = branchHead(root, name)
    var v = latestVersion(root) + 1
    while (!claim(root, v)) v += 1
    Lake.writeParquet(df, s"$root/v=$v")
    Files.writeString(Paths.get(root, s"_parent_v$v"), parent.toString)
    publish(root, v)
    moveBranchPtr(root, name, v)
    v
  }

  /** Ancestry of a version through the `_parent_v` sidecars, newest
    * first, ending at the first version with no recorded parent. */
  def parentChain(root: String, v: Int): List[Int] = {
    val p = Paths.get(root, s"_parent_v$v")
    if (!Files.exists(p)) List(v)
    else v :: parentChain(root, Files.readString(p).trim.toInt)
  }

  /** FAST-FORWARD merge: move `into`'s pointer to `from`'s head,
    * permitted only when `into`'s head is an ancestor of `from`'s —
    * otherwise the branches have DIVERGED and a fast-forward would
    * silently discard `into`'s commits (the Nessie default: refuse,
    * make the caller rebase or choose a merge strategy). */
  def fastForwardMerge(root: String, into: String, from: String): Int = {
    val intoV = branchHead(root, into)
    val fromV = branchHead(root, from)
    if (intoV == fromV) return intoV
    require(parentChain(root, fromV).contains(intoV),
      s"cannot fast-forward '$into' (v$intoV) to '$from' (v$fromV): " +
        "heads have diverged")
    moveBranchPtr(root, into, fromV)
    fromV
  }

  /** Read the table as of a branch head — [[readVersion]] via the ref. */
  def readBranch(s: SparkSession, root: String, name: String): DataFrame =
    readVersion(s, root, Some(branchHead(root, name)))

  // ------------------------------------------------- schema evolution

  /** Commit a version whose schema EVOLVED from its predecessors —
    * Iceberg-style name mapping through the CAS commit log (the
    * snapshot-layer analog of the crawler's schema-change handling,
    * `stacks/demo_stack.py:130-187`, and of s14's mergeSchema for plain
    * prefixes). `renames` maps each NEW column name to the name it had
    * in PRIOR versions (`"bal" -> "c_acctbal"`); added columns need no
    * entry (older versions simply lack them). The mapping lands in a
    * `_renames_v<n>` sidecar BEFORE the commit marker (inert until the
    * marker exists — a reader never sees a committed version with
    * missing mapping), so old versions are readable under the NEW
    * unified schema without rewriting a byte of old data — the whole
    * point vs copy-forward migration at 100 TB. */
  def commitEvolvedWith(root: String, renames: Map[String, String])(
      write: String => Unit): Int = {
    require(renames.keys.forall(_.matches("[A-Za-z0-9_]+")) &&
      renames.values.forall(_.matches("[A-Za-z0-9_]+")),
      "rename mapping entries must be plain column identifiers")
    Files.createDirectories(Paths.get(root))
    var v = latestVersion(root) + 1
    while (!claim(root, v)) v += 1
    write(s"$root/v=$v")
    if (renames.nonEmpty) {
      val tmp = Paths.get(root, s"_renames_v$v.tmp")
      Files.writeString(tmp,
        renames.toSeq.sorted.map { case (n, o) => s"$n=$o" }.mkString("\n"))
      Files.move(tmp, Paths.get(root, s"_renames_v$v"),
        StandardCopyOption.ATOMIC_MOVE)
    }
    publish(root, v)
    v
  }

  /** The rename mapping version `v` introduced (empty if none). */
  private def renamesOf(root: String, v: Int): Map[String, String] = {
    val p = Paths.get(root, s"_renames_v$v")
    if (!Files.exists(p)) Map.empty
    else Files.readString(p).linesIterator.filter(_.contains("="))
      .map { l => val Array(n, o) = l.split("=", 2); n -> o }.toMap
  }

  /** Read version `v` under the LATEST version's unified schema: each
    * unified column resolves to its physical name at `v` by composing
    * the rename chains of every later version (newest first), reading
    * it under the unified name; a column `v` predates reads as typed
    * NULL. Resolution is sidecar-count-sized driver work (one tiny file
    * per evolved commit + one metadata-only schema read of the latest
    * version); the data scan is the ordinary pruned scan of `v=<v>` —
    * old versions are never rewritten. */
  def readVersionUnified(s: SparkSession, root: String, v: Int): DataFrame = {
    val latest = latestVersion(root)
    val unified = s.read.parquet(s"$root/v=$latest").schema
    // A rename hop counts iff its version was COMMITTED: marker present,
    // or marker gone but data dir gone too (an EXPIRED committed version
    // — vacuum keeps its rename metadata, see the expire loop). A
    // crashed evolved commit (no marker, data dir still staged) must
    // never corrupt the chain; its sidecar is swept with the orphan.
    val chains = (v + 1 to latest).reverse
      .filter(w => Files.exists(Paths.get(root, s"_commit_v$w")) ||
        !Files.isDirectory(Paths.get(root, s"v=$w")))
      .map(renamesOf(root, _))
    val phys = s.read.parquet(s"$root/v=$v")
    val physCols = phys.schema.fieldNames.toSet
    val cols = unified.fields.toSeq.map { f =>
      val physName = chains.foldLeft(f.name)((n, m) => m.getOrElse(n, n))
      // cast covers TYPE WIDENING across versions (int→long, float→
      // double — Iceberg's promotion rules); it folds away when the
      // physical type already matches.
      if (physCols(physName)) col(physName).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }
    phys.select(cols: _*)
  }

  // --------------------------------------------- write-audit-publish

  /** WRITE-AUDIT-PUBLISH (the Iceberg/Netflix WAP pattern): stage the
    * batch as a CLAIMED-but-uncommitted version — physically written,
    * invisible to every reader because version resolution only lists
    * commit markers — run the caller's audit against the staged files,
    * and PUBLISH only on pass. A failing batch never becomes readable:
    * its data directory is removed and its claim stays behind as a
    * burned version number, byte-for-byte the same residue as a writer
    * that crashed mid-commit, which the existing vacuum/orphan sweep
    * already handles. Returns Right(version) on publish, Left(reason)
    * on rejection (table unchanged).
    *
    * Scale shape: the stage is the ordinary one-parquet-write commit
    * path; the audit is whatever the caller runs (a [[Validate]] suite
    * is ONE aggregation pass); publish is a one-line atomic rename.
    * Concurrency: the claim CAS serializes version numbers, and an
    * audit that takes minutes blocks nobody (other writers claim higher
    * numbers and can publish first). The staged-but-unmarked directory
    * is protected from a concurrent [[vacuum]]'s orphan sweep by the
    * claim-age GRACE period (an unmarked dir with a fresh `_claim_v<n>`
    * is skipped) — an audit that outlives `orphanGraceMs` while other
    * writers push the cutoff past it is NOT protected; size the grace
    * to the slowest audit. If that sweep does win the race, the publish
    * path detects the vanished stage and the commit fails with
    * Left(concurrency conflict) — it never escalates a swept stage into
    * a committed version with no data directory. */
  def commitAudited(s: SparkSession, root: String)(write: String => Unit)(
      audit: DataFrame => Either[String, Unit]): Either[String, Int] = {
    Files.createDirectories(Paths.get(root))
    var v = latestVersion(root) + 1
    while (!claim(root, v)) v += 1
    val path = s"$root/v=$v"
    write(path)
    audit(s.read.parquet(path)) match {
      case Right(()) =>
        // The stage can have been swept by a concurrent vacuum if the
        // audit outlived orphanGraceMs — surface that as a rejected
        // commit, not an exception (the table is unchanged either way).
        try { publish(root, v); Right(v) }
        catch { case e: IllegalStateException => Left(e.getMessage) }
      case Left(reason) =>
        Lake.deleteRecursively(new java.io.File(path))
        Left(reason)
    }
  }

  /** A [[Validate]] suite as a WAP audit: every check must pass. The
    * verdict is decided by ONE `bool_and` over the one-pass metric
    * rows — the only driver-side value is the check-count-sized
    * failure list. */
  def validateAudit(checks: Seq[Validate.Check])(
      df: DataFrame): Either[String, Unit] = {
    val failed = Validate.validate(df, checks)
      .filter(!col("passed"))
      .select(col("check_name")).collect().map(_.getString(0))
    if (failed.isEmpty) Right(()) else Left(failed.mkString(","))
  }

  // --------------------------------------- multi-table transaction

  /** Multi-table TRANSACTIONAL commit (k32) — the one lakehouse
    * primitive the per-table log lacks: N tables' new versions become
    * visible through ONE atomic rename, so a reader never sees v2
    * orders with v1 lineitem. Each table stages under the existing
    * per-table claim CAS (physically written, invisible — txn tables
    * get NO per-table `_commit_v` markers; the TXN LOG is their only
    * commit point), then a `_txn_v<k>` marker file naming every
    * (table, version) pair lands via write-temp + atomic rename.
    * [[readTxn]] resolves versions from a marker, so consistency is
    * structural: the marker is the unit of visibility. A crash after
    * staging any prefix of the tables — or right before the marker
    * rename — leaves only claimed-but-unmarked directories: invisible,
    * the same residue as a single-table writer death, and resolution
    * still answers from the previous marker
    * (`SnapshotConcurrencySpec` pins the crash-between-tables case).
    * Scale shape: staging is N ordinary parquet writes; the commit
    * point is one rename of a file with N lines — manifest-scale, like
    * Iceberg's multi-table catalog commit. */
  def commitTxn(txnRoot: String,
      writes: Seq[(String, String => Unit)]): Int = {
    Files.createDirectories(Paths.get(txnRoot))
    val staged = writes.map { case (name, w) =>
      name -> stageTxnTable(txnRoot, name)(w)
    }
    // The txn number gets its own CAS (claim files live at the txn
    // root; table data lives in subdirectories — no collision).
    var k = latestTxn(txnRoot).map(_._1).getOrElse(0) + 1
    while (!claim(txnRoot, k)) k += 1
    // publish-guard, txn flavor: every staged directory must still
    // exist — never escalate a swept stage into a committed marker.
    staged.foreach { case (name, v) =>
      val p = Paths.get(txnRoot, name, s"v=$v")
      if (!Files.isDirectory(p))
        throw new IllegalStateException(
          s"concurrency conflict: staged $p vanished before the txn " +
            "marker rename; refusing to commit a transaction with a " +
            "data-less member")
    }
    val tmp = Paths.get(txnRoot, s"_txn_v$k.tmp")
    Files.writeString(tmp,
      staged.map { case (n, v) => s"$n=$v" }.mkString("\n"))
    Files.move(tmp, Paths.get(txnRoot, s"_txn_v$k"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    k
  }

  /** Exactly-once STREAMING commit (the Delta-streaming-sink txn
    * pattern): micro-batch `batchId` commits as version batchId+1, and
    * the version's commit marker IS the idempotency ledger — a
    * re-delivered batch (foreachBatch replay after a restart, the
    * at-least-once residue every checkpointed stream carries) finds
    * its marker and SKIPS, so readers never see a batch's rows twice.
    * An attempt that crashed after staging but before its marker
    * re-runs safely: this writer owns the claim (Structured Streaming
    * guarantees one active query per sink — single-writer per table
    * root by contract), the stage is rewritten in place (`write` must
    * overwrite), and the atomic marker rename still lands exactly
    * once. Returns true if THIS call committed, false on duplicate. */
  def commitStreamBatch(root: String, batchId: Long)(
      write: String => Unit): Boolean = {
    require(batchId >= 0 && batchId < Int.MaxValue - 1,
      s"batchId out of range: $batchId")
    val v = batchId.toInt + 1
    Files.createDirectories(Paths.get(root))
    if (Files.exists(Paths.get(root, s"_commit_v$v"))) false
    else {
      claim(root, v) // a false return = a crashed attempt we own
      write(s"$root/v=$v")
      publish(root, v)
      true
    }
  }

  /** Stage one table's next version under the claim CAS — written but
    * invisible until a txn marker names it. Exposed package-private so
    * the crash-between-tables spec can model a writer that died after
    * staging (the gate also uses it for its staged-only probe). */
  private[lake] def stageTxnTable(txnRoot: String, name: String)(
      write: String => Unit): Int = {
    val root = s"$txnRoot/$name"
    Files.createDirectories(Paths.get(root))
    var v = latestVersion(root) + 1 // txn tables have no commit markers
    while (!claim(root, v)) v += 1  // ⇒ the CAS walks past prior claims
    write(s"$root/v=$v")
    v
  }

  /** Newest committed transaction: (txn id, table → version), or None
    * if no marker has landed. One directory listing + one small-file
    * read — manifest-scale. */
  def latestTxn(txnRoot: String): Option[(Int, Map[String, Int])] = {
    import scala.jdk.CollectionConverters._
    val dir = Paths.get(txnRoot)
    if (!Files.isDirectory(dir)) return None
    val ls = Files.list(dir)
    val ids =
      try ls.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.startsWith("_txn_v") && !n.endsWith(".tmp"))
        .map(_.stripPrefix("_txn_v").toInt).toList
      finally ls.close()
    ids.maxOption.map(k => (k, txnTables(txnRoot, k)))
  }

  /** Parse txn marker `k`'s (table → version) map. */
  private def txnTables(txnRoot: String, k: Int): Map[String, Int] = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(Paths.get(txnRoot, s"_txn_v$k")).asScala
      .filter(_.nonEmpty).map { line =>
        val Array(n, v) = line.split('='); n -> v.toInt
      }.toMap
  }

  /** Read table `name` as of transaction `txn` (default: latest
    * committed). All tables read through the SAME marker are mutually
    * consistent — that is the contract the marker rename buys. */
  def readTxn(s: SparkSession, txnRoot: String, name: String,
      txn: Option[Int] = None): DataFrame = {
    val k = txn.orElse(latestTxn(txnRoot).map(_._1)).getOrElse(
      throw new IllegalStateException(
        s"no committed transaction under $txnRoot"))
    val tables = txnTables(txnRoot, k)
    val v = tables.getOrElse(name,
      throw new IllegalArgumentException(
        s"table $name is not a member of txn $k " +
          s"(members: ${tables.keys.toSeq.sorted.mkString(",")})"))
    s.read.parquet(s"$txnRoot/$name/v=$v")
  }

  // ------------------------------------------------------------ queries

  /** OPTIMIZE / compaction through the commit log (Delta `OPTIMIZE` /
    * Iceberg `rewrite_data_files`): rewrite the latest version's
    * LOGICAL rows — deletion vectors applied, so sidecar debt folds in
    * — as a NEW version with `numFiles` bin-packed files. History is
    * never touched; readers switch atomically at the commit marker;
    * the old small-file version ages out under ordinary vacuum
    * retention. This is the small-files cure every streaming-ingested
    * lake table needs: at 100 TB the rewrite is ONE round-robin shuffle
    * of one version's data — `repartition`, not `coalesce`, on purpose:
    * coalesce would fold the scan's parallelism down to `numFiles`
    * tasks and inherit the input's skew, while the shuffle buys evenly
    * sized output files (the whole point of compaction) for one extra
    * pass over data that is being rewritten anyway. */
  def compact(s: SparkSession, root: String, numFiles: Int): Int =
    commitVersionWith(root)(p =>
      readWithDeletes(s, root, latestVersion(root))
        .repartition(numFiles).write.parquet(p))

  /** K30: compaction under the gate — v1 lands as 64 small files (the
    * streaming-ingest residue shape), a DV delete knocks out a slice,
    * and [[compact]] publishes v2 with 4 files: the requires pin that
    * v2 really has ≤ 4 data files, that v1's directory is untouched
    * byte-for-byte, and that no `_dv` sidecar rides on v2 (compaction
    * folds deletes in). The result reads BOTH versions' logical rows;
    * the oracle restates them from the raw table, so a compaction that
    * loses rows, resurrects deleted ones, or rewrites history
    * hash-fails. */
  private val k30Compact: Q = (s, dir) => {
    val root = Lake.scratchDir("k30")
    val li = Tables.load(s, dir, "lineitem").select(
      col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
      col("l_extendedprice"))
    require(commitVersionWith(root)(p =>
      li.repartition(64).write.parquet(p)) == 1)
    // (name, size, CRC32-of-bytes) per file: content-level, so an
    // in-place rewrite with identical names/sizes still trips the pin.
    def listing(v: Int): Seq[(String, Long, Long)] = {
      import scala.jdk.CollectionConverters._
      val ls = Files.list(Paths.get(root, s"v=$v"))
      try ls.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .map { p =>
          val crc = new java.util.zip.CRC32()
          crc.update(Files.readAllBytes(p))
          (p.getFileName.toString, Files.size(p), crc.getValue)
        }.toList.sortBy(_._1)
      finally ls.close()
    }
    val v1Before = listing(1)
    deleteWhere(s, root, 1, col("l_quantity") >= 45)
    require(compact(s, root, numFiles = 4) == 2)
    require(listing(1) == v1Before, "compaction rewrote v1")
    require(listing(2).size <= 4,
      s"compaction produced ${listing(2).size} files, want <= 4")
    require(!Files.isDirectory(Paths.get(root, "_dv_v2")),
      "compaction must fold deletes in, not carry a sidecar")
    def agg(df: DataFrame, label: String) = df.agg(
      count(lit(1)).as("n_rows"), sum(col("l_orderkey")).as("sum_keys"),
      round(sum(col("l_extendedprice")), 2).as("sum_price"))
      .select(lit(label).as("snap"), col("n_rows"), col("sum_keys"),
        col("sum_price"))
    agg(readVersion(s, root), "1_v2_compacted")
      .unionByName(agg(readWithDeletes(s, root, 1), "2_v1_logical"))
      .unionByName(agg(readVersion(s, root, Some(1)), "3_v1_raw"))
      .orderBy(col("snap"))
  }

  /** K32: multi-table transactional commit under the gate — two
    * transactions each publish a consistent (orders, lineitem) pair
    * (orders filtered by a key predicate; lineitem semi-joined to
    * exactly those orders), plus a staged-but-unpublished third write
    * modeling a writer crash. The result restates cross-table
    * consistency SET-ALGEBRAICALLY: per transaction, the orphan count
    * (lineitem rows whose order is absent from the SAME txn's orders)
    * must be 0, and the deliberately TORN pair — txn1's lineitem
    * against txn2's orders, the read the marker protocol makes
    * impossible — must show a positive orphan count (the consistency
    * predicate is non-vacuous). The oracle recomputes all three rows
    * from the raw tables (lineitem→orders referential integrity holds
    * in the testdata, so the torn count is `%2 = 0 AND %3 <> 0`). */
  private val k32MultiTableTxn: Q = (s, dir) => {
    val root = Lake.scratchDir("k32")
    val orders = Tables.load(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val li = Tables.load(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
    def pair(pred: Column): Seq[(String, String => Unit)] = {
      val o = orders.filter(pred)
      val l = li.join(o.select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"), "left_semi")
      Seq("orders" -> (p => Lake.writeParquet(o, p)),
        "lineitem" -> (p => Lake.writeParquet(l, p)))
    }
    require(commitTxn(root, pair(col("o_orderkey") % 2 === 0)) == 1)
    require(commitTxn(root, pair(col("o_orderkey") % 3 === 0)) == 2)
    // Crash probe: a staged-but-unmarked orders write must not move
    // resolution — the marker is the only commit point.
    stageTxnTable(root, "orders")(p => Lake.writeParquet(orders.limit(1), p))
    require(latestTxn(root).map(_._1).contains(2),
      "a staged-only transaction member became visible")
    def audit(label: String, o: DataFrame, l: DataFrame): DataFrame = {
      val orphanAgg = l.join(o, l("l_orderkey") === o("o_orderkey"),
        "left_anti").agg(count(lit(1)).as("n_orphans"))
      o.agg(count(lit(1)).as("n_orders"))
        .crossJoin(l.agg(count(lit(1)).as("n_li"),
          sum(col("l_orderkey")).as("sum_li_keys")))
        .crossJoin(orphanAgg)
        .select(lit(label).as("snap"), col("n_orders"), col("n_li"),
          col("sum_li_keys"), col("n_orphans"))
    }
    audit("1_txn1", readTxn(s, root, "orders", Some(1)),
        readTxn(s, root, "lineitem", Some(1)))
      .unionByName(audit("2_txn2", readTxn(s, root, "orders", Some(2)),
        readTxn(s, root, "lineitem", Some(2))))
      .unionByName(audit("3_torn", readTxn(s, root, "orders", Some(2)),
        readTxn(s, root, "lineitem", Some(1))))
      .orderBy(col("snap"))
  }

  // ----------------------------------------------------- shallow clone

  /** SHALLOW CLONE (Delta `CLONE ... SHALLOW` / an Iceberg snapshot
    * ref): a new table whose LOG points at the source's data files —
    * zero bytes of data move. The clone root receives copies of the
    * source's commit MARKERS (metadata-sized) plus a `_clone_src`
    * sidecar pinning (srcRoot, srcVersion); reads of a cloned version
    * redirect through the sidecar, while NEW commits to the clone
    * claim versions above the pin and land locally — the source never
    * sees them, and source commits after the clone are not in the
    * clone's marker set, so isolation holds in both directions.
    * Standard shallow-clone caveat (same as Delta's): vacuuming the
    * SOURCE can expire data a clone still references — run clones on
    * vacuum-exempt sources or re-materialize before expiry. Returns
    * the pinned source version. */
  def cloneTable(srcRoot: String, cloneRoot: String): Int = {
    val vs = latestVersion(srcRoot)
    Files.createDirectories(Paths.get(cloneRoot))
    (0 to vs).foreach { v =>
      if (Files.exists(Paths.get(srcRoot, s"_commit_v$v"))) {
        // claim first, marker second — the same publish ordering as a
        // real commit, so a crash mid-clone leaves claimed-not-
        // committed versions (invisible), never a marker without its
        // claim.
        try Files.createFile(Paths.get(cloneRoot, s"_claim_v$v"))
        catch { case _: java.nio.file.FileAlreadyExistsException => () }
        Files.writeString(Paths.get(cloneRoot, s"_commit_v$v.tmp"),
          v.toString)
        Files.move(Paths.get(cloneRoot, s"_commit_v$v.tmp"),
          Paths.get(cloneRoot, s"_commit_v$v"),
          StandardCopyOption.ATOMIC_MOVE,
          StandardCopyOption.REPLACE_EXISTING)
      }
    }
    val tmp = Paths.get(cloneRoot, "_clone_src.tmp")
    Files.writeString(tmp, s"$srcRoot\n$vs")
    Files.move(tmp, Paths.get(cloneRoot, "_clone_src"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    vs
  }

  /** Version read that resolves through a `_clone_src` redirect: a
    * version with a LOCAL data directory (a post-clone commit, or a
    * non-clone table) reads locally; a cloned version at or below the
    * pin reads the source's directory. */
  def readCloneVersion(s: SparkSession, root: String,
      version: Option[Int] = None): DataFrame = {
    val v = version.getOrElse(latestVersion(root))
    if (Files.isDirectory(Paths.get(root, s"v=$v")))
      s.read.parquet(s"$root/v=$v")
    else {
      val sidecar = Paths.get(root, "_clone_src")
      require(Files.exists(sidecar),
        s"version $v has no data directory and $root is not a clone")
      val lines = Files.readAllLines(sidecar)
      val (src, pin) = (lines.get(0), lines.get(1).toInt)
      require(v <= pin,
        s"version $v is above the clone pin $pin but has no local data")
      s.read.parquet(s"$src/v=$v")
    }
  }

  /** K36: BRANCH + FAST-FORWARD MERGE under the gate — the Nessie /
    * LakeFS / Iceberg-branch development model on the snapshot log:
    * main and dev branch from v1; dev commits v2 (isolation: main
    * still reads v1 — required); main FAST-FORWARDS to dev (legal:
    * main's head is v2's parent); then exp and main commit
    * DIVERGENT snapshots (v3, v4 — both children of v2 in the
    * `_parent_v` DAG, interleaved in the one shared CAS version log)
    * and the exp→main merge must REFUSE (a fast-forward would
    * silently discard main's commit), leaving both heads untouched.
    * The emitted rollups are value-level: main must read the
    * {0,1,3}-mod order slice and exp the {0,1,2}-mod slice, DuckDB-
    * restated; the parent chains v3→v2→v1 and v4→v2→v1 and the
    * refusal are required in-plan as constant-true columns. */
  private val k36BranchMerge: Q = (s, dir) => {
    val root = Lake.scratchDir("k36")
    val o = Tables.load(s, dir, "orders").select(col("o_orderkey"),
      round(col("o_totalprice"), 2).as("price"))
    def mods(ms: Int*) = o.filter((col("o_orderkey") % 4)
      .isin(ms.map(Integer.valueOf): _*))
    require(commitVersion(mods(0), root) == 1)
    createBranch(root, "main", 1)
    createBranch(root, "dev", 1)
    require(commitToBranch(mods(0, 1), root, "dev") == 2)
    require(branchHead(root, "main") == 1,
      "branch isolation broken: a dev commit moved main")
    require(fastForwardMerge(root, "main", "dev") == 2 &&
      branchHead(root, "main") == 2, "fast-forward did not apply")
    createBranch(root, "exp", 2)
    require(commitToBranch(mods(0, 1, 2), root, "exp") == 3)
    require(commitToBranch(mods(0, 1, 3), root, "main") == 4)
    val refused =
      try { fastForwardMerge(root, "main", "exp"); false }
      catch { case _: IllegalArgumentException => true }
    require(branchHead(root, "main") == 4 && branchHead(root, "exp") == 3,
      "a refused merge must leave both heads untouched")
    val ancestryOk = parentChain(root, 3) == List(3, 2, 1) &&
      parentChain(root, 4) == List(4, 2, 1)
    def agg(df: DataFrame, label: String) = df.agg(
      count(lit(1)).as("n_rows"), sum(col("o_orderkey")).as("sum_keys"),
      round(sum(col("price")), 2).as("sum_price"))
      .select(lit(label).as("ref"), col("n_rows"), col("sum_keys"),
        col("sum_price"))
    agg(readBranch(s, root, "main"), "main")
      .unionByName(agg(readBranch(s, root, "exp"), "exp"))
      .select(col("ref"), col("n_rows"), col("sum_keys"),
        col("sum_price"), lit(refused).as("divergence_refused"),
        lit(ancestryOk).as("ancestry_ok"))
      .orderBy(col("ref"))
  }

  /** K33: SHALLOW CLONE under the gate — src commits v1 (even keys)
    * and v2 (price-adjusted full table); the clone pins v2 without
    * copying a byte; the clone then DIVERGES (v3 drops `%5 = 0` keys)
    * and the source independently commits its own v3 (odd keys).
    * Audited set-algebraically in one result: the clone's pinned v2
    * equals the source's v2 content, the clone's head is its divergent
    * write, the source's head is ITS OWN v3 (clone writes never leak
    * back), and the zero-copy row pins the physical layout — exactly
    * ONE local `v=` directory under the clone (its divergent commit),
    * exactly 3 commit markers, pin = 2. The oracle restates every
    * content row from `part` and the layout row as constants. */
  private val k33ShallowClone: Q = (s, dir) => {
    val src = Lake.scratchDir("k33src")
    val cl = Lake.scratchDir("k33cl")
    val part = Tables.load(s, dir, "part")
    val v2 = part.withColumn("p_retailprice",
      when(col("p_partkey") % 3 === 0,
        round(col("p_retailprice") + 10, 2))
        .otherwise(col("p_retailprice")))
    writeVersion(part.filter(col("p_partkey") % 2 === 0), src, 1)
    writeVersion(v2, src, 2)
    val pin = cloneTable(src, cl)
    require(pin == 2, s"clone pinned $pin, expected 2")
    writeVersion(readCloneVersion(s, cl)
      .filter(col("p_partkey") % 5 =!= 0), cl, 3)
    writeVersion(part.filter(col("p_partkey") % 2 =!= 0), src, 3)
    def agg(df: DataFrame, label: String) = df.agg(
      count(lit(1)).as("n"), sum(col("p_partkey")).as("sum_keys"),
      round(sum(col("p_retailprice")), 2).as("sum_price"))
      .select(lit(label).as("snap"), col("n"), col("sum_keys"),
        col("sum_price"))
    import scala.jdk.CollectionConverters._
    val ls = Files.list(Paths.get(cl))
    val names = try ls.iterator().asScala.map(_.getFileName.toString).toList
      finally ls.close()
    val zeroCopy = s.range(1).select(lit("4_zero_copy").as("snap"),
      lit(names.count(_.startsWith("v=")).toLong).as("n"),
      lit(names.count(n => n.startsWith("_commit_v") &&
        !n.endsWith(".tmp")).toLong).as("sum_keys"),
      lit(pin.toDouble).as("sum_price"))
    agg(readCloneVersion(s, cl, Some(2)), "1_clone_pin_v2")
      .unionByName(agg(readCloneVersion(s, cl), "2_clone_diverged"))
      .unionByName(agg(readVersion(s, src), "3_src_after"))
      .unionByName(zeroCopy)
      .orderBy(col("snap"))
  }

  /** K15: two snapshot writes, then BOTH a time-travel read of v1 and
    * a latest read of v2 in one result — the oracle reconstructs each
    * version set-algebraically, so reading the wrong version, a stale
    * manifest, or cross-version contamination all hash-fail. */
  private val k15Timetravel: Q = (s, dir) => {
    val root = Lake.scratchDir("k15")
    val part = Tables.load(s, dir, "part")
    writeVersion(part.filter(col("p_partkey") % 2 === 0), root, 1)
    writeVersion(part.withColumn("p_retailprice",
      when(col("p_partkey") % 3 === 0,
        round(col("p_retailprice") + 10, 2))
        .otherwise(col("p_retailprice"))), root, 2)
    def agg(df: DataFrame, label: String) = df.agg(
      count(lit(1)).as("n"), sum(col("p_partkey")).as("sum_keys"),
      round(sum(col("p_retailprice")), 2).as("sum_price"))
      .select(lit(label).as("snap"), col("n"), col("sum_keys"),
        col("sum_price"))
    agg(readVersion(s, root, Some(1)), "v1_travel")
      .unionByName(agg(readVersion(s, root), "v2_latest"))
      .orderBy(col("snap"))
  }

  // ------------------------------------------------ AS OF timestamp

  /** Record a LOGICAL commit timestamp for an AS OF index. Delta
    * resolves `TIMESTAMP AS OF` from commit-file mtimes — wall-clock,
    * unreproducible; a replayable pipeline records the event-time
    * watermark the commit covers instead, which is both deterministic
    * and the question readers actually ask ("the table as of end of
    * day X"). Timestamps must be strictly increasing across versions —
    * the Delta contract (it silently ADJUSTS non-monotonic mtimes;
    * refusing is the honest version). */
  def commitVersionAt(df: DataFrame, root: String, tsMicros: Long): Int = {
    val existing = versionTimestamps(root)
    require(existing.forall(_._2 < tsMicros),
      s"non-monotonic commit timestamp $tsMicros; existing $existing")
    val v = commitVersion(df, root)
    Files.writeString(Paths.get(root, s"_ts_v$v"), tsMicros.toString)
    v
  }

  /** (version, logical ts) for every timestamped COMMITTED version. */
  def versionTimestamps(root: String): Seq[(Int, Long)] = {
    val dir = Paths.get(root)
    if (!Files.isDirectory(dir)) return Nil
    import scala.jdk.CollectionConverters._
    val ls = Files.list(dir)
    try ls.iterator().asScala
      .map(_.getFileName.toString)
      .filter(_.startsWith("_ts_v"))
      .map(n => n.stripPrefix("_ts_v").toInt)
      .filter(v => Files.exists(Paths.get(root, s"_commit_v$v")))
      .map(v => v ->
        Files.readString(Paths.get(root, s"_ts_v$v")).trim.toLong)
      .toSeq.sortBy(_._1)
    finally ls.close()
  }

  /** The newest version whose recorded timestamp is ≤ `tsMicros` —
    * the `TIMESTAMP AS OF` resolution rule. Errors below the first
    * commit (Delta's behavior: there is no table state to show). */
  def versionAsOf(root: String, tsMicros: Long): Int = {
    val hits = versionTimestamps(root).filter(_._2 <= tsMicros)
    require(hits.nonEmpty,
      s"no version at or before ts $tsMicros in $root")
    hits.map(_._1).max
  }

  def readAsOf(s: SparkSession, root: String, tsMicros: Long): DataFrame =
    readVersion(s, root, Some(versionAsOf(root, tsMicros)))

  /** K35: TIMESTAMP AS OF time travel — three commits carrying logical
    * timestamps 1000/2000/3000; reads AS OF 2500 (between commits — the
    * newest ≤ rule), 2000 (exactly at — inclusive), and 9999 (after
    * all — the head). Rollups restated set-algebraically per slice. */
  private val k35TimetravelTs: Q = (s, dir) => {
    val root = Lake.scratchDir("k35")
    val part = Tables.load(s, dir, "part")
    require(commitVersionAt(
      part.filter(col("p_partkey") % 3 === 0), root, 1000L) == 1)
    require(commitVersionAt(
      part.filter(col("p_partkey") % 3 <= 1), root, 2000L) == 2)
    require(commitVersionAt(part, root, 3000L) == 3)
    def agg(df: DataFrame, label: String) = df.agg(
      count(lit(1)).as("n"), sum(col("p_partkey")).as("sum_keys"))
      .select(lit(label).as("slice"), col("n"), col("sum_keys"))
    agg(readAsOf(s, root, 2500L), "t2500_v2")
      .unionByName(agg(readAsOf(s, root, 2000L), "t2000_v2"))
      .unionByName(agg(readAsOf(s, root, 9999L), "t9999_v3"))
      .orderBy(col("slice"))
  }

  /** K16: right-to-be-forgotten cascade purge — the compliance delete
    * every lake must support: a subject list (customers with
    * c_custkey % 97 = 0 stands in for the real request queue) removes
    * the customers, THEIR orders, and those orders' lineitems — the
    * referential cascade done with broadcast-able anti-joins (subject
    * and removed-order key sets are request-sized, never fact-sized).
    * The audit artifact is per-table before/removed/after counts plus
    * a surviving-key checksum; the oracle reconstructs the cascade
    * set-algebraically, so an under-purge (orphan lineitems) or
    * over-purge both hash-fail. */
  private val k16Forget: Q = (s, dir) => {
    val subjects = Tables.load(s, dir, "customer")
      .filter(col("c_custkey") % 97 === 0).select(col("c_custkey"))
    val cust = Tables.load(s, dir, "customer")
    val orders = Tables.load(s, dir, "orders")
    val li = Tables.load(s, dir, "lineitem")
    val custKept = cust.join(broadcast(subjects), Seq("c_custkey"), "left_anti")
    val removedOrders = orders.join(broadcast(subjects),
      orders("o_custkey") === subjects("c_custkey"), "left_semi")
      .select(col("o_orderkey"))
    val ordersKept = orders.join(broadcast(subjects),
      orders("o_custkey") === subjects("c_custkey"), "left_anti")
    val liKept = li.join(broadcast(removedOrders),
      li("l_orderkey") === removedOrders("o_orderkey"), "left_anti")
    def audit(label: String, before: DataFrame, after: DataFrame,
        key: String) =
      before.agg(count(lit(1)).as("n_before")).crossJoin(
        after.agg(count(lit(1)).as("n_after"),
          sum(col(key)).as("sum_keys_after")))
        .select(lit(label).as("tbl"), col("n_before"),
          (col("n_before") - col("n_after")).as("n_removed"),
          col("n_after"), col("sum_keys_after"))
    audit("1_customer", cust, custKept, "c_custkey")
      .unionByName(audit("2_orders", orders, ordersKept, "o_orderkey"))
      .unionByName(audit("3_lineitem", li, liKept, "l_orderkey"))
      .orderBy(col("tbl"))
  }

  /** K20: SCD TYPE-2 MERGE through the concurrent commit log — the
    * slowly-changing-dimension upsert every warehouse dimension runs
    * (Kimball type 2: an attribute change CLOSES the current row with
    * an effective date and INSERTS a new current row; history is never
    * rewritten). v1 = the initial customer dimension committed via
    * [[commitVersion]] (the CAS path, exercising it under the oracle
    * gate); the update batch is request-sized (balance bump for
    * custkey % 7, brand-new keys for custkey % 997), so the changed-key
    * set BROADCASTS into the close-out semi/anti joins — per-merge cost
    * is O(|dim| + |batch|), never a history rewrite. v2 = the merged
    * dimension; the gate reads the LATEST version back, so a botched
    * commit (stale latest, lost snapshot) also fails. Open rows carry
    * a far-future 2199-12-31 sentinel (NULL-free hash parity; 9999
    * overflows the gate's nanosecond-timestamp compare layer). */
  private val k20Scd2: Q = (s, dir) => {
    val root = Lake.scratchDir("k20")
    val eff = to_date(lit("2024-06-01"))
    val open = to_date(lit("2199-12-31"))
    val cust = Tables.load(s, dir, "customer")
    val dim0 = cust.select(col("c_custkey").as("key"),
      col("c_name").as("name"), col("c_acctbal").as("bal"),
      to_date(lit("2024-01-01")).as("valid_from"), open.as("valid_to"),
      lit(true).as("is_current"))
    require(commitVersion(dim0, root) == 1)
    val upd = cust.filter(col("c_custkey") % 7 === 0)
      .select(col("c_custkey").as("key"), col("c_name").as("name"),
        round(col("c_acctbal") + 100, 2).as("bal"))
      .unionByName(cust.filter(col("c_custkey") % 997 === 0)
        .select((col("c_custkey") + 1000000L).as("key"),
          concat(lit("N_"), col("c_name")).as("name"),
          col("c_acctbal").as("bal")))
    val dim = readVersion(s, root, Some(1))
    // A no-op update (same value) must not spawn a version — only
    // genuinely changed keys close out.
    val changedKeys = dim.as("d").join(upd.as("u"), "key")
      .filter(col("d.bal") =!= col("u.bal")).select(col("key"))
    val closed = dim.join(broadcast(changedKeys), Seq("key"), "left_semi")
      .withColumn("valid_to", eff).withColumn("is_current", lit(false))
    val untouched = dim.join(broadcast(changedKeys), Seq("key"), "left_anti")
    val newCurrent = upd
      .join(broadcast(changedKeys), Seq("key"), "left_semi")
      .unionByName(upd.join(dim.select(col("key")), Seq("key"), "left_anti"))
      .select(col("key"), col("name"), col("bal"),
        eff.as("valid_from"), open.as("valid_to"),
        lit(true).as("is_current"))
    val merged = untouched.unionByName(closed).unionByName(newCurrent)
    require(commitVersion(merged, root) == 2)
    readVersion(s, root)
      .select(col("key"), col("name"), round(col("bal"), 2).as("bal"),
        col("valid_from"), col("valid_to"), col("is_current"))
      .orderBy(col("key"), col("valid_from"))
  }

  /** K21: PARTITION EVOLUTION — the Iceberg capability plain
    * partitioned parquet lacks: the table's partition scheme changes
    * over time WITHOUT rewriting history (Iceberg spec §partition-
    * evolution; Hive/plain layouts must rewrite everything or fork the
    * table). Through the commit log it falls out naturally: v1 holds
    * the ≤1997 history partitioned by year (the coarse layout it was
    * written with), v2 holds ≥1998 partitioned by (year, month) (the
    * finer layout adopted later), and the LOGICAL table is the union
    * of committed versions, each scan pruned under its OWN layout —
    * the 1996 read prunes year dirs, the 1999-March read prunes
    * year+month dirs (both plan-pinned in RelationalPlanSpec). The
    * oracle restates both slices from the raw table, so losing rows at
    * the layout boundary or cross-slice contamination hash-fails. */
  private val k21PartitionEvolution: Q = (s, dir) => {
    val root = Lake.scratchDir("k21")
    val o = Tables.load(s, dir, "orders").select(
      col("o_orderkey"), col("o_totalprice"),
      year(col("o_orderdate")).as("oy"), month(col("o_orderdate")).as("om"))
    require(commitVersionWith(root)(p =>
      o.filter(col("oy") <= 1997).drop("om")
        .write.partitionBy("oy").parquet(p)) == 1)
    require(commitVersionWith(root)(p =>
      o.filter(col("oy") >= 1998)
        .write.partitionBy("oy", "om").parquet(p)) == 2)
    def slice(df: DataFrame, label: String) =
      df.agg(count(lit(1)).as("n_orders"),
        sum(col("o_orderkey")).as("sum_keys"),
        round(sum(col("o_totalprice")), 2).as("sum_price"))
        .select(lit(label).as("slice"), col("n_orders"), col("sum_keys"),
          col("sum_price"))
    slice(readVersion(s, root, Some(1)).filter(col("oy") === 1996),
        "v1_y1996")
      .unionByName(slice(readVersion(s, root, Some(2))
        .filter(col("oy") === 1999 && col("om") === 3), "v2_1999_03"))
      .orderBy(col("slice"))
  }

  /** The two evolution-read scans, exposed for the plan-pinning spec
    * (each must prune under its own layout). */
  private[graft] def k21Scans(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val root = Lake.scratchDir("k21s")
    val o = Tables.load(s, dir, "orders").select(
      col("o_orderkey"), col("o_totalprice"),
      year(col("o_orderdate")).as("oy"), month(col("o_orderdate")).as("om"))
    commitVersionWith(root)(p =>
      o.filter(col("oy") <= 1997).drop("om")
        .write.partitionBy("oy").parquet(p))
    commitVersionWith(root)(p =>
      o.filter(col("oy") >= 1998)
        .write.partitionBy("oy", "om").parquet(p))
    (readVersion(s, root, Some(1)).filter(col("oy") === 1996),
      readVersion(s, root, Some(2))
        .filter(col("oy") === 1999 && col("om") === 3))
  }

  /** K23: snapshot VACUUM under the gate — three committed versions
    * (orders split by order-year), retention 2, so v1 expires: its
    * marker, data directory and claim must be GONE (required in-plan),
    * `latestVersion` must still resolve to 3, and a time-travel read
    * of the expired v1 must fail fast (required via Try). The result
    * reads the two SURVIVING versions; the oracle restates both
    * year-slices from the raw table, so vacuum eating a retained
    * version (or leaving v1 readable) fails the gate. */
  private val k23Vacuum: Q = (s, dir) => {
    val root = Lake.scratchDir("k23")
    val o = Tables.load(s, dir, "orders").select(
      col("o_orderkey"), col("o_totalprice"),
      year(col("o_orderdate")).as("oy"))
    require(commitVersion(o.filter(col("oy") <= 1994), root) == 1)
    require(commitVersion(o.filter(col("oy").between(1995, 1996)), root) == 2)
    require(commitVersion(o.filter(col("oy") >= 1997), root) == 3)
    require(vacuum(root, retain = 2) == Seq(1), "expected exactly v1 expired")
    require(!Files.exists(Paths.get(root, "_commit_v1")) &&
      !Files.exists(Paths.get(root, "v=1")) &&
      !Files.exists(Paths.get(root, "_claim_v1")), "v1 not fully expired")
    require(latestVersion(root) == 3, "vacuum moved the latest version")
    require(scala.util.Try(
        readVersion(s, root, Some(1)).collect()).isFailure,
      "expired v1 is still readable")
    def slice(v: Int, label: String) =
      readVersion(s, root, Some(v))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_orderkey")).as("sum_keys"),
          round(sum(col("o_totalprice")), 2).as("sum_price"))
        .select(lit(label).as("slice"), col("n_orders"), col("sum_keys"),
          col("sum_price"))
    slice(2, "v2_1995_96").unionByName(slice(3, "v3_1997up"))
      .orderBy(col("slice"))
  }

  /** RESTORE: roll the table back to `toVersion` by committing a NEW
    * version with that content — Delta `RESTORE TABLE … TO VERSION AS
    * OF n` semantics: history is never rewritten, the bad version
    * stays readable for audit, and the restore itself is an ordinary
    * auditable commit (so it composes with vacuum retention and the
    * change feed). The content restored is the version's LOGICAL rows —
    * [[readWithDeletes]], so a source version carrying a `_dv_v<n>`
    * deletion-vector sidecar restores WITHOUT the deleted rows (and the
    * restore doubles as DV compaction: the new version is sidecar-free).
    * Cost here is one version copy-write — the honest full-copy
    * tradeoff k15 documents; a manifest-of-files layout would make the
    * same operation metadata-only. */
  def restore(s: SparkSession, root: String, toVersion: Int): Int =
    commitVersionWith(root)(p =>
      Lake.writeParquet(readWithDeletes(s, root, toVersion), p))

  // ------------------------------------- merge-on-read position deletes

  /** DELETE as a deletion vector (Iceberg v2 position deletes / Delta
    * deletion vectors): one scan of the immutable base version finds
    * matching rows and records their PHYSICAL POSITIONS — Spark's
    * parquet `_metadata.file_path` + `_metadata.row_index` — in a
    * deletes-sized sidecar under `_dv_v<n>/`. The base parquet is
    * never rewritten: a delete costs O(scan) + O(matches) written,
    * not a table rewrite (the copy-on-write alternative k14 does).
    * Repeated/overlapping delete batches append; the read side
    * de-duplicates positions. Returns the number of DISTINCT deleted
    * positions on record (a replayed batch leaves the count unchanged).
    */
  def deleteWhere(s: SparkSession, root: String, v: Int,
      pred: org.apache.spark.sql.Column): Long = {
    val base = s.read.parquet(s"$root/v=$v")
    val hits = base.filter(pred).select(
      col("_metadata.file_path").as("file_path"),
      col("_metadata.row_index").as("row_index"))
    hits.write.mode("append").parquet(s"$root/_dv_v$v")
    s.read.parquet(s"$root/_dv_v$v").distinct().count()
  }

  /** MERGE-ON-READ: the base version scan minus its deletion vectors,
    * applied as a distinct (file, row_index) LEFT ANTI join. The DV
    * side is deletes-sized and BROADCASTS — a broadcast hash anti-join
    * IS map-side filtering, the same dataflow as Iceberg's per-file
    * positional bitmaps; only a deletes-fraction approaching the table
    * itself would want the shuffle anti-join (at which point compaction
    * back into a rewritten version — [[restore]]-style — is due). */
  def readWithDeletes(s: SparkSession, root: String, v: Int): DataFrame = {
    val base = s.read.parquet(s"$root/v=$v")
      .withColumn("__file", col("_metadata.file_path"))
      .withColumn("__pos", col("_metadata.row_index"))
    val dvDir = Paths.get(root, s"_dv_v$v")
    val out =
      if (!Files.isDirectory(dvDir)) base
      else {
        val dv = s.read.parquet(dvDir.toString).distinct()
        base.join(broadcast(dv),
          base("__file") === dv("file_path") &&
            base("__pos") === dv("row_index"), "left_anti")
      }
    out.drop("__file", "__pos")
  }

  /** K25: RESTORE under the gate — v1 = the good orders slice, v2 = a
    * bad deploy (drops a fifth of the rows, corrupts a third of the
    * prices), restore(v1) commits v3. The gate reads the LATEST
    * version (must equal v1's content — a restore that rewrites
    * history or misses the manifest hash-fails) AND v2 (the audit
    * trail must survive the restore). */
  private val k25Restore: Q = (s, dir) => {
    val root = Lake.scratchDir("k25")
    val o = Tables.load(s, dir, "orders").select(
      col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
    require(commitVersion(o, root) == 1)
    require(commitVersion(
      o.filter(col("o_orderkey") % 5 =!= 0)
        .select(col("o_orderkey"),
          when(col("o_orderkey") % 3 === 0,
            round(col("o_totalprice") + 1000.0, 2))
            .otherwise(col("o_totalprice")).as("o_totalprice"),
          col("o_orderstatus")), root) == 2)
    require(restore(s, root, toVersion = 1) == 3)
    require(latestVersion(root) == 3, "restore did not advance the log")
    def agg(df: DataFrame, label: String) = df.agg(
      count(lit(1)).as("n_orders"), sum(col("o_orderkey")).as("sum_keys"),
      round(sum(col("o_totalprice")), 2).as("sum_price"))
      .select(lit(label).as("snap"), col("n_orders"), col("sum_keys"),
        col("sum_price"))
    agg(readVersion(s, root), "v3_restored")
      .unionByName(agg(readVersion(s, root, Some(2)), "v2_bad"))
      .orderBy(col("snap"))
  }

  /** K26: deletion-vector deletes under the gate — lineitem committed
    * once as an 8-file base version, then two OVERLAPPING delete
    * batches and an exact REPLAY of the first (idempotence) touch only
    * the `_dv_v1/` sidecar: the base directory's file listing is
    * required byte-identical before/after, so any base rewrite fails
    * loudly. The merge-on-read scan must equal the predicate
    * restatement over the raw table — a position applied to the wrong
    * file, a double-counted overlap, or a replayed batch deleting
    * extra rows all hash-fail. */
  private val k26DeletionVectors: Q = (s, dir) => {
    val root = Lake.scratchDir("k26")
    val li = Tables.load(s, dir, "lineitem").select(
      col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
      col("l_extendedprice"), col("l_discount"), col("l_returnflag"))
    require(commitVersionWith(root)(p =>
      li.repartition(8).write.parquet(p)) == 1)
    def baseListing(): Seq[(String, Long)] = {
      import scala.jdk.CollectionConverters._
      val ls = Files.list(Paths.get(root, "v=1"))
      try ls.iterator().asScala.map(p =>
        (p.getFileName.toString, Files.size(p))).toList.sortBy(_._1)
      finally ls.close()
    }
    val before = baseListing()
    val d1 = col("l_returnflag") === "R" && col("l_quantity") >= 45
    val d2 = col("l_discount") >= 0.09 // overlaps d1
    deleteWhere(s, root, 1, d1)
    deleteWhere(s, root, 1, d2)
    deleteWhere(s, root, 1, d1) // replayed batch: must be a no-op
    require(baseListing() == before, "delete rewrote the base version")
    readWithDeletes(s, root, 1).agg(
      count(lit(1)).as("n_rows"),
      sum(col("l_orderkey")).as("sum_keys"),
      round(sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount")),
        4)), 2).as("sum_revenue"))
  }

  /** K27: write-audit-publish under the gate — three batches through
    * [[commitAudited]] with a [[Validate]] suite (complete custkey,
    * unique orderkey, prices in range): a clean initial slice publishes
    * v1; a poisoned batch (planted NULL custkeys, duplicated keys,
    * negated prices — each tripping a different check) is REJECTED with
    * the table still reading v1 and version 2 burned; the clean full
    * table then publishes as v3. The gate reads v1 AND the latest
    * version — a rejected batch that leaked into readers, a lost
    * initial version, or a publish that skipped the audit all
    * hash-fail; the requires pin the protocol (reject reason names all
    * three checks, latest unmoved across the reject, burned number). */
  private val k27Wap: Q = (s, dir) => {
    val root = Lake.scratchDir("k27")
    val o = Tables.load(s, dir, "orders").select(
      col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
      col("o_orderstatus"))
    val checks = Seq(
      Validate.Check("complete_custkey",
        Validate.completeness("o_custkey"), _ === 1.0),
      Validate.Check("unique_orderkey",
        Validate.uniqueness(Seq("o_orderkey")), _ === 1.0),
      Validate.Check("range_price",
        Validate.inRange("o_totalprice", 0.0, 1e9), _ === 1.0))
    def wap(df: DataFrame) = commitAudited(s, root)(
      p => Lake.writeParquet(df, p))(validateAudit(checks))
    require(wap(o.filter(col("o_orderkey") % 3 === 0)) == Right(1))
    val poisoned = o
      .withColumn("o_custkey",
        when(col("o_orderkey") % 11 === 0, lit(null)).otherwise(col("o_custkey")))
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 13 === 0, -col("o_totalprice"))
          .otherwise(col("o_totalprice")))
      .unionByName(o.filter(col("o_orderkey") % 7 === 0))
    wap(poisoned) match {
      case Left(reason) =>
        require(Set("complete_custkey", "unique_orderkey", "range_price")
          .subsetOf(reason.split(",").toSet), s"partial audit: $reason")
      case Right(v) => sys.error(s"poisoned batch published as v$v")
    }
    require(latestVersion(root) == 1, "reject moved the table")
    require(wap(o) == Right(3), "rejected claim was not burned")
    def agg(df: DataFrame, label: String) = df.agg(
      count(lit(1)).as("n_orders"), sum(col("o_orderkey")).as("sum_keys"),
      round(sum(col("o_totalprice")), 2).as("sum_price"))
      .select(lit(label).as("snap"), col("n_orders"), col("sum_keys"),
        col("sum_price"))
    agg(readVersion(s, root, Some(1)), "v1_initial")
      .unionByName(agg(readVersion(s, root), "v3_published"))
      .orderBy(col("snap"))
  }

  /** K28: snapshot tags under the gate — v1 (the full customer dim) is
    * tagged `train_corpus_v1`, two more versions land (a filtered v2, a
    * 5%-repriced v3), and `vacuum(retain = 1)` must expire EXACTLY v2:
    * the tag pins v1 past the retention window (Iceberg's
    * expire-respects-refs rule) and v3 is the latest. The gate reads
    * BOTH the tag and the latest — a vacuum that eats the tagged
    * version, a tag resolving to the wrong version, or a lost v3 all
    * fail (the first one loudly at read, the rest by hash). */
  private val k28SnapshotTags: Q = (s, dir) => {
    val root = Lake.scratchDir("k28")
    val c = Tables.load(s, dir, "customer")
      .select(col("c_custkey"), col("c_acctbal"))
    require(commitVersion(c, root) == 1)
    tag(root, "train_corpus_v1", 1)
    require(commitVersion(c.filter(col("c_custkey") % 10 =!= 0), root) == 2)
    require(commitVersion(c.select(col("c_custkey"),
      round(col("c_acctbal") * 1.05, 4).as("c_acctbal")), root) == 3)
    val expired = vacuum(root, retain = 1)
    require(expired == Seq(2),
      s"vacuum expired $expired, want Seq(2) — the tag must pin v1")
    def agg(df: DataFrame, label: String) = df.agg(
      count(lit(1)).as("n_rows"), sum(col("c_custkey")).as("sum_keys"),
      round(sum(col("c_acctbal")), 2).as("sum_bal"))
      .select(lit(label).as("snap"), col("n_rows"), col("sum_keys"),
        col("sum_bal"))
    agg(readTag(s, root, "train_corpus_v1"), "tagged_v1")
      .unionByName(agg(readVersion(s, root), "v3_latest"))
      .orderBy(col("snap"))
  }

  /** Row-level diff between two committed versions — the Delta
    * CHANGE DATA FEED / `table_changes()` read surface on the snapshot
    * log: one keyed full-outer join of the two immutable version
    * directories classifies every key as inserted (new only), deleted
    * (old only), or updated (both, any tracked column differs);
    * unchanged rows drop out. Cost is one co-partitioned join of two
    * version scans — never a log replay — and the keyed-diff shape is
    * exactly how downstream incremental consumers (k18's IVM, ev24's
    * CDC apply) would be fed from snapshots. */
  def snapshotDiff(s: SparkSession, root: String, v1: Int, v2: Int,
      keyCols: Seq[String], cmpCols: Seq[String]): DataFrame =
    diffFrames(readVersion(s, root, Some(v1)),
      readVersion(s, root, Some(v2)), keyCols, cmpCols)

  /** [[snapshotDiff]] over caller-supplied reads of the two versions —
    * what lets the change feed run ACROSS a schema-evolution boundary
    * (k29 feeds it two [[readVersionUnified]] scans). */
  def diffFrames(oldDf: DataFrame, newDf: DataFrame,
      keyCols: Seq[String], cmpCols: Seq[String]): DataFrame = {
    val o = oldDf.as("o")
    val n = newDf.as("n")
    val joined = o.join(n, keyCols.map(k => o(k) === n(k)).reduce(_ && _),
      "full_outer")
    val oKey = o(keyCols.head); val nKey = n(keyCols.head)
    val changed = cmpCols.map(c => o(c) =!= n(c)).reduce(_ || _)
    val cols = Seq(
      coalesce(oKey, nKey).as(keyCols.head),
      when(oKey.isNull, lit("insert"))
        .when(nKey.isNull, lit("delete"))
        .when(changed, lit("update"))
        .otherwise(lit("same")).as("change")) ++
      cmpCols.map(c => n(c).as(s"new_$c")) ++
      cmpCols.map(c => o(c).as(s"old_$c"))
    joined.select(cols: _*).filter(col("change") =!= "same")
  }

  /** K24: change feed between two snapshots under the gate — v1 is a
    * customer slice, v2 drops a third of it (deletes), rewrites the
    * balance on another third (updates), and adds new keys (inserts);
    * the diff must classify every key exactly; the oracle restates
    * the three classes set-algebraically from the raw table. */
  private val k24SnapshotDiff: Q = (s, dir) => {
    val root = Lake.scratchDir("k24")
    val c = Tables.load(s, dir, "customer").select(
      col("c_custkey"), round(col("c_acctbal"), 2).as("bal"))
    // v1: customers with key % 4 in {0,1,2}; v2: drop %4==0, bump the
    // balance of %4==1, keep %4==2 unchanged, add %4==3.
    require(commitVersion(c.filter(col("c_custkey") % 4 <= 2), root) == 1)
    require(commitVersion(
      c.filter(col("c_custkey") % 4 >= 1)
        .select(col("c_custkey"),
          when(col("c_custkey") % 4 === 1, round(col("bal") + 100.0, 2))
            .otherwise(col("bal")).as("bal")), root) == 2)
    snapshotDiff(s, root, 1, 2, Seq("c_custkey"), Seq("bal"))
      .orderBy(col("c_custkey"))
  }

  /** K29: SCHEMA EVOLUTION through the CAS commit log — the Iceberg
    * name-mapping capability (the snapshot-layer analog of the
    * crawler's schema-change handling, `stacks/demo_stack.py:130-187`;
    * s14/s15 cover plain prefixes, this covers the versioned log). v1
    * commits (c_custkey, c_name, c_acctbal); v2 commits through
    * [[commitEvolvedWith]] RENAMING c_acctbal → bal and ADDING
    * segment, while also deleting (key % 10 = 0), repricing
    * (key % 10 = 1, +50), and inserting new keys (key % 100 = 0 →
    * key + 10⁶). BOTH versions then read under ONE unified schema —
    * v1's `bal` resolves through the mapping to its physical
    * c_acctbal, its `segment` is typed NULL, no v1 byte rewritten —
    * and the k24 CHANGE FEED runs ACROSS the evolution boundary on the
    * two unified reads. The oracle restates all five result rows
    * set-algebraically from the raw table: a mapping miss (bal
    * reading NULL for v1), a feed misclassification at the boundary,
    * or cross-version contamination all hash-fail. */
  private val k29SchemaEvolution: Q = (s, dir) => {
    val root = Lake.scratchDir("k29")
    val c = Tables.load(s, dir, "customer")
    require(commitVersion(c.select(col("c_custkey"), col("c_name"),
      round(col("c_acctbal"), 2).as("c_acctbal")), root) == 1)
    val v2 = c.filter(col("c_custkey") % 10 =!= 0)
      .select(col("c_custkey"), col("c_name"),
        when(col("c_custkey") % 10 === 1, round(col("c_acctbal") + 50.0, 2))
          .otherwise(round(col("c_acctbal"), 2)).as("bal"),
        col("c_mktsegment").as("segment"))
      .unionByName(c.filter(col("c_custkey") % 100 === 0)
        .select((col("c_custkey") + 1000000L).as("c_custkey"), col("c_name"),
          round(col("c_acctbal"), 2).as("bal"),
          col("c_mktsegment").as("segment")))
    require(commitEvolvedWith(root, Map("bal" -> "c_acctbal"))(p =>
      Lake.writeParquet(v2, p)) == 2)
    val u1 = readVersionUnified(s, root, 1)
    val u2 = readVersionUnified(s, root, 2)
    def snap(df: DataFrame, label: String) = df.agg(
      count(lit(1)).as("n"), sum(col("c_custkey")).as("sum_keys"),
      round(sum(col("bal")), 2).as("sum_bal"),
      count(col("segment")).as("n_seg"))
      .select(lit(label).as("snap"), col("n"), col("sum_keys"),
        col("sum_bal"), col("n_seg"))
    val feed = diffFrames(u1, u2, Seq("c_custkey"), Seq("bal"))
    def cls(change: String, label: String) =
      feed.filter(col("change") === change).agg(
        count(lit(1)).as("n"), sum(col("c_custkey")).as("sum_keys"),
        round(sum(coalesce(col("new_bal"), col("old_bal"))), 2)
          .as("sum_bal"),
        lit(0L).as("n_seg"))
        .select(lit(label).as("snap"), col("n"), col("sum_keys"),
          col("sum_bal"), col("n_seg"))
    snap(u1, "1_v1_unified")
      .unionByName(snap(u2, "2_latest_unified"))
      .unionByName(cls("delete", "3_feed_delete"))
      .unionByName(cls("update", "4_feed_update"))
      .unionByName(cls("insert", "5_feed_insert"))
      .orderBy(col("snap"))
  }

  val queries: Map[String, Q] = Map(
    "k33_shallow_clone" -> k33ShallowClone,
    "k36_branch_merge" -> k36BranchMerge,
    "k29_schema_evolution" -> k29SchemaEvolution,
    "k30_compact" -> k30Compact,
    "k32_multi_table_txn" -> k32MultiTableTxn,
    "k24_snapshot_diff" -> k24SnapshotDiff,
    "k25_restore" -> k25Restore,
    "k26_deletion_vectors" -> k26DeletionVectors,
    "k27_wap" -> k27Wap,
    "k28_snapshot_tags" -> k28SnapshotTags,
    "k15_timetravel" -> k15Timetravel,
    "k35_timetravel_ts" -> k35TimetravelTs,
    "k16_forget" -> k16Forget,
    "k20_scd2" -> k20Scd2,
    "k21_partition_evolution" -> k21PartitionEvolution,
    "k23_vacuum" -> k23Vacuum,
  )

  val oracles: Map[String, String] = Map(
    // Each txn's pair restated from the raw tables; consistency ⇒
    // orphans 0 within a txn; the torn pair's orphans = lineitem keys
    // in txn1's orders predicate but not txn2's (RI holds in testdata).
    // Content rows restated from `part`; the zero-copy layout row is
    // the pinned physical contract (1 local dir, 3 markers, pin 2).
    // Branch rollups restated from the order slices each snapshot
    // committed; the merge-refusal and ancestry gates are structural
    // requires in-plan (constant-true columns here).
    "k36_branch_merge" ->
      """WITH o AS (
        |  SELECT o_orderkey, round(o_totalprice, 2) AS price
        |  FROM orders),
        |m AS (
        |  SELECT 'exp' AS ref, count(*)::BIGINT AS n_rows,
        |    sum(o_orderkey)::BIGINT AS sum_keys,
        |    round(sum(price), 2) AS sum_price
        |  FROM o WHERE o_orderkey % 4 IN (0, 1, 2)
        |  UNION ALL
        |  SELECT 'main', count(*)::BIGINT, sum(o_orderkey)::BIGINT,
        |    round(sum(price), 2)
        |  FROM o WHERE o_orderkey % 4 IN (0, 1, 3))
        |SELECT ref, n_rows, sum_keys, sum_price,
        |  true AS divergence_refused, true AS ancestry_ok
        |FROM m ORDER BY ref""".stripMargin,
    "k33_shallow_clone" ->
      """SELECT * FROM (
        |  SELECT '1_clone_pin_v2' AS snap, count(*)::BIGINT AS n,
        |    sum(p_partkey)::BIGINT AS sum_keys,
        |    round(sum(CASE WHEN p_partkey % 3 = 0
        |                   THEN round(p_retailprice + 10, 2)
        |                   ELSE p_retailprice END), 2) AS sum_price
        |  FROM part
        |  UNION ALL
        |  SELECT '2_clone_diverged', count(*)::BIGINT,
        |    sum(p_partkey)::BIGINT,
        |    round(sum(CASE WHEN p_partkey % 3 = 0
        |                   THEN round(p_retailprice + 10, 2)
        |                   ELSE p_retailprice END), 2)
        |  FROM part WHERE p_partkey % 5 <> 0
        |  UNION ALL
        |  SELECT '3_src_after', count(*)::BIGINT, sum(p_partkey)::BIGINT,
        |    round(sum(p_retailprice), 2)
        |  FROM part WHERE p_partkey % 2 <> 0
        |  UNION ALL
        |  SELECT '4_zero_copy', 1::BIGINT, 3::BIGINT, 2.0::DOUBLE
        |) ORDER BY snap""".stripMargin,
    "k32_multi_table_txn" ->
      """SELECT * FROM (
        |  SELECT '1_txn1' AS snap,
        |    (SELECT count(*) FROM orders
        |     WHERE o_orderkey % 2 = 0)::BIGINT AS n_orders,
        |    count(*)::BIGINT AS n_li,
        |    sum(l_orderkey)::BIGINT AS sum_li_keys, 0::BIGINT AS n_orphans
        |  FROM lineitem WHERE l_orderkey % 2 = 0
        |  UNION ALL
        |  SELECT '2_txn2',
        |    (SELECT count(*) FROM orders
        |     WHERE o_orderkey % 3 = 0)::BIGINT,
        |    count(*)::BIGINT, sum(l_orderkey)::BIGINT, 0::BIGINT
        |  FROM lineitem WHERE l_orderkey % 3 = 0
        |  UNION ALL
        |  SELECT '3_torn',
        |    (SELECT count(*) FROM orders
        |     WHERE o_orderkey % 3 = 0)::BIGINT,
        |    count(*)::BIGINT, sum(l_orderkey)::BIGINT,
        |    (count(*) FILTER (WHERE l_orderkey % 3 <> 0))::BIGINT
        |  FROM lineitem WHERE l_orderkey % 2 = 0
        |) ORDER BY snap""".stripMargin,
    // v2 and v1-logical = the delete's complement; v1-raw = everything.
    "k30_compact" ->
      """SELECT * FROM (
        |  SELECT '1_v2_compacted' AS snap, count(*)::BIGINT AS n_rows,
        |    sum(l_orderkey)::BIGINT AS sum_keys,
        |    round(sum(l_extendedprice), 2) AS sum_price
        |  FROM lineitem WHERE NOT (l_quantity >= 45)
        |  UNION ALL
        |  SELECT '2_v1_logical', count(*)::BIGINT, sum(l_orderkey)::BIGINT,
        |    round(sum(l_extendedprice), 2)
        |  FROM lineitem WHERE NOT (l_quantity >= 45)
        |  UNION ALL
        |  SELECT '3_v1_raw', count(*)::BIGINT, sum(l_orderkey)::BIGINT,
        |    round(sum(l_extendedprice), 2)
        |  FROM lineitem
        |) ORDER BY snap""".stripMargin,
    // All five rows restated set-algebraically from the raw table:
    // unified v1 (bal ← c_acctbal, segment NULL ⇒ n_seg 0), unified
    // latest, and the three change-feed classes across the boundary.
    "k29_schema_evolution" ->
      """WITH c AS (
        |  SELECT c_custkey, round(c_acctbal, 2) AS bal0, c_mktsegment
        |  FROM customer),
        |v2 AS (
        |  SELECT c_custkey,
        |    CASE WHEN c_custkey % 10 = 1 THEN round(bal0 + 50.0, 2)
        |         ELSE bal0 END AS bal,
        |    c_mktsegment AS segment
        |  FROM c WHERE c_custkey % 10 <> 0
        |  UNION ALL
        |  SELECT c_custkey + 1000000, bal0, c_mktsegment
        |  FROM c WHERE c_custkey % 100 = 0)
        |SELECT * FROM (
        |  SELECT '1_v1_unified' AS snap, count(*)::BIGINT AS n,
        |    sum(c_custkey)::BIGINT AS sum_keys,
        |    round(sum(bal0), 2) AS sum_bal, 0::BIGINT AS n_seg
        |  FROM c
        |  UNION ALL
        |  SELECT '2_latest_unified', count(*)::BIGINT,
        |    sum(c_custkey)::BIGINT, round(sum(bal), 2),
        |    count(segment)::BIGINT
        |  FROM v2
        |  UNION ALL
        |  SELECT '3_feed_delete', count(*)::BIGINT,
        |    sum(c_custkey)::BIGINT, round(sum(bal0), 2), 0::BIGINT
        |  FROM c WHERE c_custkey % 10 = 0
        |  UNION ALL
        |  SELECT '4_feed_update', count(*)::BIGINT,
        |    sum(c_custkey)::BIGINT, round(sum(round(bal0 + 50.0, 2)), 2),
        |    0::BIGINT
        |  FROM c WHERE c_custkey % 10 = 1
        |  UNION ALL
        |  SELECT '5_feed_insert', count(*)::BIGINT,
        |    sum(c_custkey + 1000000)::BIGINT, round(sum(bal0), 2),
        |    0::BIGINT
        |  FROM c WHERE c_custkey % 100 = 0
        |) ORDER BY snap""".stripMargin,
    // Set-algebraic restatement of the three change classes; the
    // unchanged (%4 == 2) slice must be absent.
    "k24_snapshot_diff" ->
      """WITH c AS (
        |  SELECT c_custkey, round(c_acctbal, 2) AS bal FROM customer)
        |SELECT c_custkey, 'insert' AS change,
        |  bal AS new_bal, NULL::DOUBLE AS old_bal
        |FROM c WHERE c_custkey % 4 = 3
        |UNION ALL
        |SELECT c_custkey, 'delete', NULL::DOUBLE, bal
        |FROM c WHERE c_custkey % 4 = 0
        |UNION ALL
        |SELECT c_custkey, 'update', round(bal + 100.0, 2), bal
        |FROM c WHERE c_custkey % 4 = 1
        |ORDER BY c_custkey""".stripMargin,
    // v3 must equal the ORIGINAL table (the restore target), v2 the
    // corrupted deploy — both restated from the raw table.
    "k25_restore" ->
      """SELECT * FROM (
        |  SELECT 'v2_bad' AS snap, count(*)::BIGINT AS n_orders,
        |    sum(o_orderkey)::BIGINT AS sum_keys,
        |    round(sum(CASE WHEN o_orderkey % 3 = 0
        |                   THEN round(o_totalprice + 1000.0, 2)
        |                   ELSE o_totalprice END), 2) AS sum_price
        |  FROM orders WHERE o_orderkey % 5 <> 0
        |  UNION ALL
        |  SELECT 'v3_restored', count(*)::BIGINT, sum(o_orderkey)::BIGINT,
        |    round(sum(o_totalprice), 2)
        |  FROM orders
        |) ORDER BY snap""".stripMargin,
    // tag = the untouched v1 dim, latest = the repriced v3 — both
    // restated from the raw table (per-row rounding, parity rule).
    "k28_snapshot_tags" ->
      """SELECT * FROM (
        |  SELECT 'tagged_v1' AS snap, count(*)::BIGINT AS n_rows,
        |    sum(c_custkey)::BIGINT AS sum_keys,
        |    round(sum(c_acctbal), 2) AS sum_bal
        |  FROM customer
        |  UNION ALL
        |  SELECT 'v3_latest', count(*)::BIGINT, sum(c_custkey)::BIGINT,
        |    round(sum(round(c_acctbal * 1.05, 4)), 2)
        |  FROM customer
        |) ORDER BY snap""".stripMargin,
    // v1 = the initial slice, latest = the full clean table — the
    // poisoned batch must be invisible to both reads.
    "k27_wap" ->
      """SELECT * FROM (
        |  SELECT 'v1_initial' AS snap, count(*)::BIGINT AS n_orders,
        |    sum(o_orderkey)::BIGINT AS sum_keys,
        |    round(sum(o_totalprice), 2) AS sum_price
        |  FROM orders WHERE o_orderkey % 3 = 0
        |  UNION ALL
        |  SELECT 'v3_published', count(*)::BIGINT, sum(o_orderkey)::BIGINT,
        |    round(sum(o_totalprice), 2)
        |  FROM orders
        |) ORDER BY snap""".stripMargin,
    // The merge-on-read scan restated as the predicate complement over
    // the raw table (positions are physical; semantics are row-level).
    "k26_deletion_vectors" ->
      """SELECT count(*)::BIGINT AS n_rows,
        |  sum(l_orderkey)::BIGINT AS sum_keys,
        |  round(sum(round(l_extendedprice * (1.0 - l_discount), 4)), 2)
        |    AS sum_revenue
        |FROM lineitem
        |WHERE NOT (l_returnflag = 'R' AND l_quantity >= 45)
        |  AND NOT (l_discount >= 0.09)""".stripMargin,
    // The two SURVIVING slices restated from the raw table — vacuum
    // must be invisible to every retained version's read.
    "k23_vacuum" ->
      """SELECT 'v2_1995_96' AS slice, count(*)::BIGINT AS n_orders,
        |  sum(o_orderkey)::BIGINT AS sum_keys,
        |  round(sum(o_totalprice), 2) AS sum_price
        |FROM orders
        |WHERE date_part('year', o_orderdate) BETWEEN 1995 AND 1996
        |UNION ALL
        |SELECT 'v3_1997up', count(*)::BIGINT,
        |  sum(o_orderkey)::BIGINT, round(sum(o_totalprice), 2)
        |FROM orders WHERE date_part('year', o_orderdate) >= 1997
        |ORDER BY slice""".stripMargin,
    // Both evolution slices restated from the raw table: the layout
    // change must be invisible to the logical read.
    "k21_partition_evolution" ->
      """SELECT 'v1_y1996' AS slice, count(*)::BIGINT AS n_orders,
        |  sum(o_orderkey)::BIGINT AS sum_keys,
        |  round(sum(o_totalprice), 2) AS sum_price
        |FROM orders WHERE date_part('year', o_orderdate) = 1996
        |UNION ALL
        |SELECT 'v2_1999_03', count(*)::BIGINT,
        |  sum(o_orderkey)::BIGINT, round(sum(o_totalprice), 2)
        |FROM orders WHERE date_part('year', o_orderdate) = 1999
        |  AND date_part('month', o_orderdate) = 3
        |ORDER BY slice""".stripMargin,
    // Set-algebraic SCD2 restatement: dim0 splits into untouched /
    // closed-out rows, plus new current rows for changed and brand-new
    // keys — a lost close-out, a duplicated current row, or a no-op
    // update spawning a version all hash-fail.
    "k20_scd2" ->
      """WITH dim0 AS (
        |  SELECT c_custkey AS key, c_name AS name, c_acctbal AS bal,
        |    DATE '2024-01-01' AS valid_from, DATE '2199-12-31' AS valid_to,
        |    true AS is_current
        |  FROM customer),
        |upd AS (
        |  SELECT c_custkey AS key, c_name AS name,
        |    round(c_acctbal + 100, 2) AS bal
        |  FROM customer WHERE c_custkey % 7 = 0
        |  UNION ALL
        |  SELECT c_custkey + 1000000, 'N_' || c_name, c_acctbal
        |  FROM customer WHERE c_custkey % 997 = 0),
        |changed AS (
        |  SELECT d.key FROM dim0 d JOIN upd u USING (key)
        |  WHERE d.bal <> u.bal),
        |merged AS (
        |  SELECT * FROM dim0
        |  WHERE key NOT IN (SELECT key FROM changed)
        |  UNION ALL
        |  SELECT key, name, bal, valid_from, DATE '2024-06-01', false
        |  FROM dim0 WHERE key IN (SELECT key FROM changed)
        |  UNION ALL
        |  SELECT u.key, u.name, u.bal, DATE '2024-06-01',
        |    DATE '2199-12-31', true
        |  FROM upd u
        |  WHERE u.key IN (SELECT key FROM changed)
        |     OR u.key NOT IN (SELECT key FROM dim0))
        |SELECT key, name, round(bal, 2) AS bal, valid_from, valid_to,
        |  is_current
        |FROM merged ORDER BY key, valid_from""".stripMargin,
    "k16_forget" ->
      """WITH subj AS (
        |  SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0),
        |ro AS (
        |  SELECT o_orderkey FROM orders
        |  WHERE o_custkey IN (SELECT c_custkey FROM subj))
        |SELECT * FROM (
        |  SELECT '1_customer' AS tbl,
        |    (SELECT count(*) FROM customer)::BIGINT AS n_before,
        |    (SELECT count(*) FROM subj)::BIGINT AS n_removed,
        |    (SELECT count(*) FROM customer
        |     WHERE c_custkey NOT IN (SELECT c_custkey FROM subj))::BIGINT
        |      AS n_after,
        |    (SELECT sum(c_custkey) FROM customer
        |     WHERE c_custkey NOT IN (SELECT c_custkey FROM subj))::BIGINT
        |      AS sum_keys_after
        |  UNION ALL
        |  SELECT '2_orders',
        |    (SELECT count(*) FROM orders)::BIGINT,
        |    (SELECT count(*) FROM ro)::BIGINT,
        |    (SELECT count(*) FROM orders
        |     WHERE o_orderkey NOT IN (SELECT o_orderkey FROM ro))::BIGINT,
        |    (SELECT sum(o_orderkey) FROM orders
        |     WHERE o_orderkey NOT IN (SELECT o_orderkey FROM ro))::BIGINT
        |  UNION ALL
        |  SELECT '3_lineitem',
        |    (SELECT count(*) FROM lineitem)::BIGINT,
        |    (SELECT count(*) FROM lineitem
        |     WHERE l_orderkey IN (SELECT o_orderkey FROM ro))::BIGINT,
        |    (SELECT count(*) FROM lineitem
        |     WHERE l_orderkey NOT IN (SELECT o_orderkey FROM ro))::BIGINT,
        |    (SELECT sum(l_orderkey) FROM lineitem
        |     WHERE l_orderkey NOT IN (SELECT o_orderkey FROM ro))::BIGINT
        |) ORDER BY tbl""".stripMargin,
    // Each AS OF slice restated set-algebraically from the raw table.
    "k35_timetravel_ts" ->
      """SELECT 't2000_v2' AS slice, count(*)::BIGINT AS n,
        |  sum(p_partkey)::BIGINT AS sum_keys
        |FROM part WHERE p_partkey % 3 <= 1
        |UNION ALL
        |SELECT 't2500_v2', count(*)::BIGINT, sum(p_partkey)::BIGINT
        |FROM part WHERE p_partkey % 3 <= 1
        |UNION ALL
        |SELECT 't9999_v3', count(*)::BIGINT, sum(p_partkey)::BIGINT
        |FROM part
        |ORDER BY slice""".stripMargin,
    "k15_timetravel" ->
      """SELECT * FROM (
        |  SELECT 'v1_travel' AS snap, count(*)::BIGINT AS n,
        |    sum(p_partkey)::BIGINT AS sum_keys,
        |    round(sum(p_retailprice), 2) AS sum_price
        |  FROM part WHERE p_partkey % 2 = 0
        |  UNION ALL
        |  SELECT 'v2_latest', count(*)::BIGINT, sum(p_partkey)::BIGINT,
        |    round(sum(CASE WHEN p_partkey % 3 = 0
        |                   THEN round(p_retailprice + 10, 2)
        |                   ELSE p_retailprice END), 2)
        |  FROM part
        |) ORDER BY snap""".stripMargin,
  )
}
