package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Named refs over the versioned table format: TAGS (immutable named
  * versions) and BRANCHES (independent manifest chains for
  * write-audit-publish) — the snapshot-ref surface Iceberg/Nessie put
  * on top of a linear commit log, restated on graft's manifest format.
  *
  * TAGS are one file each — `refs/<name>.ref` holding a version number.
  * A tag pins its version against [[Sources.vacuumVersions]] (the
  * manifest, its sidecars, and its data files all survive the sweep)
  * and resolves in SQL time travel: `VERSION AS OF 'audit-2026w33'`.
  *
  * BRANCHES implement WAP (write-audit-publish): a branch is a FULL
  * graft table directory under `<table>/branches/<name>/` whose v1
  * manifest lists the parent head's files verbatim — fork cost is one
  * manifest link carrying the head's sidecars, zero data movement, and
  * every Sources commit path (append, CoW/MoR merge, DV delete,
  * compaction) works on the branch unchanged because it IS a table. Main readers never see
  * branch commits (separate manifest chain). PUBLISH fast-forwards
  * main to the branch head as one conflict-detected metadata commit:
  * branch-local batch directories RENAME into the parent's data pool
  * (same-filesystem rename — no bytes copied, compensated on a lost
  * race), and the rewritten file list publishes as main's next version
  * with the branch head's sidecars, paths mapped, riding the same link.
  * A main commit after the fork fails the publish loudly — WAP is
  * fast-forward-only; re-fork and re-apply to rebase.
  *
  * Pending EQUALITY deletes refuse both fork and publish: their scopes
  * are version numbers of the chain they were committed on and would
  * resolve against the wrong manifests across chains. `purge_eq`
  * first — the entries absorb into clean files and the refs compose.
  */
object Refs {

  // ---- tags ----------------------------------------------------------

  private def refsDir(table: String) = java.nio.file.Paths.get(table, "refs")

  private def refFile(table: String, name: String) = {
    require(name.matches("[A-Za-z0-9._-]+"),
      s"ref name '$name' — use letters, digits, dot, underscore, dash")
    refsDir(table).resolve(s"$name.ref")
  }

  /** Tag `version` (default: head) as `name`. Tags are immutable —
    * re-tagging an existing name fails loudly; [[dropTag]] first. */
  def tagVersion(table: String, name: String, version: Int = -1): Int = {
    val v = if (version < 0) Sources.latestVersion(table) else version
    require(Sources.versionsOf(table).contains(v),
      s"$table has no version $v to tag")
    java.nio.file.Files.createDirectories(refsDir(table))
    val tmp = java.nio.file.Files.createTempFile(refsDir(table),
      s".$name", ".tmp")
    java.nio.file.Files.write(tmp, v.toString.getBytes("UTF-8"))
    try java.nio.file.Files.createLink(refFile(table, name), tmp)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new IllegalArgumentException(
          s"tag '$name' already exists on $table — tags are immutable; " +
            "drop_tag first")
    } finally java.nio.file.Files.deleteIfExists(tmp)
    v
  }

  /** name -> version for every tag on the table. Malformed refs are
    * skipped (a tag is re-creatable; a crash here is not). */
  def tagsOf(table: String): Map[String, Int] = {
    val d = refsDir(table)
    if (!java.nio.file.Files.exists(d)) Map.empty
    else {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.list(d).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".ref"))
        .flatMap { p =>
          scala.util.Try(p.getFileName.toString.stripSuffix(".ref") ->
            new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
              .trim.toInt).toOption
        }.toMap
    }
  }

  def dropTag(table: String, name: String): Boolean =
    java.nio.file.Files.deleteIfExists(refFile(table, name))

  /** Resolve a ref name to a readable (table directory, version):
    * a tag resolves on the table's own chain; a branch name resolves
    * to the branch directory's head — one resolver so SQL time travel
    * (`VERSION AS OF '<name>'`) serves both. */
  def resolve(table: String, name: String): Option[(String, Int)] =
    tagsOf(table).get(name).map(v => (table, v))
      .orElse {
        val bd = branchDir(table, name)
        if (Sources.latestVersion(bd) > 0)
          Some((bd, Sources.latestVersion(bd)))
        else None
      }

  /** Read the table as of a tag (or a branch head). */
  def readRef(spark: SparkSession, table: String, name: String): DataFrame = {
    val (dir, v) = resolve(table, name).getOrElse(
      throw new IllegalArgumentException(s"$table has no ref '$name'"))
    Sources.readVersion(spark, dir, v)
  }

  // ---- branches (write-audit-publish) --------------------------------

  def branchDir(table: String, name: String): String = {
    require(name.matches("[A-Za-z0-9._-]+"),
      s"branch name '$name' — use letters, digits, dot, underscore, dash")
    s"$table/branches/$name"
  }

  private def forkFile(bd: String) =
    java.nio.file.Paths.get(bd, "fork.base")

  /** The main-chain version a branch forked from. */
  def forkBaseOf(table: String, name: String): Int =
    new String(java.nio.file.Files.readAllBytes(
      forkFile(branchDir(table, name))), "UTF-8").trim.toInt

  /** name -> (fork base, branch head) for every live branch. */
  def branchesOf(table: String): Map[String, (Int, Int)] = {
    val d = java.nio.file.Paths.get(table, "branches")
    if (!java.nio.file.Files.exists(d)) Map.empty
    else {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.list(d).iterator().asScala
        .filter(p => java.nio.file.Files.exists(forkFile(p.toString)))
        .map { p =>
          val n = p.getFileName.toString
          n -> (forkBaseOf(table, n), Sources.latestVersion(p.toString))
        }.toMap
    }
  }

  /** Fork the head as branch `name`: publish the head's exact file
    * list as the branch's v1, its DV marks, declared schema and skipping
    * lines riding the same link ([[Sources.publish]], which resolves
    * each through the head's manifest) — one manifest link, zero data
    * movement. Returns the branch table directory (every [[Sources]]
    * API works on it directly). */
  def createBranch(table: String, name: String): String = {
    val v = Sources.latestVersion(table)
    require(v > 0, s"$table has no committed versions to branch")
    require(Sources.eqOf(table, v).isEmpty,
      s"$table carries pending equality deletes — their scopes are " +
        "main-chain version numbers and cannot cross to a branch chain; " +
        "purge_eq first")
    val bd = branchDir(table, name)
    require(Sources.latestVersion(bd) == 0 &&
      !java.nio.file.Files.exists(forkFile(bd)),
      s"branch '$name' already exists on $table")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(bd))
    // table properties (partition/bucket/layout contracts) govern the
    // branch's own commits identically
    val props = java.nio.file.Paths.get(table, "table.properties")
    if (java.nio.file.Files.exists(props))
      java.nio.file.Files.copy(props,
        java.nio.file.Paths.get(bd, "table.properties"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    // the head's DVs, declared schema and skipping lines hold verbatim
    // on the identical file list (a sidecar-less version's branch infers
    // from footers exactly like its parent)
    Sources.publish(bd, 0, "branch", Sources.filesOf(table, v))(
      dv = Sources.dvOf(table, v), schema = Sources.declaredSchema(table, v),
      carryFrom = -1, fresh = Sources.linesOf(table, v),
      cover = StatsCover.empty)
    replaceAtomically(forkFile(bd), v.toString.getBytes("UTF-8"))
    bd
  }

  /** Write `bytes` as `p` through a temp file and an atomic move: a
    * reader (or a crash) sees the old content or the new, never a torn
    * write. */
  private def replaceAtomically(p: java.nio.file.Path,
      bytes: Array[Byte]): Unit = {
    val tmp = java.nio.file.Files.createTempFile(p.getParent,
      s".${p.getFileName}", ".tmp")
    java.nio.file.Files.write(tmp, bytes)
    java.nio.file.Files.move(tmp, p,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** FAST-FORWARD PUBLISH: make the branch head main's next version as
    * one metadata commit. Branch-local batch directories rename into
    * the parent's data pool (no bytes move), and the mapped file list
    * publishes conflict-detected against the fork base — a main commit
    * since the fork fails LOUDLY before anything is touched (re-fork
    * to rebase) — with the branch head's DV marks, declared schema and
    * skipping lines, paths mapped, riding the same link. Returns main's
    * new version. */
  def publishBranch(table: String, name: String): Int = {
    val bd = branchDir(table, name)
    val bh = Sources.latestVersion(bd)
    require(bh > 0, s"$table has no branch '$name'")
    val forkBase = forkBaseOf(table, name)
    require(Sources.eqOf(bd, bh).isEmpty,
      s"branch '$name' carries pending equality deletes — purge_eq on " +
        "the branch before publishing")
    repairPublish(table, bd) // un-move a crashed earlier attempt first
    val mainHead = Sources.latestVersion(table)
    if (mainHead != forkBase)
      throw new java.util.ConcurrentModificationException(
        s"main advanced to v$mainHead since branch '$name' forked at " +
          s"v$forkBase — fast-forward publish is impossible; re-fork " +
          "and re-apply the branch's changes")
    val branchData = s"$bd/data/"
    val mainData = s"$table/data/"
    val head = Sources.filesOf(bd, bh)
    // branch-local files group into immutable batch dirs (UUID-named:
    // no collision in the parent pool); carried parent files pass through
    val localBatches = head.filter(_.startsWith(branchData))
      .map(_.stripPrefix(branchData).split("/", 2)(0)).distinct
    def mapPath(p: String): String =
      if (p.startsWith(branchData)) mainData + p.stripPrefix(branchData)
      else p
    // sidecar lines key on absolute file paths
    def mapLine(l: String): String = l.replace(branchData, mainData)
    val moved = scala.collection.mutable.Buffer.empty[(java.nio.file.Path, java.nio.file.Path)]
    // journal the move list BEFORE touching anything: a crash mid-move
    // leaves a record [[repairPublish]] uses to un-move on next entry
    val journal = java.nio.file.Paths.get(bd, "publish.moves")
    java.nio.file.Files.write(journal,
      localBatches.mkString("\n").getBytes("UTF-8"))
    val next =
      try {
        java.nio.file.Files.createDirectories(
          java.nio.file.Paths.get(table, "data"))
        localBatches.foreach { b =>
          val from = java.nio.file.Paths.get(bd, "data", b)
          val to = java.nio.file.Paths.get(table, "data", b)
          java.nio.file.Files.move(from, to)
          moved += ((from, to))
        }
        // the branch head's sidecars (paths mapped into the parent pool)
        // ride the claim — a racing committer's carry pass can never see
        // the published version without its deletes
        val lines = Sources.linesOf(bd, bh)
        Sources.publish(table, forkBase, "branch publish",
            head.map(mapPath))(
          dv = Sources.dvOf(bd, bh).map { case (f, b) => mapPath(f) -> b },
          schema = Sources.declaredSchema(bd, bh), carryFrom = -1,
          fresh = SidecarLines(lines.files.map(mapPath),
            lines.stats.map(mapLine), lines.ndv.map(mapLine),
            lines.bloom.map(mapLine)),
          cover = StatsCover.empty)
      } catch {
        case e: Throwable =>
          // ANY pre-publish failure (lost race, IO error, collision):
          // un-move what moved so the branch chain stays exactly valid,
          // then surface the original failure
          moved.reverseIterator.foreach { case (from, to) =>
            scala.util.Try(java.nio.file.Files.move(to, from)) }
          java.nio.file.Files.deleteIfExists(journal)
          throw e
      }
    // publish succeeded — everything below is branch-local bookkeeping;
    // a failure here must NOT un-move (main already references the
    // moved files)
    java.nio.file.Files.deleteIfExists(journal)
    // keep the branch HEAD readable post-publish: re-point its path-keyed
    // sidecars and its manifest at the moved locations (the one
    // sanctioned manifest rewrite — same version, same files, new
    // paths, the same `#` trailers; intermediate branch versions become
    // history-only).
    // Each file is replaced atomically: a torn manifest would read as a
    // shorter file list.
    Seq("stats", "bloom", "dv", "ndv").foreach { kind =>
      Sources.resolveSidecar(bd, bh, kind).foreach { p =>
        val text = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        replaceAtomically(p, mapLine(text).getBytes("UTF-8"))
      }
    }
    replaceAtomically(java.nio.file.Paths.get(bd, s"v$bh.manifest"),
      Sources.manifestLines(bd, bh).map(l =>
        if (l.startsWith("#")) l else mapPath(l))
        .mkString("\n").getBytes("UTF-8"))
    // mark published; drop_branch reclaims the chain
    java.nio.file.Files.write(
      java.nio.file.Paths.get(bd, "published.as"),
      next.toString.getBytes("UTF-8"))
    next
  }

  /** Repair a crashed [[publishBranch]]: if the move journal survives
    * without a publish marker and main never claimed the fork-base+1
    * manifest referencing the moved batches, un-move them back into the
    * branch pool. Idempotent; called on the next publish attempt. */
  private def repairPublish(table: String, bd: String): Unit = {
    val journal = java.nio.file.Paths.get(bd, "publish.moves")
    if (!java.nio.file.Files.exists(journal) ||
        java.nio.file.Files.exists(
          java.nio.file.Paths.get(bd, "published.as"))) return
    val batches = scala.jdk.CollectionConverters.ListHasAsScala(
      java.nio.file.Files.readAllLines(journal)).asScala
      .filter(_.nonEmpty).toSeq
    // did the crashed run publish? If main's next version references a
    // journaled batch under the parent pool, the move must STAND (main
    // owns the files now) — only the published.as marker is missing
    val forkBase = forkBaseOf(table,
      java.nio.file.Paths.get(bd).getFileName.toString)
    val published =
      scala.util.Try(Sources.filesOf(table, forkBase + 1)).toOption
        .exists(_.exists(f =>
          batches.exists(b => f.startsWith(s"$table/data/$b/"))))
    if (!published) {
      batches.foreach { b =>
        val to = java.nio.file.Paths.get(table, "data", b)
        val from = java.nio.file.Paths.get(bd, "data", b)
        if (java.nio.file.Files.exists(to) &&
            !java.nio.file.Files.exists(from))
          scala.util.Try(java.nio.file.Files.move(to, from))
      }
      java.nio.file.Files.deleteIfExists(journal)
    }
  }

  /** PER-REF RETENTION — `CALL system.expire('t', ref, keep_last)`:
    * bound a BRANCH's own history without waiting for (or risking) a
    * parent vacuum. [[Sources.vacuumVersions]] on the parent pins every
    * file ANY branch version references, so a long-lived dev branch
    * would otherwise pin the parent's entire fork-time history forever;
    * expiring the branch's old manifests releases those pins — the
    * parent's next vacuum reclaims what only they referenced.
    *
    * The branch IS a table, so this is [[Sources.vacuumVersions]] on
    * the branch directory: expired versions' sidecars, the staged files
    * they point at and their unpinned eq key sets go with them, and
    * stranded staged files are swept. Its ownership guard restricts
    * deletion to branch-LOCAL data (paths under the branch's own
    * directory): a branch manifest also lists carried PARENT files,
    * whose liveness only the parent's vacuum may judge. The branch head
    * (and every kept version) stays fully readable. Returns (manifests
    * removed, branch-local files deleted). */
  def expireBranch(table: String, name: String, keepLast: Int): (Int, Int) = {
    require(keepLast >= 1, "must keep at least the branch head")
    val bd = branchDir(table, name)
    require(java.nio.file.Files.exists(forkFile(bd)),
      s"$table has no branch '$name'")
    Sources.vacuumVersions(bd, keepLast)
  }

  /** Delete a branch. Unpublished: the whole tree (its local data was
    * never visible to main). Published: the manifest chain only is
    * reclaimed — its local batches were MOVED into the parent pool at
    * publish and are main's data now. */
  def dropBranch(table: String, name: String): Unit = {
    val bd = branchDir(table, name)
    require(java.nio.file.Files.exists(forkFile(bd)),
      s"$table has no branch '$name'")
    Sources.deleteTree(java.nio.file.Paths.get(bd))
  }
}
