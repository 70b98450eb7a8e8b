package graft

import graft.sources.{Refs, Sources}
import org.apache.spark.sql.functions._

/** Snapshot refs ([[Refs]]): tags pin versions against vacuum and
  * resolve in SQL time travel; branches give write-audit-publish —
  * branch commits invisible to main, audit reads on the branch,
  * publish as one fast-forward metadata commit (zero data-file reads
  * AND zero data-file writes, listener- and disk-witnessed), conflicts
  * loud, rollback intact afterwards. */
class BranchTagSpec extends SparkTestBase {

  private def freshTable(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(name)
    d.toFile.deleteOnExit()
    d.resolve("t").toString
  }

  private def ordersBase = Tables.orders(spark, sf)
    .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")

  private def parquetOnDisk(root: String): Set[String] = {
    val dir = java.nio.file.Paths.get(root)
    if (!java.nio.file.Files.exists(dir)) Set.empty
    else {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala
        .filter(_.toString.endsWith(".parquet"))
        .map(_.getFileName.toString).toSet
    }
  }

  test("tags: pin a version, survive vacuum with files, resolve in " +
    "SQL time travel, immutable until dropped") {
    val t = freshTable("ref-tag")
    val v1 = Sources.commitVersion(ordersBase, t)
    val n1 = ordersBase.count()
    Refs.tagVersion(t, "audit-w1")
    // advance: overwrite (so v1's files share nothing with the head)
    Sources.commitVersion(ordersBase.limit(5), t, overwrite = true)
    Sources.commitVersion(ordersBase.limit(5), t, overwrite = true)
    Sources.commitVersion(ordersBase.limit(5), t, overwrite = true)
    Sources.vacuumVersions(t, 1)
    // the tagged version survives with its manifest AND data files
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(t, s"v$v1.manifest")))
    assert(Refs.readRef(spark, t, "audit-w1").count() === n1,
      "a tagged version must stay readable after vacuum")
    assert(Sources.readVersion(spark, t).count() === 5L)
    // immutability
    intercept[IllegalArgumentException] { Refs.tagVersion(t, "audit-w1") }
    assert(Refs.dropTag(t, "audit-w1"))
    Refs.tagVersion(t, "audit-w1") // re-taggable once dropped
    // dropped + re-pointed tags release the OLD pin on the next vacuum
    Refs.dropTag(t, "audit-w1")
    Sources.vacuumVersions(t, 1)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(t, s"v$v1.manifest")),
      "dropping the tag releases the version to the sweep")
  }

  test("WAP: branch writes invisible to main; audit on the branch; " +
    "publish = pure metadata (0 records read, no parquet written); " +
    "rollback intact") {
    val t = freshTable("ref-wap")
    Sources.commitVersion(
      ordersBase.repartitionByRange(4, col("o_orderkey"))
        .sortWithinPartitions("o_orderkey"), t)
    val baseState = Sources.readVersion(spark, t)
      .orderBy("o_orderkey").collect()
    val forkBase = Sources.latestVersion(t)
    val bd = Refs.createBranch(t, "staging")
    // write on the branch: an append AND a DV point delete (two commit
    // paths exercised on the branch chain)
    val victim = baseState.head.getLong(0)
    Sources.commitVersion(
      ordersBase.filter(col("o_orderkey") =!= victim).limit(3)
        .withColumn("o_orderpriority", lit("B-STAGED")), bd)
    Sources.deleteWhereDv(spark, bd, col("o_orderkey") === victim)
    // invisible to main
    assert(Sources.latestVersion(t) === forkBase)
    assert(Sources.readVersion(spark, t).orderBy("o_orderkey")
      .collect().toSeq === baseState.toSeq,
      "main readers must not see branch commits")
    // audit on the branch (API + SQL VERSION AS OF '<branch>')
    val audited = Sources.readVersion(spark, bd).collect()
    assert(audited.count(_.getString(3) == "B-STAGED") === 3)
    assert(!audited.exists(_.getLong(0) == victim))
    // publish: zero data-file reads, zero parquet files created/removed
    val diskBefore = parquetOnDisk(t) // branch nests under t — one walk
    val acc = new java.util.concurrent.atomic.AtomicLong(0L)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          acc.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
    }
    spark.sparkContext.addSparkListener(l)
    val published =
      try {
        val p = Refs.publishBranch(t, "staging")
        org.apache.spark.GraftTestBridge.waitForListeners(spark.sparkContext)
        p
      } finally spark.sparkContext.removeSparkListener(l)
    assert(acc.get() === 0L, "publish must not scan any data")
    assert(parquetOnDisk(t) === diskBefore,
      "publish must not write or delete any parquet file (renames only)")
    assert(published === forkBase + 1)
    // main now serves exactly the audited branch state
    val mainNow = Sources.readVersion(spark, t).collect()
    assert(mainNow.sortBy(_.getLong(0)).toSeq ===
      audited.sortBy(_.getLong(0)).toSeq)
    // the branch HEAD stays readable post-publish (re-pointed at the
    // moved paths) — a dashboard pinned on the audit ref doesn't break
    assert(Sources.readVersion(spark, bd).collect().sortBy(_.getLong(0))
      .toSeq === audited.sortBy(_.getLong(0)).toSeq,
      "the published branch head must keep serving its state")
    // the branch dir is reclaimable; main keeps serving the state
    Refs.dropBranch(t, "staging")
    assert(Sources.readVersion(spark, t).count() === mainNow.length.toLong)
    // rollback to the fork base still works (WAP is just a commit)
    Sources.rollbackTo(t, forkBase)
    assert(Sources.readVersion(spark, t).orderBy("o_orderkey")
      .collect().toSeq === baseState.toSeq)
  }

  test("publish conflicts loudly when main advanced since the fork, " +
    "and the branch stays fully valid afterwards") {
    val t = freshTable("ref-conflict")
    Sources.commitVersion(ordersBase, t)
    val bd = Refs.createBranch(t, "dev")
    Sources.commitVersion(ordersBase.limit(2)
      .withColumn("o_orderpriority", lit("B-DEV")), bd)
    // main advances AFTER the fork
    Sources.commitVersion(ordersBase.limit(1), t)
    val branchState = Sources.readVersion(spark, bd)
      .orderBy("o_orderkey", "o_orderpriority").collect()
    intercept[java.util.ConcurrentModificationException] {
      Refs.publishBranch(t, "dev")
    }
    // compensation: the branch chain still reads exactly as before
    assert(Sources.readVersion(spark, bd)
      .orderBy("o_orderkey", "o_orderpriority").collect().toSeq ===
      branchState.toSeq,
      "a failed publish must leave the branch chain untouched")
  }

  test("SQL surface: CALL tag/create_branch/publish_branch, " +
    "VERSION AS OF tag and branch names, the $refs gauge") {
    val wh = java.nio.file.Files.createTempDirectory("ref-cat").toString
    spark.conf.set("spark.sql.catalog.refcat", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.refcat.warehouse", wh)
    ordersBase.createOrReplaceTempView("ref_orders_src")
    spark.sql("CREATE TABLE refcat.t (o_orderkey BIGINT, o_custkey BIGINT," +
      " o_totalprice DOUBLE, o_orderpriority STRING)")
    spark.sql("INSERT INTO refcat.t SELECT * FROM ref_orders_src")
    val n = ordersBase.count()
    spark.sql("CALL refcat.system.tag('t', 'baseline')")
    spark.sql("CALL refcat.system.create_branch('t', 'wap')")
    // stage changes on the branch in PURE SQL: the branch is writable
    // as g.`t$branch$<name>` — an INSERT and a row-level DELETE both
    // land on the staging chain
    spark.sql("INSERT INTO refcat.`t$branch$wap` " +
      "SELECT o_orderkey, o_custkey, o_totalprice, 'B-WAP' " +
      "FROM ref_orders_src LIMIT 2")
    val delKey = ordersBase.select("o_orderkey").orderBy("o_orderkey")
      .limit(1).collect().head.getLong(0)
    spark.sql(s"DELETE FROM refcat.`t$$branch$$wap` " +
      s"WHERE o_orderkey = $delKey AND o_orderpriority <> 'B-WAP'")
    // audit both refs in SQL
    assert(spark.sql(
      "SELECT * FROM refcat.t VERSION AS OF 'baseline'").count() === n)
    assert(spark.sql(
      "SELECT * FROM refcat.t VERSION AS OF 'wap' " +
        "WHERE o_orderpriority = 'B-WAP'").count() === 2L)
    assert(spark.sql("SELECT * FROM refcat.t VERSION AS OF 'wap' " +
      s"WHERE o_orderkey = $delKey AND o_orderpriority <> 'B-WAP'")
      .count() === 0L, "the branch DELETE must land on the branch")
    assert(spark.sql("SELECT * FROM refcat.t " +
      "WHERE o_orderpriority = 'B-WAP'").count() === 0L,
      "main must not see the staged rows")
    assert(spark.sql(s"SELECT * FROM refcat.t WHERE o_orderkey = $delKey")
      .count() === 1L, "main must not see the staged delete")
    val refs = spark.sql("SELECT kind, name FROM refcat.`t$refs`")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(refs === Set(("tag", "baseline"), ("branch", "wap")))
    spark.sql("CALL refcat.system.publish_branch('t', 'wap')")
    assert(spark.sql("SELECT * FROM refcat.t " +
      "WHERE o_orderpriority = 'B-WAP'").count() === 2L,
      "publish fast-forwards main to the branch state")
    spark.sql("CALL refcat.system.drop_branch('t', 'wap')")
    assert(spark.sql("SELECT * FROM refcat.t " +
      "WHERE o_orderpriority = 'B-WAP'").count() === 2L)
    spark.sql("DROP TABLE refcat.t")
  }

  test("parent vacuum pins every file a live branch references") {
    val t = freshTable("ref-pin")
    Sources.commitVersion(ordersBase, t)
    val n = ordersBase.count()
    val bd = Refs.createBranch(t, "longlived")
    // main moves on with OVERWRITES — the fork's files leave every
    // kept main manifest
    Sources.commitVersion(ordersBase.limit(5), t, overwrite = true)
    Sources.commitVersion(ordersBase.limit(5), t, overwrite = true)
    Sources.vacuumVersions(t, 1)
    assert(Sources.readVersion(spark, bd).count() === n,
      "the branch must survive a parent vacuum intact")
    Refs.dropBranch(t, "longlived")
    // with the branch gone, the next sweep reclaims the orphaned files
    Sources.commitVersion(ordersBase.limit(5), t, overwrite = true)
    Sources.vacuumVersions(t, 1)
  }

  test("per-ref retention: expire bounds a branch's history — dead " +
    "branch-local files reclaim, the head stays readable, and the " +
    "parent's vacuum regains files only expired branch versions pinned") {
    val t = freshTable("ref-expire")
    Sources.commitVersion(ordersBase, t) // fork-time files B
    val bd = Refs.createBranch(t, "dev")
    val n = ordersBase.count()
    // branch life: an append (local batch L), then a compaction that
    // rewrites EVERYTHING branch-local — the pre-compaction manifests
    // are the only references to L and to the carried parent files
    Sources.commitVersion(ordersBase.limit(7), bd) // bv2: B + L
    Sources.compactVersion(spark, bd, 1000000) // bv3: all-local C
    val headBefore = Sources.readVersion(spark, bd)
      .orderBy("o_orderkey").collect()
    assert(headBefore.length === n + 7)
    val localBefore = parquetOnDisk(s"$bd/data")
    // main moves on: the fork files B leave every kept main manifest
    Sources.commitVersion(ordersBase.limit(5), t, overwrite = true)
    // BEFORE expire, the parent's vacuum must pin B (branch history
    // references them) — count survivors in the parent pool
    Sources.vacuumVersions(t, 1)
    val parentPoolBefore = parquetOnDisk(s"$t/data")
    assert(Sources.readVersion(spark, bd, 1).count() === n,
      "pre-expire: the branch's fork version must still read (B pinned)")
    // EXPIRE to the head: old branch manifests go; only branch-LOCAL
    // dead files delete (L died at compaction) — carried parent files
    // are never touched here
    val (manifests, localDeleted) = Refs.expireBranch(t, "dev", 1)
    assert(manifests === 2 && localDeleted > 0)
    assert(parquetOnDisk(s"$bd/data").size
      === localBefore.size - localDeleted)
    val headAfter = Sources.readVersion(spark, bd)
      .orderBy("o_orderkey").collect()
    assert(headAfter.toSeq === headBefore.toSeq,
      "the branch head must read identically after expire")
    // the parent's NEXT vacuum reclaims B: nothing references the fork
    // files any more (branch head is all-local after the compaction)
    Sources.commitVersion(ordersBase.limit(5), t, overwrite = true)
    Sources.vacuumVersions(t, 1)
    val parentPoolAfter = parquetOnDisk(s"$t/data")
    assert(parentPoolAfter.size < parentPoolBefore.size,
      s"expire must release the parent-file pins: " +
        s"${parentPoolAfter.size} vs ${parentPoolBefore.size}")
    assert(Sources.readVersion(spark, bd).count() === n + 7,
      "the branch head survives the parent vacuum after expire")
    // guards: keep_last >= 1; a tag is not expirable
    intercept[IllegalArgumentException](Refs.expireBranch(t, "dev", 0))
  }

  test("WAP composes with PARTITIONED layouts: branch writes land " +
    "hive-laid (the fork carries table.properties), publish moves the " +
    "nested batch trees, partition pruning works on the published head") {
    val wh = java.nio.file.Files.createTempDirectory("ref-part").toString
    spark.conf.set("spark.sql.catalog.rpcat", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.rpcat.warehouse", wh)
    spark.sql("CREATE TABLE rpcat.t (k BIGINT, v BIGINT, p STRING) " +
      "PARTITIONED BY (p)")
    import spark.implicits._
    Seq((1L, 10L, "a"), (2L, 20L, "b")).toDF("k", "v", "p")
      .createOrReplaceTempView("rp_src")
    spark.sql("INSERT INTO rpcat.t SELECT * FROM rp_src")
    val t = s"$wh/t"
    val bd = Refs.createBranch(t, "stage")
    // the branch write must respect the PARENT's partition layout
    // (table.properties copied at fork)
    Sources.commitVersion(
      Seq((3L, 30L, "a"), (4L, 40L, "c")).toDF("k", "v", "p"), bd)
    import scala.jdk.CollectionConverters._
    val branchLaid = java.nio.file.Files.walk(
      java.nio.file.Paths.get(bd, "data")).iterator().asScala
      .exists(_.toString.contains("p=c"))
    assert(branchLaid, "branch batches must land hive-partitioned")
    Refs.publishBranch(t, "stage")
    // the published head serves all four rows with partition values
    // reattached, and a partition predicate prunes on the main chain
    val out = spark.sql("SELECT k, v, p FROM rpcat.t ORDER BY k").collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L, 4L))
    assert(out.map(_.getString(2)).toSeq === Seq("a", "b", "a", "c"))
    assert(spark.sql("SELECT * FROM rpcat.t WHERE p = 'c'").count() === 1L)
    Refs.dropBranch(t, "stage")
    assert(spark.sql("SELECT * FROM rpcat.t").count() === 4L)
    spark.sql("DROP TABLE rpcat.t")
  }

  test("refs refuse pending equality deletes on both fork and publish") {
    val t = freshTable("ref-eq")
    Sources.commitVersion(ordersBase, t)
    val k = ordersBase.select("o_orderkey").orderBy("o_orderkey")
      .limit(1).collect().head.getLong(0)
    import spark.implicits._
    val ch = Seq(k).toDF("o_orderkey").withColumn("op", lit("delete"))
      .withColumn("o_custkey", lit(null).cast("long"))
      .withColumn("o_totalprice", lit(null).cast("double"))
      .withColumn("o_orderpriority", lit(null).cast("string"))
    Sources.mergeVersionEq(spark, t, ch, Seq("o_orderkey"))
    val ex = intercept[IllegalArgumentException] {
      Refs.createBranch(t, "nope")
    }
    assert(ex.getMessage.contains("purge_eq"))
    // a branch that accumulates eq entries refuses publish
    val t2 = freshTable("ref-eq2")
    Sources.commitVersion(ordersBase, t2)
    val bd = Refs.createBranch(t2, "dev")
    Sources.mergeVersionEq(spark, bd, ch, Seq("o_orderkey"))
    val ex2 = intercept[IllegalArgumentException] {
      Refs.publishBranch(t2, "dev")
    }
    assert(ex2.getMessage.contains("purge_eq"))
    Sources.purgeEq(spark, bd)
    val v = Refs.publishBranch(t2, "dev")
    assert(Sources.readVersion(spark, t2, v)
      .filter(col("o_orderkey") === k).count() === 0L)
  }

  test("a branch forked while its head's DV promote is pending keeps the " +
    "head's deletes, and publishing keeps the branch head's trailers") {
    val t = freshTable("ref-dvcrash")
    Sources.commitVersion(spark.range(0, 20, 1, 1).select(col("id").as("k")), t)
    Sources.deleteWhereDv(spark, t, col("k") < 3)
    val v = Sources.latestVersion(t)
    def pointer(table: String, ver: Int, ext: String): String = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.readAllLines(java.nio.file.Paths.get(table,
        s"v$ver.manifest")).asScala.map(_.split("\t", -1)).collectFirst {
        case Array("#sidecar", `ext`, name) => name
      }.get
    }
    // the state a crash between the link and the promote leaves
    java.nio.file.Files.move(java.nio.file.Paths.get(t, s"v$v.dv"),
      java.nio.file.Paths.get(t, pointer(t, v, "dv")))
    val bd = Refs.createBranch(t, "audit")
    assert(Sources.readVersion(spark, t).count() === 17L)
    assert(Sources.readVersion(spark, bd).count() === 17L)
    // a branch commit recording a ledger position, then publish: the
    // rewritten branch head keeps its sidecar pointers and its `#txn`
    Sources.commitVersion(spark.range(100, 105, 1, 1).select(col("id").as("k")),
      bd, txn = Some("audit-feed" -> 7L))
    val bh = Sources.latestVersion(bd)
    Refs.publishBranch(t, "audit")
    assert(Sources.readVersion(spark, t).count() === 22L)
    assert(Sources.readVersion(spark, bd, bh).count() === 22L)
    assert(Sources.appliedVersion(bd, "audit-feed") === 7L)
    assert(scala.util.Try(pointer(bd, bh, "dv")).isSuccess,
      "the branch head keeps its sidecar pointer")
  }

  test("expire removes what expired branch versions staged: pointed " +
    "staged sidecars whose promote never ran, stranded staged files and " +
    "unpinned eq key sets") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val t = freshTable("ref-expire-staged")
    Sources.commitVersion(spark.range(0, 20, 1, 1).select(col("id").as("k")), t)
    val bd = Refs.createBranch(t, "dev")
    Sources.deleteWhereDv(spark, bd, col("k") < 3)
    val dvVersion = Sources.latestVersion(bd)
    import spark.implicits._
    Sources.mergeVersionEq(spark, bd, Seq((5L, "delete")).toDF("k", "op"), Seq("k"))
    assert(Sources.eqOf(bd, Sources.latestVersion(bd)).nonEmpty)
    Sources.purgeEq(spark, bd)
    val head = Sources.readVersion(spark, bd).collect().map(_.getLong(0)).sorted.toSeq
    assert(head === (3L until 20L).filterNot(_ == 5L))
    // the state a crash between the link and the promote leaves
    val pointer = Files.readAllLines(Paths.get(bd, s"v$dvVersion.manifest"))
      .asScala.map(_.split("\t", -1)).collectFirst {
        case Array("#sidecar", "dv", name) => name
      }.get
    Files.move(Paths.get(bd, s"v$dvVersion.dv"), Paths.get(bd, pointer))
    // a staged file no manifest points at, past the in-flight grace window
    val stray = Paths.get(bd, ".staged-0123456789ab.stats")
    Files.write(stray, "x".getBytes("UTF-8"))
    Files.setLastModifiedTime(stray, java.nio.file.attribute.FileTime
      .fromMillis(System.currentTimeMillis() - 3600L * 1000))
    Refs.expireBranch(t, "dev", 1)
    def listed(dir: java.nio.file.Path): Seq[String] =
      if (!Files.exists(dir)) Nil
      else Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSeq
    assert(!listed(Paths.get(bd)).exists(_.startsWith(".staged-")),
      s"staged files left: ${listed(Paths.get(bd)).filter(_.startsWith(".staged-"))}")
    assert(listed(Paths.get(bd, "eqdel")).isEmpty,
      s"unpinned eq key sets left: ${listed(Paths.get(bd, "eqdel"))}")
    assert(Sources.readVersion(spark, bd).collect().map(_.getLong(0)).sorted.toSeq
      === head)
  }
}
