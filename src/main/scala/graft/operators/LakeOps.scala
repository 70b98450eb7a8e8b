package graft.operators

import graft.{Query, Tables}
import graft.Canon.dsum
import graft.sources.{Refs, Sources}
import org.apache.spark.sql.functions._

/** The versioned-table ("lake") lifecycle as an ORACLE-GATED query —
  * until now the table format (commit/stats/merge/CDF/FileIndex) was
  * ScalaTest-proven only; this module drives it through the driver's
  * DuckDB hash gate, because a table format whose end state can drift
  * from the relational truth is exactly the bug class worth pinning.
  */
object LakeOps {

  /** Q179 — full lifecycle: range-clustered COMMIT of `orders` + stats
    * sidecar, then one copy-on-write MERGE (every key ≡ 0 (mod 100)
    * upserted with a rewritten priority, every key ≡ 1 (mod 100)
    * deleted), then the final version read back through the
    * stats-skipping [[graft.sources.ManifestFileIndex]] scan and aggregated. The
    * oracle never sees the table machinery — it states the same end
    * state RELATIONALLY over the raw `orders` fixture, so a hash match
    * proves commit + merge + carry + indexed-read compose to exactly
    * the declared relational semantics. The table rebuilds in one
    * deterministic scratch dir per sf (wiped first), so the query is
    * self-contained, rerunnable, and disk-bounded across sweeps.
    *
    * Scale note: the merge's change-set is 2% of keys; with the
    * range-clustered layout the rewrite touches only the files whose
    * key intervals contain them — the whole point of file-granular COW
    * — while this query's oracle-visible OUTPUT stays a plain
    * aggregate any consumer could run.
    */
  val q179 = Query(
    "q179_table_lifecycle",
    (s, dir) => {
      // ONE deterministic scratch path per sf dir, rebuilt from scratch
      // each run — repeated bench/verify sweeps reuse (not leak) disk
      val root = java.nio.file.Paths.get(
        sys.props("java.io.tmpdir"),
        s"graft-lake-${math.abs(dir.hashCode).toString}")
      def wipe(p: java.nio.file.Path): Unit =
        if (java.nio.file.Files.exists(p)) {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(p).iterator().asScala.toSeq
            .sortBy(-_.getNameCount)
            .foreach(java.nio.file.Files.deleteIfExists(_))
        }
      wipe(root)
      java.nio.file.Files.createDirectories(root)
      val table = root.resolve("orders_t").toString
      val orders = Tables.orders(s, dir)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
      val v1 = Sources.commitVersion(
        orders.repartitionByRange(8, col("o_orderkey"))
          .sortWithinPartitions("o_orderkey"), table)
      Sources.commitStats(s, table, v1, Seq("o_orderkey"))
      val changes = orders.filter(pmod(col("o_orderkey"), lit(100)) === 0)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          lit("0-MERGED").as("o_orderpriority"), lit("upsert").as("op"))
        .unionByName(orders.filter(pmod(col("o_orderkey"), lit(100)) === 1)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
            col("o_orderpriority"), lit("delete").as("op")))
      Sources.mergeVersion(s, table, changes, "o_orderkey")
      Sources.readVersion(s, table)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          dsum(col("o_totalprice")).as("sum_price"),
          min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key"))
        .orderBy("o_orderpriority")
    },
    Some("""WITH base AS (
           |  SELECT o_orderkey, o_totalprice,
           |         CASE WHEN o_orderkey % 100 = 0 THEN '0-MERGED'
           |              ELSE o_orderpriority END AS o_orderpriority
           |  FROM orders WHERE o_orderkey % 100 <> 1)
           |SELECT o_orderpriority, COUNT(*) AS n,
           |       CAST(CAST(round(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 4)
           |         AS DECIMAL(18,4)) AS DOUBLE) AS sum_price,
           |       MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
           |FROM base GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
  )

  /** Q196 — the SQL-catalog surface end-to-end: commit `orders` as v1,
    * schema-EVOLVE v2 with an appended backfill batch that adds a
    * `chan` column ([[Sources.commitVersionEvolving]]), then consume
    * both versions from PURE SQL — `CREATE TEMPORARY VIEW … USING
    * graft OPTIONS (path, versionAsOf)` ([[graft.sources.GraftDataSource]])
    * — and aggregate: v2 grouped by `chan` (the v1-era rows surface it
    * as NULL → 'ORIGINAL', the null-filled-history contract made
    * oracle-visible) with v1's pinned row count as the time-travel
    * witness column. The oracle never sees a manifest: it restates the
    * end state relationally over the raw fixture, so a hash match
    * proves evolving-commit + version pinning + the SQL read surface
    * compose to the declared semantics. Scratch table per sf dir,
    * wiped and rebuilt each run (the q179 device).
    */
  val q196 = Query(
    "q196_sql_time_travel",
    (s, dir) => {
      val root = java.nio.file.Paths.get(
        sys.props("java.io.tmpdir"),
        s"graft-lake-sql-${math.abs(dir.hashCode).toString}")
      def wipe(p: java.nio.file.Path): Unit =
        if (java.nio.file.Files.exists(p)) {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(p).iterator().asScala.toSeq
            .sortBy(-_.getNameCount)
            .foreach(java.nio.file.Files.deleteIfExists(_))
        }
      wipe(root)
      java.nio.file.Files.createDirectories(root)
      val table = root.resolve("orders_sql").toString
      val orders = Tables.orders(s, dir)
        .select("o_orderkey", "o_custkey", "o_totalprice")
      Sources.commitVersion(
        orders.repartitionByRange(4, col("o_orderkey"))
          .sortWithinPartitions("o_orderkey"), table)
      Sources.commitStats(s, table, 1, Seq("o_orderkey"))
      Sources.commitVersionEvolving(
        orders.filter(pmod(col("o_orderkey"), lit(10)) === 0)
          .withColumn("chan", lit("BACKFILL")), table)
      s.sql(s"CREATE OR REPLACE TEMPORARY VIEW graft_t_v1 USING graft " +
        s"OPTIONS (path '$table', versionAsOf '1')")
      s.sql(s"CREATE OR REPLACE TEMPORARY VIEW graft_t_v2 USING graft " +
        s"OPTIONS (path '$table', versionAsOf '2')")
      s.sql("""SELECT coalesce(chan, 'ORIGINAL') AS chan,
              |       COUNT(*) AS n,
              |       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
              |            AS DECIMAL(18,4)) AS DOUBLE) AS sum_price,
              |       (SELECT COUNT(*) FROM graft_t_v1) AS n_v1
              |FROM graft_t_v2
              |GROUP BY 1 ORDER BY 1""".stripMargin)
    },
    Some("""WITH ext AS (
           |  SELECT o_totalprice, 'ORIGINAL' AS chan FROM orders
           |  UNION ALL
           |  SELECT o_totalprice, 'BACKFILL' FROM orders
           |  WHERE o_orderkey % 10 = 0),
           |v1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_v1 FROM orders)
           |SELECT chan, CAST(COUNT(*) AS BIGINT) AS n,
           |       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
           |            AS DECIMAL(18,4)) AS DOUBLE) AS sum_price,
           |       n_v1
           |FROM ext, v1 GROUP BY chan, n_v1 ORDER BY chan""".stripMargin)
  )

  /** Q202 — the DSv2 catalog surface end-to-end, oracle-gated: a
    * [[graft.sources.GraftCatalog]] is registered on the session, then
    * the WHOLE lifecycle runs as catalog SQL — `CREATE TABLE`
    * (declared-schema v1), two `INSERT INTO` commits (v2, v3), a
    * `MERGE INTO` through the DELTA row-level path (v4 — DV marks +
    * one appended batch, merge-on-read), a file-granular
    * `DELETE FROM … WHERE` (v5), and a final read that
    * joins the head state with a `VERSION AS OF 2` time-travel witness.
    * The oracle restates the end state relationally over the raw
    * fixture — a hash match proves CREATE + OCC INSERT + SQL MoR MERGE +
    * COW DELETE + time travel compose to the declared semantics with
    * no API calls in the query path.
    *
    * Catalog instances are cached per session by NAME, so the catalog
    * name carries the sf-dir hash — each fixture gets its own pinned
    * warehouse, rebuilt from scratch each run (the q179 device). */
  val q202 = Query(
    "q202_catalog_dml",
    (s, dir) => {
      val root = java.nio.file.Paths.get(
        sys.props("java.io.tmpdir"),
        s"graft-lake-cat-${math.abs(dir.hashCode).toString}")
      def wipe(p: java.nio.file.Path): Unit =
        if (java.nio.file.Files.exists(p)) {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(p).iterator().asScala.toSeq
            .sortBy(-_.getNameCount)
            .foreach(java.nio.file.Files.deleteIfExists(_))
        }
      wipe(root)
      java.nio.file.Files.createDirectories(root)
      val cat = s"gq_${math.abs(dir.hashCode)}"
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", root.toString)
      Tables.orders(s, dir).createOrReplaceTempView("dml_orders_src")
      s.sql(s"""CREATE TABLE $cat.orders_dml (
               |  o_orderkey BIGINT, o_custkey BIGINT,
               |  o_totalprice DOUBLE, o_orderpriority STRING)""".stripMargin)
      s.sql(s"""INSERT INTO $cat.orders_dml
               |SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
               |FROM dml_orders_src WHERE o_orderkey % 2 = 0""".stripMargin)
      s.sql(s"""INSERT INTO $cat.orders_dml
               |SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
               |FROM dml_orders_src WHERE o_orderkey % 2 = 1""".stripMargin)
      // standard-SQL MERGE through SupportsDelta: the native target
      // scan serves (row, file, position), matched rows become DV marks +
      // one appended batch — merge-on-read, never a table rewrite
      s.sql(s"""MERGE INTO $cat.orders_dml t
               |USING (SELECT o_orderkey FROM dml_orders_src
               |       WHERE o_orderkey % 100 = 0) src
               |ON t.o_orderkey = src.o_orderkey
               |WHEN MATCHED THEN UPDATE SET o_orderpriority = '0-MERGED'
               |""".stripMargin)
      // predicate shapes Spark can push as source filters route to the
      // file-granular SupportsDelete path (untranslatable ones fall
      // back to the row-level rewrite instead of erroring)
      s.sql(s"DELETE FROM $cat.orders_dml " +
        "WHERE o_orderpriority = '1-URGENT' OR o_orderkey < 50")
      val head = s.sql(
        s"SELECT o_orderpriority, o_totalprice FROM $cat.orders_dml")
      val witness = s.sql(
        s"SELECT COUNT(*) AS n_v2 FROM $cat.orders_dml VERSION AS OF 2")
      head.groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
        .crossJoin(witness)
        .orderBy("o_orderpriority")
    },
    Some("""WITH merged AS (
           |  SELECT o_orderkey, o_totalprice,
           |         CASE WHEN o_orderkey % 100 = 0 THEN '0-MERGED'
           |              ELSE o_orderpriority END AS o_orderpriority
           |  FROM orders),
           |base AS (
           |  SELECT o_orderpriority, o_totalprice FROM merged
           |  WHERE o_orderpriority <> '1-URGENT' AND o_orderkey >= 50),
           |v2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_v2 FROM orders
           |       WHERE o_orderkey % 2 = 0)
           |SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
           |       CAST(CAST(round(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 4)
           |         AS DECIMAL(18,4)) AS DOUBLE) AS sum_price,
           |       n_v2
           |FROM base, v2
           |GROUP BY o_orderpriority, n_v2 ORDER BY o_orderpriority""".stripMargin)
  )

  /** Q206 — merge-on-read DELETION VECTORS end-to-end, oracle-gated:
    * commit `orders` range-clustered (v1), DV-delete one narrow key set
    * ([[Sources.deleteWhereDv]] — the manifest stays byte-identical,
    * zero data files rewritten), append a backfill batch (the DV must
    * CARRY — deleted rows stay deleted under an unrelated commit), then
    * DV-delete a second key set that spans both generations (the
    * sidecars MERGE). The final state reads through the stats-skipping
    * indexed scan with the DV filter applied; witness columns pin the
    * time-traveled v1 row count, the total marked positions, and — the
    * merge-on-read claim itself — that the last delete changed the FILE
    * COUNT not at all (`files_stable`). The oracle restates the whole
    * lifecycle relationally over the raw fixture: a hash match proves
    * mark + carry + merge + every-read-stack-filters compose to exactly
    * DELETE semantics, with no rewrite anywhere in the delete path.
    *
    * Scale note: at 100 TB this is the difference between a point
    * GDPR-delete commit of a few KB of sidecar metadata and a rewrite
    * of every file containing a matching row — and the read tax is one
    * broadcast bitset probe ONLY on versions that carry DVs (purge and
    * compaction restore the untouched fast path, DeletionVectorSpec). */
  val q206 = Query(
    "q206_deletion_vectors",
    (s, dir) => {
      val root = java.nio.file.Paths.get(
        sys.props("java.io.tmpdir"),
        s"graft-lake-dv-${math.abs(dir.hashCode).toString}")
      def wipe(p: java.nio.file.Path): Unit =
        if (java.nio.file.Files.exists(p)) {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(p).iterator().asScala.toSeq
            .sortBy(-_.getNameCount)
            .foreach(java.nio.file.Files.deleteIfExists(_))
        }
      wipe(root)
      java.nio.file.Files.createDirectories(root)
      val table = root.resolve("orders_dv").toString
      val orders = Tables.orders(s, dir)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
      val v1 = Sources.commitVersion(
        orders.repartitionByRange(8, col("o_orderkey"))
          .sortWithinPartitions("o_orderkey"), table)
      Sources.commitStats(s, table, v1, Seq("o_orderkey"))
      // point delete #1: DV commit, manifest unchanged
      Sources.deleteWhereDv(s, table,
        pmod(col("o_orderkey"), lit(499)) === 0)
      // unrelated append: the DV must carry (no resurrection)
      val vAppend = Sources.commitVersion(
        orders.filter(pmod(col("o_orderkey"), lit(10)) === 0)
          .withColumn("o_orderpriority", lit("9-BACKFILL")), table)
      // point delete #2 spans BOTH generations: sidecars merge
      val (vFinal, _, usedDv) = Sources.deleteWhereDv(s, table,
        pmod(col("o_orderkey"), lit(499)) === 1)
      val nf = Sources.history(s, table).collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      // the merge-on-read witness: the second delete added ZERO files
      val filesStable =
        if (usedDv && nf(vFinal) == nf(vAppend)) 1L else 0L
      val nV1 = Sources.readVersion(s, table, v1).count()
      val dvRows = Sources.dvRowCount(table, vFinal)
      Sources.readVersion(s, table)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          dsum(col("o_totalprice")).as("sum_price"))
        .withColumn("n_v1", lit(nV1))
        .withColumn("dv_rows", lit(dvRows))
        .withColumn("files_stable", lit(filesStable))
        .orderBy("o_orderpriority")
    },
    Some("""WITH state AS (
           |  SELECT o_totalprice, o_orderpriority FROM orders
           |  WHERE o_orderkey % 499 <> 0 AND o_orderkey % 499 <> 1
           |  UNION ALL
           |  SELECT o_totalprice, '9-BACKFILL' FROM orders
           |  WHERE o_orderkey % 10 = 0 AND o_orderkey % 499 <> 1),
           |w AS (
           |  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS n_v1,
           |         (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
           |          WHERE o_orderkey % 499 = 0 OR o_orderkey % 499 = 1)
           |         + (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
           |            WHERE o_orderkey % 10 = 0 AND o_orderkey % 499 = 1)
           |         AS dv_rows)
           |SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
           |       CAST(CAST(round(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 4)
           |         AS DECIMAL(18,4)) AS DOUBLE) AS sum_price,
           |       n_v1, dv_rows, CAST(1 AS BIGINT) AS files_stable
           |FROM state, w
           |GROUP BY o_orderpriority, n_v1, dv_rows
           |ORDER BY o_orderpriority""".stripMargin)
  )

  /** Q207 — identity-PARTITIONED catalog table end-to-end, oracle-
    * gated: `CREATE TABLE ... PARTITIONED BY (prio)` (the
    * `partition.columns` property → hive-laid batch dirs), one INSERT
    * (every commit clusters rows under `prio=.../`), a partition+key
    * DELETE (merge-on-read or CoW — either way partition values
    * survive the rewrite), and a final per-partition aggregate read
    * through the DSv2 scan, whose `partitionFilters` now prune whole
    * directories (numFiles-asserted in PartitionedTableSpec; here the
    * `part_files_lt_total` witness pins that the partition's file
    * subset is a strict subset via the `$files` metadata table). The
    * oracle restates the lifecycle relationally — a hash match proves
    * partitioned commit + partition-aware delete + partition-column
    * reconstitution compose to plain SQL semantics. */
  val q207 = Query(
    "q207_partitioned_table",
    (s, dir) => {
      val root = java.nio.file.Paths.get(
        sys.props("java.io.tmpdir"),
        s"graft-lake-part-${math.abs(dir.hashCode).toString}")
      def wipe(p: java.nio.file.Path): Unit =
        if (java.nio.file.Files.exists(p)) {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(p).iterator().asScala.toSeq
            .sortBy(-_.getNameCount)
            .foreach(java.nio.file.Files.deleteIfExists(_))
        }
      wipe(root)
      java.nio.file.Files.createDirectories(root)
      val cat = s"gp_${math.abs(dir.hashCode)}"
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", root.toString)
      Tables.orders(s, dir).createOrReplaceTempView("part_orders_src")
      s.sql(s"""CREATE TABLE $cat.orders_part (
               |  o_orderkey BIGINT, o_custkey BIGINT,
               |  o_totalprice DOUBLE, prio STRING)
               |PARTITIONED BY (prio)""".stripMargin)
      s.sql(s"""INSERT INTO $cat.orders_part
               |SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
               |FROM part_orders_src""".stripMargin)
      val vPre = s.sql(s"SELECT COUNT(*) FROM $cat.orders_part")
        .head().getLong(0)
      s.sql(s"DELETE FROM $cat.orders_part " +
        "WHERE prio = '1-URGENT' AND o_orderkey < 5000")
      // partition layout witness off the $files metadata table: the
      // '1-URGENT' partition's files are a strict subset of the table's
      val fileRows = s.sql(s"SELECT file FROM $cat.`orders_part$$files`")
        .collect().map(_.getString(0))
      val partLt =
        if (fileRows.count(_.contains("prio=1-URGENT")) > 0 &&
            fileRows.count(_.contains("prio=1-URGENT")) < fileRows.length)
          1L else 0L
      s.sql(s"SELECT prio, o_totalprice FROM $cat.orders_part")
        .groupBy("prio")
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
        .withColumn("n_pre", lit(vPre))
        .withColumn("part_files_lt_total", lit(partLt))
        .orderBy("prio")
    },
    Some("""WITH state AS (
           |  SELECT o_orderpriority AS prio, o_totalprice FROM orders
           |  WHERE NOT (o_orderpriority = '1-URGENT' AND o_orderkey < 5000)),
           |w AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pre FROM orders)
           |SELECT prio, CAST(COUNT(*) AS BIGINT) AS n,
           |       CAST(CAST(round(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 4)
           |         AS DECIMAL(18,4)) AS DOUBLE) AS sum_price,
           |       n_pre, CAST(1 AS BIGINT) AS part_files_lt_total
           |FROM state, w
           |GROUP BY prio, n_pre ORDER BY prio""".stripMargin)
  )

  /** Q208 — schema-evolution + SQL maintenance lifecycle through the
    * gate: CREATE, INSERT, `ALTER TABLE ADD COLUMN`, a second insert
    * carrying the new column, `ALTER COLUMN ... TYPE BIGINT` (pre-widen
    * int32 files read through parquet's widening promotion — metadata-
    * only), a third insert with values only the widened type can hold,
    * `DROP COLUMN` (the column leaves the read surface; old versions
    * keep it), then `CALL g.system.optimize` compacts the evolved
    * mixed-generation table. The oracle restates the end state
    * relationally — a hash match proves every step is semantics-
    * preserving metadata, and the n_mid witness pins time travel into
    * the middle of the evolution. */
  val q208 = Query(
    "q208_schema_evolution_sql",
    (s, dir) => {
      val root = java.nio.file.Paths.get(
        sys.props("java.io.tmpdir"),
        s"graft-lake-ev-${math.abs(dir.hashCode).toString}")
      def wipe(p: java.nio.file.Path): Unit =
        if (java.nio.file.Files.exists(p)) {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(p).iterator().asScala.toSeq
            .sortBy(-_.getNameCount)
            .foreach(java.nio.file.Files.deleteIfExists(_))
        }
      wipe(root)
      java.nio.file.Files.createDirectories(root)
      val cat = s"ge_${math.abs(dir.hashCode)}"
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", root.toString)
      Tables.orders(s, dir).createOrReplaceTempView("ev_orders_src")
      s.sql(s"CREATE TABLE $cat.ev (k BIGINT, cnt INT)")
      s.sql(s"""INSERT INTO $cat.ev
               |SELECT o_orderkey, CAST(o_orderkey % 100 AS INT)
               |FROM ev_orders_src WHERE o_orderkey % 3 = 0""".stripMargin)
      s.sql(s"ALTER TABLE $cat.ev ADD COLUMN tag STRING")
      s.sql(s"""INSERT INTO $cat.ev
               |SELECT o_orderkey, CAST(o_orderkey % 100 AS INT), 'B'
               |FROM ev_orders_src WHERE o_orderkey % 3 = 1""".stripMargin)
      val vMid = graft.sources.Sources.latestVersion(
        root.resolve("ev").toString)
      s.sql(s"ALTER TABLE $cat.ev ALTER COLUMN cnt TYPE BIGINT")
      s.sql(s"""INSERT INTO $cat.ev
               |SELECT o_orderkey, o_orderkey + 3000000000, 'C'
               |FROM ev_orders_src WHERE o_orderkey % 3 = 2""".stripMargin)
      s.sql(s"ALTER TABLE $cat.ev DROP COLUMN tag")
      s.sql(s"CALL $cat.system.optimize('ev', target_records => 1000000)")
      val nMid = s.sql(s"SELECT COUNT(*) FROM $cat.ev VERSION AS OF $vMid")
        .head().getLong(0)
      s.sql(s"SELECT k % 3 AS bucket, cnt FROM $cat.ev")
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"), sum(col("cnt")).as("sum_cnt"))
        .withColumn("n_mid", lit(nMid))
        .orderBy("bucket")
    },
    Some("""WITH state AS (
           |  SELECT o_orderkey AS k, CAST(o_orderkey % 100 AS BIGINT) AS cnt
           |  FROM orders WHERE o_orderkey % 3 IN (0, 1)
           |  UNION ALL
           |  SELECT o_orderkey, o_orderkey + 3000000000
           |  FROM orders WHERE o_orderkey % 3 = 2),
           |w AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_mid FROM orders
           |      WHERE o_orderkey % 3 IN (0, 1))
           |SELECT k % 3 AS bucket, CAST(COUNT(*) AS BIGINT) AS n,
           |       CAST(SUM(cnt) AS BIGINT) AS sum_cnt, n_mid
           |FROM state, w
           |GROUP BY k % 3, n_mid ORDER BY bucket""".stripMargin)
  )

  /** Q210 — the CDF-maintained MATERIALIZED star view through the
    * gate: fact (`orders`) lands in two commits, the q04-shaped view
    * (fact ⋈ customer dim) is maintained purely from the change feeds
    * ([[graft.streaming.MaterializedView]] — per fact commit the work
    * is Δfact ⋈ broadcast dim, never a fact re-scan; a dim update
    * refreshes exactly its fact rows through the keyed merge), then the
    * VIEW is aggregated. The oracle restates the join relationally over
    * the raw fixtures with the dim update applied — a hash match proves
    * incremental maintenance converged to the declared join semantics.
    * MaterializedViewSpec additionally pins 3-commit ≡ recompute,
    * deletes, replay absorption, and the per-version delta counts. */
  val q210 = Query(
    "q210_materialized_view",
    (s, dir) => {
      val root = java.nio.file.Paths.get(
        sys.props("java.io.tmpdir"),
        s"graft-lake-mv-${math.abs(dir.hashCode).toString}")
      def wipe(p: java.nio.file.Path): Unit =
        if (java.nio.file.Files.exists(p)) {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(p).iterator().asScala.toSeq
            .sortBy(-_.getNameCount)
            .foreach(java.nio.file.Files.deleteIfExists(_))
        }
      wipe(root)
      java.nio.file.Files.createDirectories(root)
      val fact = root.resolve("fact").toString
      val dim = root.resolve("dim").toString
      val view = root.resolve("view").toString
      // pinned: the two fact-slice commits share one orders scan, and
      // customer feeds the dim commit plus the dim-change merge's
      // actions (guide §5)
      val orders = Tables.orders(s, dir).select(
        col("o_orderkey"), col("o_custkey").as("cust_key"),
        col("o_totalprice"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val customer = Tables.customer(s, dir).select(
        col("c_custkey").as("cust_key"), col("c_mktsegment"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        Sources.commitVersion(customer
          .repartitionByRange(4, col("cust_key"))
          .sortWithinPartitions("cust_key"), dim)
        Sources.commitStats(s, dim, 1, Seq("cust_key"))
        Sources.commitVersion(
          orders.filter(pmod(col("o_orderkey"), lit(2)) === 0), fact)
        graft.streaming.MaterializedView.init(
          s, fact, dim, "cust_key", "o_orderkey", view)
        def drainFact(): Unit =
          graft.streaming.MaterializedView.maintainFactQuery(
            s, fact, dim, "cust_key", view, s"$root/ckpt-fact")
            .awaitTermination()
        drainFact()
        Sources.commitVersion(
          orders.filter(pmod(col("o_orderkey"), lit(2)) === 1), fact)
        drainFact()
        // dim update: every BUILDING-segment customer reclassifies
        val dimChanges = customer
          .filter(col("c_mktsegment") === "BUILDING")
          .withColumn("c_mktsegment", lit("RETAIL"))
          .withColumn("op", lit("upsert"))
        Sources.mergeVersion(s, dim, dimChanges, "cust_key")
        graft.streaming.MaterializedView.maintainDimQuery(
          s, dim, "cust_key", "o_orderkey", view, s"$root/ckpt-dim")
          .awaitTermination()
      } finally { orders.unpersist(); customer.unpersist(); () }
      Sources.readVersion(s, view)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
        .orderBy("c_mktsegment")
    },
    Some("""WITH dim2 AS (
           |  SELECT c_custkey,
           |         CASE WHEN c_mktsegment = 'BUILDING' THEN 'RETAIL'
           |              ELSE c_mktsegment END AS c_mktsegment
           |  FROM customer)
           |SELECT d.c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
           |       CAST(CAST(round(SUM(CAST(o.o_totalprice AS DECIMAL(18,4))), 4)
           |         AS DECIMAL(18,4)) AS DOUBLE) AS sum_price
           |FROM orders o JOIN dim2 d ON o.o_custkey = d.c_custkey
           |GROUP BY d.c_mktsegment ORDER BY d.c_mktsegment""".stripMargin)
  )

  /** Q211 — merge-on-read MERGE through the gate
    * ([[Sources.mergeVersionDv]], MorMergeSpec for the plan-level
    * claims): a CDC point batch — updates, brand-new keys, deletes —
    * lands as DV marks + ONE appended batch with every base file
    * carried byte-identical; a second, delete-only merge adds ZERO
    * files (the `files_stable` witness — the merge-on-read claim
    * itself); `purgeDv` then absorbs every mark and the content is
    * unchanged (the final read happens AFTER the purge). The oracle
    * restates both merges relationally over the raw fixture — a hash
    * match proves mark + append + carry + purge compose to exactly
    * MERGE semantics, and the `dv_rows` witness pins the marked
    * position count (updated keys retire their stored row AND, when
    * later deleted, their appended row — two positions).
    *
    * Scale note: at 100 TB a CDC batch of point updates under
    * copy-on-write rewrites every hit file — with range-clustered
    * 1 GB files, a 1000-key update batch could rewrite a terabyte.
    * Merge-on-read commits O(changed rows): the appended batch plus
    * position bits. */
  val q211 = Query(
    "q211_mor_merge",
    (s, dir) => {
      val root = java.nio.file.Paths.get(
        sys.props("java.io.tmpdir"),
        s"graft-lake-mor-${math.abs(dir.hashCode).toString}")
      def wipe(p: java.nio.file.Path): Unit =
        if (java.nio.file.Files.exists(p)) {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(p).iterator().asScala.toSeq
            .sortBy(-_.getNameCount)
            .foreach(java.nio.file.Files.deleteIfExists(_))
        }
      wipe(root)
      java.nio.file.Files.createDirectories(root)
      val table = root.resolve("orders_mor").toString
      val k = col("o_orderkey")
      // pinned: the base commit and the CDC slices share one scan
      // (try/finally: an exception mid-gate must not leak the pin)
      val orders = Tables.orders(s, dir)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val (filesStable, dvRows) = try {
        val v1 = Sources.commitVersion(
          orders.repartitionByRange(8, col("o_orderkey"))
            .sortWithinPartitions("o_orderkey"), table)
        Sources.commitStats(s, table, v1, Seq("o_orderkey"))
        // merge #1: the canonical CDC point batch
        val upd = orders
          .filter(pmod(k, lit(397)) === 0 && pmod(k, lit(499)) =!= 0)
          .withColumn("o_totalprice", col("o_totalprice") + lit(100))
          .withColumn("o_orderpriority", lit("U-MERGED"))
          .withColumn("op", lit("upsert"))
        val ins = orders.filter(pmod(k, lit(1000)) === 0)
          .withColumn("o_orderkey", k + lit(10000000L))
          .withColumn("o_orderpriority", lit("I-NEW"))
          .withColumn("op", lit("upsert"))
        val del = orders.filter(pmod(k, lit(499)) === 0)
          .withColumn("op", lit("delete"))
        val (vM1, _, used1) = Sources.mergeVersionDv(
          s, table, upd.unionByName(ins).unionByName(del), "o_orderkey")
        // merge #2, delete-only: appends NOTHING — file count stable
        val del2 = Sources.readVersion(s, table)
          .filter(pmod(k, lit(499)) === 1)
          .withColumn("op", lit("delete"))
        val (vM2, _, used2) = Sources.mergeVersionDv(
          s, table, del2, "o_orderkey")
        val nf = Sources.history(s, table).collect()
          .map(r => r.getInt(0) -> r.getLong(1)).toMap
        val stable =
          if (used1 && used2 && nf(vM2) == nf(vM1)) 1L else 0L
        val dvr = Sources.dvRowCount(table, vM2)
        // reclaim: purge rewrites only the DV'd files; content holds
        Sources.purgeDv(s, table)
        (stable, dvr)
      } finally { orders.unpersist(); () }
      Sources.readVersion(s, table)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          dsum(col("o_totalprice")).as("sum_price"))
        .withColumn("dv_rows", lit(dvRows))
        .withColumn("files_stable", lit(filesStable))
        .orderBy("o_orderpriority")
    },
    Some("""WITH m1 AS (
           |  SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
           |  WHERE o_orderkey % 499 <> 0 AND o_orderkey % 397 <> 0
           |  UNION ALL
           |  SELECT o_orderkey, o_totalprice + 100, 'U-MERGED' FROM orders
           |  WHERE o_orderkey % 397 = 0 AND o_orderkey % 499 <> 0
           |  UNION ALL
           |  SELECT o_orderkey + 10000000, o_totalprice, 'I-NEW' FROM orders
           |  WHERE o_orderkey % 1000 = 0),
           |fin AS (SELECT * FROM m1 WHERE o_orderkey % 499 <> 1),
           |w AS (SELECT
           |  (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
           |   WHERE o_orderkey % 499 = 0)
           |  + (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
           |     WHERE o_orderkey % 397 = 0 AND o_orderkey % 499 <> 0)
           |  + (SELECT CAST(COUNT(*) AS BIGINT) FROM m1
           |     WHERE o_orderkey % 499 = 1) AS dv_rows)
           |SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
           |       CAST(CAST(round(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 4)
           |         AS DECIMAL(18,4)) AS DOUBLE) AS sum_price,
           |       dv_rows, CAST(1 AS BIGINT) AS files_stable
           |FROM fin, w
           |GROUP BY o_orderpriority, dv_rows
           |ORDER BY o_orderpriority""".stripMargin)
  )

  /** Q212 — STORAGE-PARTITIONED JOIN through the catalog: `orders` and
    * `lineitem` land as hash-bucketed tables (`PARTITIONED BY
    * (bucket(8, orderkey))` — every commit routes rows to
    * `pmod(hash(k), 8)` dirs), and the fact-to-fact equi-join + the
    * group-by ON THE BUCKET COLUMN both ride the scans' reported
    * `KeyGroupedPartitioning` with ZERO shuffle exchanges — witnessed
    * by walking the AQE-final physical plan (`spj_shuffle_free`). The
    * oracle restates the join/aggregate relationally; a hash match
    * proves the bucket routing is a pure layout change (no row lost or
    * duplicated across bucket boundaries).
    *
    * Scale note: this is THE plan shape for 100 TB fact-to-fact joins —
    * a shuffled sort-merge join of two such tables moves both entire
    * tables across the network; co-bucketed storage-partitioned joins
    * move ZERO bytes and start merging immediately. The same layout
    * makes point predicates on the bucket column prune to 1/n of the
    * files before any footer is read (BucketedTableSpec pins that). */
  val q212 = Query(
    "q212_bucketed_spj",
    (s, dir) => {
      val root = java.nio.file.Paths.get(
        sys.props("java.io.tmpdir"),
        s"graft-lake-spj-${math.abs(dir.hashCode).toString}")
      def wipe(p: java.nio.file.Path): Unit =
        if (java.nio.file.Files.exists(p)) {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(p).iterator().asScala.toSeq
            .sortBy(-_.getNameCount)
            .foreach(java.nio.file.Files.deleteIfExists(_))
        }
      wipe(root)
      java.nio.file.Files.createDirectories(root)
      val cat = s"gb_${math.abs(dir.hashCode)}"
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", root.toString)
      Tables.orders(s, dir)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .createOrReplaceTempView("spj_o_src")
      Tables.lineitem(s, dir)
        .select("l_orderkey", "l_quantity", "l_extendedprice")
        .createOrReplaceTempView("spj_l_src")
      s.sql(s"""CREATE TABLE $cat.o (
               |  o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE)
               |PARTITIONED BY (bucket(8, o_orderkey))""".stripMargin)
      s.sql(s"""CREATE TABLE $cat.l (
               |  l_orderkey BIGINT, l_quantity DOUBLE,
               |  l_extendedprice DOUBLE)
               |PARTITIONED BY (bucket(8, l_orderkey))""".stripMargin)
      s.sql(s"INSERT INTO $cat.o SELECT * FROM spj_o_src")
      s.sql(s"INSERT INTO $cat.l SELECT * FROM spj_l_src")
      val confs = Seq(
        "spark.sql.sources.v2.bucketing.enabled" -> "true",
        "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1")
      val olds = confs.map { case (k, _) => k -> s.conf.getOption(k) }
      confs.foreach { case (k, v) => s.conf.set(k, v) }
      try {
        // join + per-orderkey aggregate, both on the bucket column:
        // the ENTIRE pipeline below the final projection is exchange-
        // free under SPJ
        val joined = s.sql(
          s"""SELECT /*+ MERGE(l) */ o.o_orderkey AS okey,
             |       l.l_quantity, l.l_extendedprice, o.o_totalprice
             |FROM $cat.o o JOIN $cat.l l
             |ON o.o_orderkey = l.l_orderkey""".stripMargin)
        val spj = joined.groupBy("okey").agg(
          count(lit(1)).as("n_items"),
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_price"),
          max(col("o_totalprice")).as("total_price"))
        // Execute THIS QueryExecution (not a derived count() plan) so the
        // adaptive plan we inspect below is the one that actually ran:
        // toRdd.count() finalizes AQE in place on spj.queryExecution.
        spj.queryExecution.toRdd.count()
        def nodes(p: org.apache.spark.sql.execution.SparkPlan)
            : Seq[org.apache.spark.sql.execution.SparkPlan] =
          p +: (p match {
            case a: org.apache.spark.sql.execution.adaptive
                .AdaptiveSparkPlanExec => nodes(a.executedPlan)
            case q: org.apache.spark.sql.execution.adaptive
                .QueryStageExec => nodes(q.plan)
            case o => o.children.flatMap(nodes)
          })
        val shuffles = nodes(spj.queryExecution.executedPlan).count {
          case _: org.apache.spark.sql.execution.exchange
              .ShuffleExchangeExec => true
          case _ => false
        }
        val witness = if (shuffles == 0) 1L else 0L
        val out = spj.filter(col("okey") % 50 === 0)
          .withColumn("spj_shuffle_free", lit(witness))
          .orderBy("okey")
        // Materialize inside the conf window: the gate's result must come
        // from the SPJ-enabled plan, not a lazy re-run after the finally
        // block restores the original bucketing/broadcast confs.
        val rows = out.collect()
        s.createDataFrame(
          s.sparkContext.parallelize(rows.toIndexedSeq, 1), out.schema)
      } finally olds.foreach {
        case (k, Some(v)) => s.conf.set(k, v)
        case (k, None) => s.conf.unset(k)
      }
    },
    Some("""SELECT o.o_orderkey AS okey,
           |       CAST(COUNT(*) AS BIGINT) AS n_items,
           |       CAST(CAST(round(SUM(CAST(l.l_quantity AS DECIMAL(18,4))), 4)
           |         AS DECIMAL(18,4)) AS DOUBLE) AS sum_qty,
           |       CAST(CAST(round(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))), 4)
           |         AS DECIMAL(18,4)) AS DOUBLE) AS sum_price,
           |       MAX(o.o_totalprice) AS total_price,
           |       CAST(1 AS BIGINT) AS spj_shuffle_free
           |FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
           |WHERE o.o_orderkey % 50 = 0
           |GROUP BY o.o_orderkey
           |ORDER BY okey""".stripMargin)
  )

  /** Q214 — CDF-maintained incremental AGGREGATE view through the gate
    * ([[graft.streaming.MaterializedView.maintainAggQuery]]): a GROUP
    * BY rollup over a versioned base table is kept current across (1) a
    * plain insert commit, (2) a MERGE-ON-READ CDC batch whose updates
    * MOVE rows between groups (DV-delete + re-insert in one commit),
    * and (3) a DV-ONLY delete (identical manifest, sidecar-only) — the
    * change feed emits grown deletion vectors as delete rows, inserts
    * contribute +1/+value, deletes −1/−value, and only TOUCHED groups
    * keyed-merge into the view (groups counting to zero leave). The
    * oracle restates the final rollup relationally over the raw
    * fixture: a hash match proves three maintenance passes compose to
    * exactly the recompute, down to the exact-decimal sums.
    *
    * Scale note: the base's history is never re-aggregated — per commit
    * the maintenance work is O(Δbase) + a merge bounded by touched
    * groups. At 100 TB that is the difference between a rollup refresh
    * costing megabytes and a full table scan. */
  val q214 = Query(
    "q214_incremental_agg_mv",
    (s, dir) => {
      val root = java.nio.file.Paths.get(
        sys.props("java.io.tmpdir"),
        s"graft-lake-aggmv-${math.abs(dir.hashCode).toString}")
      def wipe(p: java.nio.file.Path): Unit =
        if (java.nio.file.Files.exists(p)) {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(p).iterator().asScala.toSeq
            .sortBy(-_.getNameCount)
            .foreach(java.nio.file.Files.deleteIfExists(_))
        }
      wipe(root)
      java.nio.file.Files.createDirectories(root)
      val base = root.resolve("base").toString
      val view = root.resolve("aggview").toString
      // pinned: the slice commit and the three-slice CDC merge share
      // one orders scan (guide §5); try/finally: an exception
      // mid-gate must not leak the pin
      val orders = Tables.orders(s, dir).select(
        col("o_orderkey"), col("o_orderpriority").as("prio"),
        col("o_totalprice")).persist()
      try {
        val k = col("o_orderkey")
        Sources.commitVersion(orders.filter(pmod(k, lit(2)) === 0)
          .repartitionByRange(4, k).sortWithinPartitions("o_orderkey"), base)
        Sources.commitStats(s, base, 1, Seq("o_orderkey"))
        graft.streaming.MaterializedView.initAgg(
          s, base, "prio", "o_totalprice", view)
        def drain(): Unit =
          graft.streaming.MaterializedView.maintainAggQuery(
            s, base, "prio", "o_totalprice", view, s"$root/ckpt-agg")
            .awaitTermination()
        drain()
        // merge-on-read CDC batch: group moves, deletes, a new group
        val upd = orders.filter(pmod(k, lit(2)) === 0 && pmod(k, lit(7)) === 0)
          .withColumn("prio", lit("X-MOVED")).withColumn("op", lit("upsert"))
        val del = orders.filter(pmod(k, lit(2)) === 0 &&
            pmod(k, lit(11)) === 0 && pmod(k, lit(7)) =!= 0)
          .withColumn("op", lit("delete"))
        val ins = orders.filter(pmod(k, lit(2)) === 1 && pmod(k, lit(9)) === 0)
          .withColumn("prio", lit("Z-NEW")).withColumn("op", lit("upsert"))
        Sources.mergeVersionDv(
          s, base, upd.unionByName(del).unionByName(ins), "o_orderkey")
        drain()
        // DV-only commit: the X-MOVED group zeroes out and must LEAVE
        Sources.deleteWhereDv(s, base, col("prio") === lit("X-MOVED"))
        drain()
      } finally { orders.unpersist(); () }
      Sources.readVersion(s, view)
        .select(col("prio"), col("n_rows"),
          col("sum_val").cast("decimal(18,4)").cast("double")
            .as("sum_price"))
        .orderBy("prio")
    },
    Some("""WITH fin AS (
           |  SELECT o_orderpriority AS prio, o_totalprice FROM orders
           |  WHERE o_orderkey % 2 = 0 AND o_orderkey % 7 <> 0
           |    AND o_orderkey % 11 <> 0
           |  UNION ALL
           |  SELECT 'Z-NEW', o_totalprice FROM orders
           |  WHERE o_orderkey % 2 = 1 AND o_orderkey % 9 = 0)
           |SELECT prio, CAST(COUNT(*) AS BIGINT) AS n_rows,
           |       CAST(CAST(round(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 4)
           |         AS DECIMAL(18,4)) AS DOUBLE) AS sum_price
           |FROM fin GROUP BY prio ORDER BY prio""".stripMargin)
  )

  /** Q218 — SQL MERGE as a MERGE-ON-READ delta, witnessed: a pure-SQL
    * CDC batch (matched-UPDATE, matched-DELETE, not-matched-INSERT arms
    * in one `MERGE INTO`) lands through the `SupportsDelta` row-level
    * path — every base file carried byte-identical into the new
    * manifest (`files_carried` witness), matched rows retiring their
    * stored positions as DV marks (`dv_rows` witness, closed-form in
    * the oracle), inserts as ONE appended batch. The oracle restates
    * the end state relationally; the hash match proves scan-identity →
    * per-row ops → carried-manifest commit compose to exactly standard
    * MERGE semantics.
    *
    * Scale note: the group-based form this replaced rewrote the WHOLE
    * table per MERGE — at 100 TB, this statement's footprint drops from
    * the table's size to O(changed rows). */
  val q218 = Query(
    "q218_sql_mor_merge",
    (s, dir) => {
      val root = java.nio.file.Paths.get(
        sys.props("java.io.tmpdir"),
        s"graft-lake-sqlmor-${math.abs(dir.hashCode).toString}")
      def wipe(p: java.nio.file.Path): Unit =
        if (java.nio.file.Files.exists(p)) {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(p).iterator().asScala.toSeq
            .sortBy(-_.getNameCount)
            .foreach(java.nio.file.Files.deleteIfExists(_))
        }
      wipe(root)
      java.nio.file.Files.createDirectories(root)
      val cat = s"gs_${math.abs(dir.hashCode)}"
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", root.toString)
      Tables.orders(s, dir)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
        .createOrReplaceTempView("mor_orders_src")
      s.sql(s"""CREATE TABLE $cat.t (
               |  o_orderkey BIGINT, o_custkey BIGINT,
               |  o_totalprice DOUBLE, o_orderpriority STRING)""".stripMargin)
      s.sql(s"INSERT INTO $cat.t SELECT * FROM mor_orders_src")
      val t = root.resolve("t").toString
      val vBase = Sources.latestVersion(t)
      s.sql(
        """CREATE OR REPLACE TEMPORARY VIEW mor_batch AS
          |SELECT o_orderkey AS k, o_custkey, o_totalprice, 'u' AS op
          |FROM mor_orders_src WHERE o_orderkey % 97 = 0
          |UNION ALL
          |SELECT o_orderkey, o_custkey, o_totalprice, 'd'
          |FROM mor_orders_src
          |WHERE o_orderkey % 89 = 0 AND o_orderkey % 97 <> 0
          |UNION ALL
          |SELECT o_orderkey + 20000000, o_custkey, o_totalprice, 'i'
          |FROM mor_orders_src WHERE o_orderkey % 500 = 0""".stripMargin)
      s.sql(s"""MERGE INTO $cat.t t USING mor_batch s
               |ON t.o_orderkey = s.k
               |WHEN MATCHED AND s.op = 'u' THEN UPDATE SET
               |  o_totalprice = t.o_totalprice + 50.0,
               |  o_orderpriority = 'S-MOR'
               |WHEN MATCHED AND s.op = 'd' THEN DELETE
               |WHEN NOT MATCHED AND s.op = 'i' THEN INSERT
               |  (o_orderkey, o_custkey, o_totalprice, o_orderpriority)
               |  VALUES (s.k, s.o_custkey, s.o_totalprice, 'M-NEW')
               |""".stripMargin)
      val vM = Sources.latestVersion(t)
      val dvRows = Sources.dvRowCount(t, vM)
      // carried-manifest witness via the $files metadata table is not
      // version-pinned, so read the manifests directly
      def manifest(v: Int): Set[String] = {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.readAllLines(
          java.nio.file.Paths.get(t, s"v$v.manifest")).asScala.toSet
          // data files only — `#` trailers are commit metadata
          .filter(l => l.nonEmpty && !l.startsWith("#"))
      }
      val carried =
        if (manifest(vBase).subsetOf(manifest(vM))) 1L else 0L
      s.sql(s"SELECT o_orderpriority, o_totalprice FROM $cat.t")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
        .withColumn("dv_rows", lit(dvRows))
        .withColumn("files_carried", lit(carried))
        .orderBy("o_orderpriority")
    },
    Some("""WITH fin AS (
           |  SELECT o_orderpriority, o_totalprice FROM orders
           |  WHERE o_orderkey % 97 <> 0
           |    AND NOT (o_orderkey % 89 = 0 AND o_orderkey % 97 <> 0)
           |  UNION ALL
           |  SELECT 'S-MOR', o_totalprice + 50.0 FROM orders
           |  WHERE o_orderkey % 97 = 0
           |  UNION ALL
           |  SELECT 'M-NEW', o_totalprice FROM orders
           |  WHERE o_orderkey % 500 = 0),
           |w AS (SELECT
           |  (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
           |   WHERE o_orderkey % 97 = 0)
           |  + (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
           |     WHERE o_orderkey % 89 = 0 AND o_orderkey % 97 <> 0)
           |  AS dv_rows)
           |SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
           |       CAST(CAST(round(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 4)
           |         AS DECIMAL(18,4)) AS DOUBLE) AS sum_price,
           |       dv_rows, CAST(1 AS BIGINT) AS files_carried
           |FROM fin, w
           |GROUP BY o_orderpriority, dv_rows
           |ORDER BY o_orderpriority""".stripMargin)
  )

  /** Q219 — TEMPORAL PARTITION TRANSFORM lifecycle through the gate
    * (`PARTITIONED BY (months(ets))`, [[Sources.PartTransform]]): the
    * Iceberg-style HIDDEN partitioning a 100 TB events table actually
    * runs on. Events (spread over 3 calendar months, deterministic by
    * key) are INSERTed into a months-partitioned catalog table — every
    * file lands under a `_pt=yyyy-MM` dir, the derived value never in
    * data files or the schema — then a point DELETE goes merge-on-read
    * (DV sidecar; layout untouched), and the final monthly rollup
    * filters on the RAW timestamp: [[graft.sources.ManifestFileIndex]]'s transform
    * keeper converts the `ets >=` bound to a window test against each
    * file's `_pt` segment and drops whole months driver-side
    * (numFiles-asserted in TransformPartitionSpec; here the
    * `month_files_pruned` witness re-checks it on the executed plan).
    * The oracle restates the lifecycle relationally — hash match
    * proves hidden-transform commit + DV delete + window pruning
    * compose to plain SQL semantics. */
  val q219 = Query(
    "q219_transform_partition",
    (s, dir) => {
      val root = java.nio.file.Paths.get(
        sys.props("java.io.tmpdir"),
        s"graft-lake-xform-${math.abs(dir.hashCode).toString}")
      def wipe(p: java.nio.file.Path): Unit =
        if (java.nio.file.Files.exists(p)) {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(p).iterator().asScala.toSeq
            .sortBy(-_.getNameCount)
            .foreach(java.nio.file.Files.deleteIfExists(_))
        }
      wipe(root)
      java.nio.file.Files.createDirectories(root)
      val cat = s"gx_${math.abs(dir.hashCode)}"
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", root.toString)
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("value"),
          (timestamp_micros((col("ts") / 1000L).cast("long")) +
            make_interval(lit(0), (col("event_id") % 3).cast("int")))
            .as("ets"))
        .createOrReplaceTempView("xform_events_src")
      s.sql(s"""CREATE TABLE $cat.ev (
               |  event_id BIGINT, user_id BIGINT, value DOUBLE,
               |  ets TIMESTAMP)
               |PARTITIONED BY (months(ets))""".stripMargin)
      s.sql(s"INSERT INTO $cat.ev SELECT * FROM xform_events_src")
      // pruning witness on the EXECUTED pre-delete plan (the q212
      // device): the raw-ts predicate must scan strictly fewer files
      // than the table holds. Computed BEFORE the DV delete: the walk
      // counts the stock parquet scan of the clean version; the
      // DV-carrying version plans through GraftNativeScan, whose
      // window pruning NativeScanSpec witnesses.
      val probe = s.sql(
        s"""SELECT ets, user_id, value FROM $cat.ev
           |WHERE ets >= TIMESTAMP '2024-02-01 00:00:00'""".stripMargin)
      probe.queryExecution.toRdd.count()
      def nodes(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.SparkPlan] =
        p +: (p match {
          case a: org.apache.spark.sql.execution.adaptive
              .AdaptiveSparkPlanExec => nodes(a.executedPlan)
          case q: org.apache.spark.sql.execution.adaptive
              .QueryStageExec => nodes(q.plan)
          case o => o.children.flatMap(nodes)
        })
      val scanned = nodes(probe.queryExecution.executedPlan).collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.scan match {
            case f: org.apache.spark.sql.execution.datasources.v2.FileScan =>
              f.fileIndex.listFiles(f.partitionFilters, f.dataFilters)
                .map(_.files.length.toLong).sum
            case _ => 0L
          }
      }.sum
      val totalFiles = s.sql(s"SELECT COUNT(*) FROM $cat.`ev$$files`")
        .head().getLong(0)
      val witness = if (scanned > 0 && scanned < totalFiles) 1L else 0L
      s.sql(s"DELETE FROM $cat.ev WHERE event_id IN (1, 2, 3)")
      s.sql(
        s"""SELECT ets, user_id, value FROM $cat.ev
           |WHERE ets >= TIMESTAMP '2024-02-01 00:00:00'""".stripMargin)
        .groupBy(date_format(col("ets"), "yyyy-MM").as("month"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("n_users"),
          dsum(col("value")).as("sum_value"))
        .withColumn("month_files_pruned", lit(witness)).orderBy("month")
    },
    Some("""WITH src AS (
           |  SELECT event_id, user_id, value,
           |         ts + CAST(event_id % 3 AS INT) * INTERVAL 1 MONTH AS ets
           |  FROM events),
           |state AS (
           |  SELECT * FROM src WHERE event_id NOT IN (1, 2, 3))
           |SELECT strftime(ets, '%Y-%m') AS month,
           |       CAST(COUNT(*) AS BIGINT) AS n,
           |       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           |       CAST(CAST(round(SUM(CAST(value AS DECIMAL(18,4))), 4)
           |         AS DECIMAL(18,4)) AS DOUBLE) AS sum_value,
           |       CAST(1 AS BIGINT) AS month_files_pruned
           |FROM state
           |WHERE ets >= TIMESTAMP '2024-02-01 00:00:00'
           |GROUP BY 1 ORDER BY 1""".stripMargin)
  )

  /** Q220 — EQUALITY DELETES end-to-end, oracle-gated: the O(keys)
    * CDC upsert path ([[Sources.mergeVersionEq]], the Iceberg
    * equality-delete-file design on the manifest format). Two CDC
    * batches land as key sidecars + appended upsert batches with NO
    * base-file scan at commit time (EqualityDeleteSpec pins the
    * zero-input-records witness; here `files_carried` pins that every
    * eq commit's manifest is the previous one plus appended files —
    * the no-rewrite half of the claim), an unrelated append carries
    * both pending entries, [[Sources.purgeEq]] absorbs them back into
    * clean files, and the final state reads back through the indexed
    * scan. Batch 2 re-upserts half of batch 1's keys, so the hash
    * match also proves LAST-WRITER-WINS composes across scoped
    * entries: each entry shadows exactly the files committed before
    * it, never its own (or any later) batch. The oracle restates the
    * lifecycle relationally over the raw `orders` fixture.
    *
    * Scale note: this is the 100 TB streaming-CDC shape — commit cost
    * O(change keys) instead of [[Sources.mergeVersionDv]]'s
    * O(candidate-file rows) write-time position scan; readers pay a
    * key-set test per in-scope row and pending entry until the
    * (bounded, schedulable) purge rewrite reclaims the fast path. */
  val q220 = Query(
    "q220_equality_deletes",
    (s, dir) => {
      val root = java.nio.file.Paths.get(
        sys.props("java.io.tmpdir"),
        s"graft-lake-eq-${math.abs(dir.hashCode).toString}")
      def wipe(p: java.nio.file.Path): Unit =
        if (java.nio.file.Files.exists(p)) {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(p).iterator().asScala.toSeq
            .sortBy(-_.getNameCount)
            .foreach(java.nio.file.Files.deleteIfExists(_))
        }
      wipe(root)
      java.nio.file.Files.createDirectories(root)
      val table = root.resolve("orders_eq").toString
      def manifest(v: Int): Seq[String] = {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.readAllLines(
          java.nio.file.Paths.get(table, s"v$v.manifest")).asScala.toSeq
          // data files only — `#sidecar` trailers are commit metadata
          .filter(l => l.nonEmpty && !l.startsWith("#"))
      }
      // pinned: the base commit, both CDC batches (two merge actions
      // each), and the backfill append share one orders scan
      // (try/finally: an exception mid-gate must not leak the pin)
      val orders = Tables.orders(s, dir)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val carried = try {
        val v1 = Sources.commitVersion(
          orders.repartitionByRange(8, col("o_orderkey"))
            .sortWithinPartitions("o_orderkey"), table)
        // CDC batch 1: every key ≡ 0 (mod 7) upserted, every key ≡ 0
        // (mod 499) ∧ ≢ 0 (mod 7) deleted — one changeset, one eq commit
        val b1 = orders.filter(pmod(col("o_orderkey"), lit(7)) === 0)
          .withColumn("o_orderpriority", lit("Z1-CDC"))
          .withColumn("o_totalprice", col("o_totalprice") + 1.0d)
          .withColumn("op", lit("upsert"))
          .unionByName(orders
            .filter(pmod(col("o_orderkey"), lit(499)) === 0 &&
              pmod(col("o_orderkey"), lit(7)) =!= 0)
            .withColumn("op", lit("delete")))
        val (v2, _) = Sources.mergeVersionEq(s, table, b1, Seq("o_orderkey"))
        // CDC batch 2 re-upserts the even half of batch 1's keys — the
        // LWW composition the scoped-entry design must get right
        val b2 = orders.filter(pmod(col("o_orderkey"), lit(14)) === 0)
          .withColumn("o_orderpriority", lit("Z2-CDC"))
          .withColumn("o_totalprice", col("o_totalprice") + 2.0d)
          .withColumn("op", lit("upsert"))
        val (v3, _) = Sources.mergeVersionEq(s, table, b2, Seq("o_orderkey"))
        // the no-rewrite witness: each eq commit CARRIED every prior file
        val c =
          if (manifest(v2).take(manifest(v1).length) == manifest(v1) &&
            manifest(v3).take(manifest(v2).length) == manifest(v2)) 1L else 0L
        // unrelated append: both pending entries must carry
        Sources.commitVersion(
          orders.filter(pmod(col("o_orderkey"), lit(10)) === 0)
            .withColumn("o_orderpriority", lit("9-BACKFILL")), table)
        c
      } finally { orders.unpersist(); () }
      val pending = Sources.eqOf(table, Sources.latestVersion(table))
        .length.toLong
      // reclaim: purge rewrites exactly the in-scope files; the head
      // version is clean again
      Sources.purgeEq(s, table)
      val clean =
        if (Sources.eqOf(table, Sources.latestVersion(table)).isEmpty) 1L
        else 0L
      Sources.readVersion(s, table)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          dsum(col("o_totalprice")).as("sum_price"))
        .withColumn("files_carried", lit(carried))
        .withColumn("eq_pending", lit(pending))
        .withColumn("eq_clean", lit(clean))
        .orderBy("o_orderpriority")
    },
    Some("""WITH state AS (
           |  SELECT o_totalprice, o_orderpriority FROM orders
           |  WHERE o_orderkey % 7 <> 0 AND o_orderkey % 499 <> 0
           |  UNION ALL
           |  SELECT o_totalprice + 1, 'Z1-CDC' FROM orders
           |  WHERE o_orderkey % 7 = 0 AND o_orderkey % 14 <> 0
           |  UNION ALL
           |  SELECT o_totalprice + 2, 'Z2-CDC' FROM orders
           |  WHERE o_orderkey % 14 = 0
           |  UNION ALL
           |  SELECT o_totalprice, '9-BACKFILL' FROM orders
           |  WHERE o_orderkey % 10 = 0)
           |SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
           |       CAST(CAST(round(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 4)
           |         AS DECIMAL(18,4)) AS DOUBLE) AS sum_price,
           |       CAST(1 AS BIGINT) AS files_carried,
           |       CAST(2 AS BIGINT) AS eq_pending,
           |       CAST(1 AS BIGINT) AS eq_clean
           |FROM state
           |GROUP BY o_orderpriority
           |ORDER BY o_orderpriority""".stripMargin)
  )

  /** Q226 — SQL row-level DML on an EQ-PENDING table, oracle-gated:
    * the gap q220 left open. A CDC-fed table carries pending equality
    * deletes most of the time, and until this round MERGE/UPDATE/DELETE
    * refused on it until `purge_eq`. Now the target scan
    * ([[graft.sources.GraftNativeScan]]) drops eq-retired rows inside
    * its read — each in-scope file's key columns tested against the
    * union of the key sets reaching it (`Sources.Deletes`) — so they
    * are never match candidates. The lifecycle: eq-merge (API, O(keys)) → SQL MERGE on
    * the PENDING table (updates the LIVE upserted generation, never
    * the retired one; re-inserts an eq-deleted key as NOT MATCHED) →
    * SQL row-level DELETE (modulo predicate: untranslatable, so it
    * exercises the delta path, landing as pure DV marks) → purge →
    * final state. Witnesses: `eq_pending` pins that the DML commits
    * CARRIED the entries, `files_carried` that the MERGE rewrote no
    * base file, `eq_clean` that purge absorbed everything. A 'GHOST'
    * group would appear in the output if a dead row ever matched —
    * the hash gate makes that impossible to miss.
    *
    * Scale shape: the DML read tax on a pending table is one set probe
    * per row and key shape inside the target scan, plus the entries'
    * key columns — the deferred position work the O(keys) commit
    * skipped, paid exactly where Iceberg pays it (equality deletes
    * applied at read), reclaimed by the scheduled purge. */
  val q226 = Query(
    "q226_eq_pending_dml",
    (s, dir) => {
      val root = java.nio.file.Paths.get(
        sys.props("java.io.tmpdir"),
        s"graft-lake-eqdml-${math.abs(dir.hashCode).toString}")
      def wipe(p: java.nio.file.Path): Unit =
        if (java.nio.file.Files.exists(p)) {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(p).iterator().asScala.toSeq
            .sortBy(-_.getNameCount)
            .foreach(java.nio.file.Files.deleteIfExists(_))
        }
      wipe(root)
      java.nio.file.Files.createDirectories(root)
      val cat = s"geq_${math.abs(dir.hashCode)}"
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", root.toString)
      // pinned (r10 verdict item 6): the SQL-routed lifecycle — INSERT
      // INTO ... SELECT, the MERGE's two source arms — and the eq CDC
      // batch all consume this one projected orders scan; registering
      // the PINNED frame as the temp view makes the catalog paths hit
      // the cache too (CacheManager substitutes on plan match)
      val src = Tables.orders(s, dir)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val (vBase, vMerge, t) = try {
        src.createOrReplaceTempView("eqdml_orders_src")
        s.sql(s"""CREATE TABLE $cat.t (
                 |  o_orderkey BIGINT, o_custkey BIGINT,
                 |  o_totalprice DOUBLE, o_orderpriority STRING)""".stripMargin)
        s.sql(s"INSERT INTO $cat.t SELECT * FROM eqdml_orders_src")
        val t = root.resolve("t").toString
        val vBase = Sources.latestVersion(t)
        // CDC batch through the O(keys) eq path: %101 keys upserted,
        // %103 (and not %101) keys deleted
        val k = col("o_orderkey")
        val eqBatch = src.filter(pmod(k, lit(101)) === 0)
          .withColumn("o_totalprice", col("o_totalprice") + 1.0d)
          .withColumn("o_orderpriority", lit("E-CDC"))
          .withColumn("op", lit("upsert"))
          .unionByName(src
            .filter(pmod(k, lit(103)) === 0 && pmod(k, lit(101)) =!= 0)
            .withColumn("op", lit("delete")))
        Sources.mergeVersionEq(s, t, eqBatch, Seq("o_orderkey"))
        // SQL MERGE on the PENDING table: 'u' rows hit the live upserted
        // generation; 'r' rows are eq-deleted keys — MATCHED would mark
        // them GHOST (and fail the hash gate), NOT MATCHED re-inserts
        s.sql(
          """CREATE OR REPLACE TEMPORARY VIEW eqdml_batch AS
            |SELECT o_orderkey AS mk, o_custkey, o_totalprice, 'u' AS op
            |FROM eqdml_orders_src
            |WHERE o_orderkey % 101 = 0 AND o_orderkey % 202 <> 0
            |UNION ALL
            |SELECT o_orderkey, o_custkey, o_totalprice, 'r'
            |FROM eqdml_orders_src
            |WHERE o_orderkey % 103 = 0 AND o_orderkey % 101 <> 0""".stripMargin)
        s.sql(s"""MERGE INTO $cat.t t USING eqdml_batch s
                 |ON t.o_orderkey = s.mk
                 |WHEN MATCHED AND s.op = 'u' THEN UPDATE SET
                 |  o_totalprice = t.o_totalprice + 2.0,
                 |  o_orderpriority = 'S-DML'
                 |WHEN MATCHED AND s.op = 'r' THEN UPDATE SET
                 |  o_orderpriority = 'GHOST'
                 |WHEN NOT MATCHED AND s.op = 'r' THEN INSERT
                 |  (o_orderkey, o_custkey, o_totalprice, o_orderpriority)
                 |  VALUES (s.mk, s.o_custkey, s.o_totalprice, 'R-BORN')
                 |""".stripMargin)
        (vBase, Sources.latestVersion(t), t)
      } finally { src.unpersist(); () }
      def manifest(v: Int): Set[String] = {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.readAllLines(
          java.nio.file.Paths.get(t, s"v$v.manifest")).asScala.toSet
          .filter(l => l.nonEmpty && !l.startsWith("#"))
      }
      val carried =
        if (manifest(vBase).subsetOf(manifest(vMerge))) 1L else 0L
      // SQL row-level DELETE on the still-pending table (the modulo
      // predicate is untranslatable — routes the delta path, DV marks)
      s.sql(s"DELETE FROM $cat.t WHERE o_orderkey % 107 = 0 " +
        s"AND o_orderpriority <> 'R-BORN'")
      val pending =
        if (Sources.eqOf(t, Sources.latestVersion(t)).nonEmpty) 1L else 0L
      Sources.purgeEq(s, t)
      val clean =
        if (Sources.eqOf(t, Sources.latestVersion(t)).isEmpty) 1L else 0L
      s.sql(s"SELECT o_orderpriority, o_totalprice FROM $cat.t")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
        .withColumn("files_carried", lit(carried))
        .withColumn("eq_pending", lit(pending))
        .withColumn("eq_clean", lit(clean))
        .orderBy("o_orderpriority")
    },
    Some("""WITH s1 AS (
           |  SELECT o_orderkey AS k, o_totalprice AS price,
           |         o_orderpriority AS prio FROM orders
           |  WHERE o_orderkey % 101 <> 0
           |    AND NOT (o_orderkey % 103 = 0 AND o_orderkey % 101 <> 0)
           |  UNION ALL
           |  SELECT o_orderkey, o_totalprice + 1.0, 'E-CDC' FROM orders
           |  WHERE o_orderkey % 101 = 0),
           |s2 AS (
           |  SELECT k,
           |         CASE WHEN k % 101 = 0 AND k % 202 <> 0
           |              THEN price + 2.0 ELSE price END AS price,
           |         CASE WHEN k % 101 = 0 AND k % 202 <> 0
           |              THEN 'S-DML' ELSE prio END AS prio
           |  FROM s1
           |  UNION ALL
           |  SELECT o_orderkey, o_totalprice, 'R-BORN' FROM orders
           |  WHERE o_orderkey % 103 = 0 AND o_orderkey % 101 <> 0),
           |s3 AS (
           |  SELECT * FROM s2
           |  WHERE NOT (k % 107 = 0 AND prio <> 'R-BORN'))
           |SELECT prio AS o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
           |       CAST(CAST(round(SUM(CAST(price AS DECIMAL(18,4))), 4)
           |         AS DECIMAL(18,4)) AS DOUBLE) AS sum_price,
           |       CAST(1 AS BIGINT) AS files_carried,
           |       CAST(1 AS BIGINT) AS eq_pending,
           |       CAST(1 AS BIGINT) AS eq_clean
           |FROM s3
           |GROUP BY prio
           |ORDER BY prio""".stripMargin)
  )

  /** Q228 — PARTITION-SPEC EVOLUTION lifecycle, oracle-gated: the
    * events table starts `PARTITIONED BY (days(ets))`, grows, and is
    * re-declared `hours(ets)` via `CALL system.set_partitioning` —
    * Iceberg's spec-evolution move, restated with the per-file spec id
    * ENCODED IN THE `_pt` VALUE'S SHAPE (`yyyy-MM-dd` vs
    * `yyyy-MM-dd-HH` are unambiguous), so old day-laid files keep
    * their layout AND their pruning window with zero rewrite and zero
    * bookkeeping ([[graft.sources.ManifestFileIndex]]'s shape-inferred
    * `windowOf`). Witnesses: `layout_mixed` pins that one manifest
    * really serves both generations (a day-shaped and an hour-shaped
    * `_pt` segment present simultaneously); `files_pruned` pins that a
    * raw-timestamp predicate prunes across BOTH generations on the
    * executed plan (the q212/q219 device). TransformPartitionSpec
    * covers the sharper per-generation window assertions and the
    * convergence path (OPTIMIZE rewrites old files under the new
    * spec). The oracle restates the final state relationally.
    *
    * Scale shape: an events table's natural life — days(ts) while
    * small, hours(ts) once a day's partition outgrows a task — now
    * costs one property write instead of a full rewrite; the table
    * converges to the new layout at its normal compaction cadence. */
  val q228 = Query(
    "q228_spec_evolution",
    (s, dir) => {
      val root = java.nio.file.Paths.get(
        sys.props("java.io.tmpdir"),
        s"graft-lake-specev-${math.abs(dir.hashCode).toString}")
      def wipe(p: java.nio.file.Path): Unit =
        if (java.nio.file.Files.exists(p)) {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(p).iterator().asScala.toSeq
            .sortBy(-_.getNameCount)
            .foreach(java.nio.file.Files.deleteIfExists(_))
        }
      wipe(root)
      java.nio.file.Files.createDirectories(root)
      val cat = s"gpe_${math.abs(dir.hashCode)}"
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", root.toString)
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("value"),
          (timestamp_micros((col("ts") / 1000L).cast("long")) +
            make_interval(lit(0), (col("event_id") % 3).cast("int")))
            .as("ets"))
        .createOrReplaceTempView("specev_events_src")
      s.sql(s"""CREATE TABLE $cat.ev (
               |  event_id BIGINT, user_id BIGINT, value DOUBLE,
               |  ets TIMESTAMP)
               |PARTITIONED BY (days(ets))""".stripMargin)
      // generation 2 is a bounded HOT WINDOW (three March days), not a
      // whole month of hours: hours(ts) exists to split the partitions
      // the table is currently ingesting, and partitioning three months
      // of history by hour would mint ~2k near-empty files — the exact
      // small-file pathology OPTIMIZE exists to undo. Gen-1 takes the
      // complement, so the two inserts still partition every source row
      // and the oracle restates the whole table.
      val hot = "event_id % 3 = 2 AND ets >= TIMESTAMP '2024-03-10' " +
        "AND ets < TIMESTAMP '2024-03-13'"
      // generation 1 under days(ets)
      s.sql(s"INSERT INTO $cat.ev SELECT * FROM specev_events_src " +
        s"WHERE NOT ($hot)")
      // evolve the spec; generation 2 lands under hours(ets)
      s.sql(s"CALL $cat.system.set_partitioning('ev', 'hours(ets)')")
      s.sql(s"INSERT INTO $cat.ev SELECT * FROM specev_events_src " +
        s"WHERE $hot")
      val t = root.resolve("ev").toString
      // mixed-layout witness: the head manifest carries BOTH shapes
      def ptLens: Set[Int] = {
        import scala.jdk.CollectionConverters._
        val v = graft.sources.Sources.latestVersion(t)
        java.nio.file.Files.readAllLines(
          java.nio.file.Paths.get(t, s"v$v.manifest")).asScala
          .filter(l => l.nonEmpty && !l.startsWith("#"))
          .flatMap(_.split('/').find(_.startsWith("_pt=")))
          .map(_.length - 4).toSet
      }
      val mixed = if (ptLens == Set(10, 13)) 1L else 0L
      // pruning witness on the executed plan: the raw-ts predicate
      // must prune generation-1 day files AND touch generation-2 —
      // strictly fewer files than the table holds, more than zero
      val probe = s.sql(
        s"""SELECT ets, user_id, value FROM $cat.ev
           |WHERE ets >= TIMESTAMP '2024-02-01 00:00:00'""".stripMargin)
      probe.queryExecution.toRdd.count()
      def nodes(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.SparkPlan] =
        p +: (p match {
          case a: org.apache.spark.sql.execution.adaptive
              .AdaptiveSparkPlanExec => nodes(a.executedPlan)
          case q: org.apache.spark.sql.execution.adaptive
              .QueryStageExec => nodes(q.plan)
          case o => o.children.flatMap(nodes)
        })
      val scanned = nodes(probe.queryExecution.executedPlan).collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.scan match {
            case f: org.apache.spark.sql.execution.datasources.v2.FileScan =>
              f.fileIndex.listFiles(f.partitionFilters, f.dataFilters)
                .map(_.files.length.toLong).sum
            case _ => 0L
          }
      }.sum
      val totalFiles = s.sql(s"SELECT COUNT(*) FROM $cat.`ev$$files`")
        .head().getLong(0)
      val pruned = if (scanned > 0 && scanned < totalFiles) 1L else 0L
      s.sql(s"SELECT ets, user_id, value FROM $cat.ev")
        .groupBy(date_format(col("ets"), "yyyy-MM").as("month"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("n_users"),
          dsum(col("value")).as("sum_value"))
        .withColumn("layout_mixed", lit(mixed))
        .withColumn("files_pruned", lit(pruned))
        .orderBy("month")
    },
    Some("""WITH src AS (
           |  SELECT event_id, user_id, value,
           |         ts + CAST(event_id % 3 AS INT) * INTERVAL 1 MONTH AS ets
           |  FROM events)
           |SELECT strftime(ets, '%Y-%m') AS month,
           |       CAST(COUNT(*) AS BIGINT) AS n,
           |       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           |       CAST(CAST(round(SUM(CAST(value AS DECIMAL(18,4))), 4)
           |         AS DECIMAL(18,4)) AS DOUBLE) AS sum_value,
           |       CAST(1 AS BIGINT) AS layout_mixed,
           |       CAST(1 AS BIGINT) AS files_pruned
           |FROM src
           |GROUP BY 1 ORDER BY 1""".stripMargin)
  )

  /** Q229 — CDC MERGE SCHEMA EVOLUTION, oracle-gated (Delta's
    * `mergeSchema` restated on the manifest format): with the
    * `spark.graft.mergeSchema=true` session opt-in, an O(keys) eq
    * merge whose change batch carries a NEW column
    * ([[Sources.mergeVersionEq]]) auto-evolves the declared schema —
    * the new column appends, pre-evolution rows read as typed NULLs,
    * and the PRE-evolution version stays pinned to its own schema
    * (time travel never sees the new column). Without the flag the
    * column is dropped at alignment — an unannounced CDC schema change
    * is usually an upstream bug, so opt-in is the contract, exactly
    * Delta's. Witnesses: `old_pinned` pins that v1's schema still has
    * exactly the original columns; `flag_scoped` pins that the same
    * merge WITHOUT the flag did not evolve (its version's schema is
    * unchanged). The oracle restates the final state with the NULL
    * group explicit. */
  val q229 = Query(
    "q229_merge_schema_evolution",
    (s, dir) => {
      val root = java.nio.file.Paths.get(
        sys.props("java.io.tmpdir"),
        s"graft-lake-mse-${math.abs(dir.hashCode).toString}")
      def wipe(p: java.nio.file.Path): Unit =
        if (java.nio.file.Files.exists(p)) {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(p).iterator().asScala.toSeq
            .sortBy(-_.getNameCount)
            .foreach(java.nio.file.Files.deleteIfExists(_))
        }
      wipe(root)
      java.nio.file.Files.createDirectories(root)
      val t = root.resolve("orders_mse").toString
      val src = Tables.orders(s, dir)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
      val k = col("o_orderkey")
      val v1 = Sources.commitVersion(src, t)
      val batch = src.filter(pmod(k, lit(101)) === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 1.0d)
        .withColumn("o_channel",
          when(pmod(k, lit(2)) === 0, lit("WEB")).otherwise(lit("APP")))
        .withColumn("op", lit("upsert"))
        .unionByName(src
          .filter(pmod(k, lit(103)) === 0 && pmod(k, lit(101)) =!= 0)
          .withColumn("o_channel", lit(null).cast("string"))
          .withColumn("op", lit("delete")))
      // WITHOUT the flag: same batch, new column silently dropped —
      // the schema contract must be untouched
      val prev = s.conf.getOption("spark.graft.mergeSchema")
      s.conf.unset("spark.graft.mergeSchema")
      val (v2, _) = Sources.mergeVersionEq(s, t, batch, Seq("o_orderkey"))
      val flagScoped =
        if (!Sources.schemaOf(s, t, v2).fieldNames.contains("o_channel")) 1L
        else 0L
      // WITH the flag: the merge EVOLVES — rollback the unevolved
      // merge first so both runs apply to the same base state
      Sources.rollbackTo(t, v1)
      s.conf.set("spark.graft.mergeSchema", "true")
      try Sources.mergeVersionEq(s, t, batch, Seq("o_orderkey"))
      finally {
        prev match {
          case Some(x) => s.conf.set("spark.graft.mergeSchema", x)
          case None => s.conf.unset("spark.graft.mergeSchema")
        }
      }
      val oldPinned =
        if (Sources.schemaOf(s, t, v1).fieldNames.toSeq ==
          Seq("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"))
          1L
        else 0L
      Sources.readVersion(s, t)
        .groupBy("o_channel")
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
        .withColumn("old_pinned", lit(oldPinned))
        .withColumn("flag_scoped", lit(flagScoped))
        .orderBy(col("o_channel").asc_nulls_first)
    },
    Some("""WITH state AS (
           |  SELECT o_totalprice AS price, CAST(NULL AS VARCHAR) AS ch
           |  FROM orders
           |  WHERE o_orderkey % 101 <> 0
           |    AND NOT (o_orderkey % 103 = 0 AND o_orderkey % 101 <> 0)
           |  UNION ALL
           |  SELECT o_totalprice + 1.0,
           |         CASE WHEN o_orderkey % 2 = 0 THEN 'WEB' ELSE 'APP' END
           |  FROM orders WHERE o_orderkey % 101 = 0)
           |SELECT ch AS o_channel, CAST(COUNT(*) AS BIGINT) AS n,
           |       CAST(CAST(round(SUM(CAST(price AS DECIMAL(18,4))), 4)
           |         AS DECIMAL(18,4)) AS DOUBLE) AS sum_price,
           |       CAST(1 AS BIGINT) AS old_pinned,
           |       CAST(1 AS BIGINT) AS flag_scoped
           |FROM state
           |GROUP BY ch
           |ORDER BY ch NULLS FIRST""".stripMargin)
  )

  /** Q221 — WRITE-AUDIT-PUBLISH end-to-end, oracle-gated: tag the
    * baseline, fork a branch ([[graft.sources.Refs.createBranch]] —
    * one manifest write, zero data movement), land a keyed
    * merge-on-read MERGE on the BRANCH chain (the full commit
    * machinery works there because a branch IS a table), verify main
    * readers still serve the untouched baseline (`main_stable`), then
    * fast-forward publish — whose metadata-only nature is pinned by
    * `publish_no_write`: the count of parquet files on disk (parent
    * pool + branch pool together) is IDENTICAL before and after, the
    * local batches having RENAMED into the parent pool. The tag keeps
    * serving the pre-branch state afterwards (`tag_stable`), i.e. WAP
    * composes with time travel. The oracle restates the published end
    * state relationally over the raw `orders` fixture.
    *
    * Scale note: at 100 TB, audit-then-swap beats audit-in-place
    * exactly because both fork and publish move ZERO data bytes — the
    * expensive step (writing the staged changes) happens once, on the
    * branch, invisible to production readers until the one-manifest
    * swap. */
  val q221 = Query(
    "q221_branch_wap",
    (s, dir) => {
      val root = java.nio.file.Paths.get(
        sys.props("java.io.tmpdir"),
        s"graft-lake-wap-${math.abs(dir.hashCode).toString}")
      def wipe(p: java.nio.file.Path): Unit =
        if (java.nio.file.Files.exists(p)) {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(p).iterator().asScala.toSeq
            .sortBy(-_.getNameCount)
            .foreach(java.nio.file.Files.deleteIfExists(_))
        }
      wipe(root)
      java.nio.file.Files.createDirectories(root)
      val table = root.resolve("orders_wap").toString
      def parquetCount(): Long = {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(root).iterator().asScala
          .count(_.toString.endsWith(".parquet")).toLong
      }
      val orders = Tables.orders(s, dir)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
      val nBase = orders.count()
      Sources.commitVersion(
        orders.repartitionByRange(8, col("o_orderkey"))
          .sortWithinPartitions("o_orderkey"), table)
      Refs.tagVersion(table, "pre-wap")
      val forkBase = Sources.latestVersion(table)
      val bd = Refs.createBranch(table, "audit")
      // the staged change, committed on the BRANCH chain: keyed MoR
      // merge — every key ≡ 0 (mod 100) upserted, ≡ 1 (mod 100) deleted
      val changes = orders.filter(pmod(col("o_orderkey"), lit(100)) === 0)
        .withColumn("o_orderpriority", lit("W-STAGED"))
        .withColumn("o_totalprice", col("o_totalprice") + 5.0d)
        .withColumn("op", lit("upsert"))
        .unionByName(orders
          .filter(pmod(col("o_orderkey"), lit(100)) === 1)
          .withColumn("op", lit("delete")))
      Sources.mergeVersionDv(s, table = bd, changes = changes,
        key = "o_orderkey")
      // AUDIT gate: main is byte-stable while the branch carries the work
      val mainStable =
        if (Sources.latestVersion(table) == forkBase &&
          Sources.readVersion(s, table).count() == nBase) 1L else 0L
      val diskBefore = parquetCount()
      Refs.publishBranch(table, "audit")
      val publishNoWrite = if (parquetCount() == diskBefore) 1L else 0L
      Refs.dropBranch(table, "audit")
      val tagStable =
        if (Refs.readRef(s, table, "pre-wap").count() == nBase) 1L else 0L
      Sources.readVersion(s, table)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          dsum(col("o_totalprice")).as("sum_price"))
        .withColumn("main_stable", lit(mainStable))
        .withColumn("publish_no_write", lit(publishNoWrite))
        .withColumn("tag_stable", lit(tagStable))
        .orderBy("o_orderpriority")
    },
    Some("""WITH state AS (
           |  SELECT o_totalprice, o_orderpriority FROM orders
           |  WHERE o_orderkey % 100 <> 0 AND o_orderkey % 100 <> 1
           |  UNION ALL
           |  SELECT o_totalprice + 5, 'W-STAGED' FROM orders
           |  WHERE o_orderkey % 100 = 0)
           |SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
           |       CAST(CAST(round(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 4)
           |         AS DECIMAL(18,4)) AS DOUBLE) AS sum_price,
           |       CAST(1 AS BIGINT) AS main_stable,
           |       CAST(1 AS BIGINT) AS publish_no_write,
           |       CAST(1 AS BIGINT) AS tag_stable
           |FROM state
           |GROUP BY o_orderpriority
           |ORDER BY o_orderpriority""".stripMargin)
  )

  /** Q232 — METADATA-ONLY AGGREGATES lifecycle, oracle-gated: the
    * one-line queries every table owner runs first (`COUNT(*)`,
    * `MIN`/`MAX` of keys, prices, priorities) answered from the
    * manifest sidecars with ZERO files opened
    * ([[graft.sources.MetadataOnlyAggregates]] — the Iceberg/Delta
    * manifest-count move; the reference re-counts its warehouse after
    * every load, HyperJoin.java:62-75, by full scan). Witnesses, all
    * computed on the OPTIMIZED plan of the very DataFrames whose
    * values the oracle checks: `meta_clean` — the clean-version
    * 6-aggregate query planned as a LocalRelation with no table
    * relation at all; `meta_after_dv` — COUNT(*) stays metadata-only
    * after a merge-on-read DELETE (per-file DV cardinalities subtract
    * exactly); `scan_for_min` — MIN after that DELETE correctly
    * REFUSES the metadata answer (the DV may have deleted the extremal
    * row) and plans a real scan. The oracle restates every value
    * relationally over the raw fixture.
    *
    * Scale shape: at 100 TB the clean-path queries cost one driver
    * sidecar read instead of a full table scan; the guards mean a
    * wrong instant answer is structurally impossible — any coverage
    * gap falls back to the scan. */
  val q232 = Query(
    "q232_metadata_agg",
    (s, dir) => {
      val root = java.nio.file.Paths.get(
        sys.props("java.io.tmpdir"),
        s"graft-lake-mago-${math.abs(dir.hashCode).toString}")
      def wipe(p: java.nio.file.Path): Unit =
        if (java.nio.file.Files.exists(p)) {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(p).iterator().asScala.toSeq
            .sortBy(-_.getNameCount)
            .foreach(java.nio.file.Files.deleteIfExists(_))
        }
      wipe(root)
      java.nio.file.Files.createDirectories(root)
      graft.plans.GraftRules.install(s)
      val cat = s"gma_${math.abs(dir.hashCode)}"
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", root.toString)
      Tables.orders(s, dir)
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
        .createOrReplaceTempView("mago_src")
      s.sql(s"""CREATE TABLE $cat.mago (
               |  o_orderkey BIGINT, o_totalprice DOUBLE,
               |  o_orderpriority STRING)
               |TBLPROPERTIES ('stats.columns' =
               |  'o_orderkey,o_totalprice,o_orderpriority')""".stripMargin)
      s.sql(s"INSERT INTO $cat.mago SELECT * FROM mago_src")
      // a metadata answer = the optimized plan degenerated to a local
      // relation and references NO table relation anywhere
      def metadataOnly(df: org.apache.spark.sql.DataFrame): Boolean = {
        val opt = df.queryExecution.optimizedPlan
        val local = opt.collect {
          case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => l
        }.nonEmpty
        val scans = opt.collect {
          case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation => r
          case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r
        }.nonEmpty
        local && !scans
      }
      val clean = s.sql(
        s"""SELECT count(*) AS n0,
           |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
           |  min(o_orderpriority) AS min_prio,
           |  max(o_orderpriority) AS max_prio,
           |  max(o_totalprice) AS max_price
           |FROM $cat.mago""".stripMargin)
      val metaClean = if (metadataOnly(clean)) 1L else 0L
      val c = clean.head()
      // merge-on-read DELETE: the modulo predicate is untranslatable →
      // pure DV marks, zero files rewritten
      s.sql(s"DELETE FROM $cat.mago WHERE o_orderkey % 7 = 3")
      val cnt = s.sql(s"SELECT count(*) AS n1 FROM $cat.mago")
      val metaAfterDv = if (metadataOnly(cnt)) 1L else 0L
      val n1 = cnt.head().getLong(0)
      val mn = s.sql(
        s"SELECT min(o_orderkey) AS min_key_live FROM $cat.mago")
      val scanForMin = if (!metadataOnly(mn)) 1L else 0L
      val minKeyLive = mn.head().getLong(0)
      import s.implicits._
      Seq((c.getLong(0), c.getLong(1), c.getLong(2), c.getString(3),
        c.getString(4), c.getDouble(5), n1, minKeyLive,
        metaClean, metaAfterDv, scanForMin))
        .toDF("n0", "min_key", "max_key", "min_prio", "max_prio",
          "max_price", "n1", "min_key_live", "meta_clean",
          "meta_after_dv", "scan_for_min")
    },
    Some("""SELECT
           |  (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n0,
           |  (SELECT min(o_orderkey) FROM orders) AS min_key,
           |  (SELECT max(o_orderkey) FROM orders) AS max_key,
           |  (SELECT min(o_orderpriority) FROM orders) AS min_prio,
           |  (SELECT max(o_orderpriority) FROM orders) AS max_prio,
           |  CAST((SELECT max(o_totalprice) FROM orders) AS DOUBLE)
           |    AS max_price,
           |  (SELECT CAST(count(*) AS BIGINT) FROM orders
           |   WHERE NOT (o_orderkey % 7 = 3)) AS n1,
           |  (SELECT min(o_orderkey) FROM orders
           |   WHERE NOT (o_orderkey % 7 = 3)) AS min_key_live,
           |  CAST(1 AS BIGINT) AS meta_clean,
           |  CAST(1 AS BIGINT) AS meta_after_dv,
           |  CAST(1 AS BIGINT) AS scan_for_min""".stripMargin)
  )

  /** Q233 — RUNTIME (DPP-style) PRUNING on the bucketed fact scan,
    * oracle-gated: the dimension's selective filter is only knowable
    * at execution (it rides the join), yet the fact side reads a
    * FRACTION of its files — [[graft.sources.GraftNativeScan]]'s
    * `SupportsRuntimeFiltering` hashes the collected key in-set to
    * bucket ids and drops whole `_b=<id>` slices before any task
    * launches (Spark's DPP handshake; what Iceberg does for its
    * bucket transform, and the v2 restatement of hive's DPP).
    * Witnesses on the EXECUTED plan
    * ([[graft.sources.RuntimeScanWitness]]): `dpp_planned` — the
    * planner attached a runtime filter to the fact scan; `files_pruned`
    * — the scan read strictly fewer files than the table holds. The
    * oracle restates the join relationally.
    *
    * Scale shape: a 100 TB fact bucketed 1024 ways joined to a
    * dimension filtered to a handful of keys reads ~keys/1024 of its
    * files — the difference between a dashboard query and a cluster
    * burn. RuntimeFilterSpec covers the unbucketed variant (runtime
    * keys probing bloom sidecars — dynamic file pruning) and the
    * SPJ composition. */
  val q233 = Query(
    "q233_runtime_pruning",
    (s, dir) => {
      val root = java.nio.file.Paths.get(
        sys.props("java.io.tmpdir"),
        s"graft-lake-dpp-${math.abs(dir.hashCode).toString}")
      def wipe(p: java.nio.file.Path): Unit =
        if (java.nio.file.Files.exists(p)) {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(p).iterator().asScala.toSeq
            .sortBy(-_.getNameCount)
            .foreach(java.nio.file.Files.deleteIfExists(_))
        }
      wipe(root)
      java.nio.file.Files.createDirectories(root)
      val cat = s"gdp_${math.abs(dir.hashCode)}"
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", root.toString)
      Tables.orders(s, dir)
        .select("o_orderkey", "o_custkey", "o_totalprice",
          "o_orderpriority")
        .createOrReplaceTempView("dpp_orders_src")
      s.sql(s"""CREATE TABLE $cat.fact (
               |  o_orderkey BIGINT, o_custkey BIGINT,
               |  o_totalprice DOUBLE, o_orderpriority STRING)
               |PARTITIONED BY (bucket(16, o_custkey))""".stripMargin)
      s.sql(s"INSERT INTO $cat.fact SELECT * FROM dpp_orders_src")
      val totalFiles = s.sql(
        s"SELECT count(*) FROM $cat.`fact$$files`").head().getLong(0)
      Tables.customer(s, dir)
        .filter(pmod(col("c_custkey"), lit(500)) === 1)
        .select("c_custkey", "c_mktsegment")
        .createOrReplaceTempView("dpp_dim")
      val q = s.sql(
        s"""SELECT f.o_orderpriority, count(*) AS n,
           |       sum(CAST(f.o_totalprice AS DECIMAL(18,4))) AS s
           |FROM $cat.fact f JOIN dpp_dim d
           |  ON f.o_custkey = d.c_custkey
           |GROUP BY 1""".stripMargin)
      q.queryExecution.toRdd.count() // execute: runtime filters resolve
      val w = graft.sources.RuntimeScanWitness.of(
        q.queryExecution.executedPlan)
      val dpp = if (w.nonEmpty && w.head.runtimeFiltered) 1L else 0L
      val pruned =
        if (w.nonEmpty && w.head.files > 0 && w.head.files < totalFiles) 1L
        else 0L
      q.select(col("o_orderpriority"), col("n"),
          col("s").cast("decimal(18,4)").cast("double").as("sum_price"))
        .withColumn("dpp_planned", lit(dpp))
        .withColumn("files_pruned", lit(pruned))
        .orderBy("o_orderpriority")
    },
    Some("""SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
           |       CAST(CAST(round(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 4)
           |         AS DECIMAL(18,4)) AS DOUBLE) AS sum_price,
           |       CAST(1 AS BIGINT) AS dpp_planned,
           |       CAST(1 AS BIGINT) AS files_pruned
           |FROM orders JOIN customer ON o_custkey = c_custkey
           |WHERE c_custkey % 500 = 1
           |GROUP BY 1 ORDER BY 1""".stripMargin)
  )

  /** Q236 — ROW LINEAGE as a gated lifecycle: three sorted
    * single-file commits assign every row a stable `_row_id` (file
    * position ids, so the assignment is STATABLE RELATIONALLY as a
    * per-slice `row_number` with slice-count offsets), then the table
    * goes through a merge-on-read DELETE, its DV purge, whole-table
    * compaction, and a copy-on-write DELETE — four layout rewrites —
    * and the final `(o_orderkey, row_id)` map must STILL equal the
    * original assignment minus the deleted keys. The oracle never sees
    * the machinery: a hash match proves ids assign once and survive
    * every rewrite ([[graft.sources.RowIds]], Iceberg v3's row-lineage
    * contract). Fresh-id behavior for upserts and the rollback/repair
    * paths are RowLineageSpec's. */
  val q236 = Query(
    "q236_row_lineage",
    (s, dir) => {
      val root = java.nio.file.Paths.get(
        sys.props("java.io.tmpdir"),
        s"graft-lake-rid-${math.abs(dir.hashCode).toString}")
      def wipe(p: java.nio.file.Path): Unit =
        if (java.nio.file.Files.exists(p)) {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(p).iterator().asScala.toSeq
            .sortBy(-_.getNameCount)
            .foreach(java.nio.file.Files.deleteIfExists(_))
        }
      wipe(root)
      java.nio.file.Files.createDirectories(root)
      val table = root.resolve("orders_rid").toString
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(table))
      graft.sources.RowIds.enableRowIds(table)
      // pinned: three slice commits, one orders scan (guide §5;
      // try/finally so an exception mid-gate cannot leak the pin)
      val o = Tables.orders(s, dir)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        def slice(r: Int) =
          o.filter(pmod(col("o_orderkey"), lit(3)) === r)
            .repartition(1).sortWithinPartitions("o_orderkey")
        Sources.commitVersion(slice(0), table)
        Sources.commitVersion(slice(1), table)
        Sources.commitVersion(slice(2), table)
      } finally { o.unpersist(); () }
      // four layout rewrites; zero identity changes
      Sources.deleteWhereDv(s, table,
        pmod(col("o_orderkey"), lit(7)) === 0)
      Sources.purgeDv(s, table)
      Sources.compactVersion(s, table, 4096L)
      Sources.deleteWhere(s, table,
        pmod(col("o_orderkey"), lit(13)) === 0)
      graft.sources.RowIds.readVersionWithRowIds(s, table)
        .select(col("o_orderkey"),
          col(graft.sources.RowIds.COL).as("row_id"))
        .orderBy("o_orderkey")
    },
    Some("""WITH o1 AS (
           |  SELECT o_orderkey,
           |         CAST(row_number() OVER (ORDER BY o_orderkey) - 1
           |              AS BIGINT) AS rid
           |  FROM orders WHERE o_orderkey % 3 = 0),
           |o2 AS (
           |  SELECT o_orderkey,
           |         (SELECT COUNT(*) FROM o1)
           |           + CAST(row_number() OVER (ORDER BY o_orderkey) - 1
           |                  AS BIGINT) AS rid
           |  FROM orders WHERE o_orderkey % 3 = 1),
           |o3 AS (
           |  SELECT o_orderkey,
           |         (SELECT COUNT(*) FROM o1) + (SELECT COUNT(*) FROM o2)
           |           + CAST(row_number() OVER (ORDER BY o_orderkey) - 1
           |                  AS BIGINT) AS rid
           |  FROM orders WHERE o_orderkey % 3 = 2),
           |ids AS (
           |  SELECT * FROM o1
           |  UNION ALL SELECT * FROM o2
           |  UNION ALL SELECT * FROM o3)
           |SELECT o_orderkey, rid AS row_id
           |FROM ids
           |WHERE o_orderkey % 7 <> 0 AND o_orderkey % 13 <> 0
           |ORDER BY o_orderkey""".stripMargin)
  )

  /** Q237 — the NET CHANGE FEED with update pre/post-images
    * ([[graft.sources.RowIds.readChangesLineage]]), gated relationally:
    * from a two-slice baseline the table goes through a compaction
    * (pure noise the lineage join must CANCEL), an append, an
    * id-preserving [[Sources.updateWhere]], a merge-on-read delete +
    * its purge, and a copy-on-write delete — and the feed between the
    * baseline and the head must emit EXACTLY the relational endpoint
    * diff: `delete`s carrying from-version images, paired
    * `update_preimage`/`update_postimage` rows for the in-place
    * update, `insert`s for the surviving appends, and NOTHING for the
    * compaction's rewritten bytes (Delta CDF's update contract +
    * Iceberg's net-changes changelog, derived from row lineage). */
  val q237 = Query(
    "q237_cdc_lineage",
    (s, dir) => {
      val root = java.nio.file.Paths.get(
        sys.props("java.io.tmpdir"),
        s"graft-lake-cdcl-${math.abs(dir.hashCode).toString}")
      def wipe(p: java.nio.file.Path): Unit =
        if (java.nio.file.Files.exists(p)) {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(p).iterator().asScala.toSeq
            .sortBy(-_.getNameCount)
            .foreach(java.nio.file.Files.deleteIfExists(_))
        }
      wipe(root)
      java.nio.file.Files.createDirectories(root)
      val table = root.resolve("orders_cdcl").toString
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(table))
      graft.sources.RowIds.enableRowIds(table)
      // pinned: three slice commits, one orders scan (guide §5;
      // try/finally so an exception mid-gate cannot leak the pin)
      val o = Tables.orders(s, dir)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val from = try {
        Sources.commitVersion(
          o.filter(pmod(col("o_orderkey"), lit(3)) === 0), table)
        Sources.commitVersion(
          o.filter(pmod(col("o_orderkey"), lit(3)) === 1), table)
        val fromV = Sources.latestVersion(table)
        Sources.compactVersion(s, table, 4096L) // must net to nothing
        Sources.commitVersion(
          o.filter(pmod(col("o_orderkey"), lit(3)) === 2), table)
        fromV
      } finally { o.unpersist(); () }
      Sources.updateWhere(s, table,
        pmod(col("o_orderkey"), lit(5)) === 0,
        Map("o_totalprice" -> (col("o_totalprice") + lit(10.0d))))
      Sources.deleteWhereDv(s, table,
        pmod(col("o_orderkey"), lit(11)) === 0)
      Sources.purgeDv(s, table)
      Sources.deleteWhere(s, table,
        pmod(col("o_orderkey"), lit(17)) === 0)
      graft.sources.RowIds
        .readChangesLineage(s, table, from, Sources.latestVersion(table))
        .orderBy("o_orderkey", "_change_type")
    },
    Some("""WITH base AS (
           |  SELECT o_orderkey AS k, o_custkey AS c, o_totalprice AS p
           |  FROM orders),
           |old AS (SELECT * FROM base WHERE k % 3 < 2),
           |del AS (
           |  SELECT 'delete' AS ct, k, c, p FROM old
           |  WHERE k % 11 = 0 OR k % 17 = 0),
           |upd AS (
           |  SELECT * FROM old
           |  WHERE k % 11 <> 0 AND k % 17 <> 0 AND k % 5 = 0),
           |ev AS (
           |  SELECT * FROM del
           |  UNION ALL SELECT 'update_preimage', k, c, p FROM upd
           |  UNION ALL SELECT 'update_postimage', k, c, p + 10.0 FROM upd
           |  UNION ALL SELECT 'insert', k, c,
           |                   CASE WHEN k % 5 = 0 THEN p + 10.0 ELSE p END
           |            FROM base
           |            WHERE k % 3 = 2 AND k % 11 <> 0 AND k % 17 <> 0)
           |SELECT k AS o_orderkey, c AS o_custkey, p AS o_totalprice,
           |       ct AS _change_type
           |FROM ev ORDER BY o_orderkey, _change_type""".stripMargin)
  )

  /** Q246 — RESUMABLE CHUNKED BACKFILL ([[graft.sources.Backfill]]):
    * the corpus-wide one-off pass (re-tokenize, re-score, re-embed)
    * run as bounded id-range chunks, each committed with its
    * chunk-ledger row in ONE atomic keyed merge, so a crash at hour N
    * of M resumes at chunk N instead of zero (BackfillSpec kills a
    * mid-run chunk and proves finished chunks never re-run). The gate
    * backfills per-document token counts over the documents corpus in
    * 100-id chunks; the assembled output hash-matches DuckDB's direct
    * single-pass recompute — chunked ≡ one-shot.
    *
    * Scale shape: each chunk is a contiguous-id, file-pruned slice
    * scan + one bounded eq merge; progress state is O(chunks); redoing
    * a torn chunk is idempotent because the output is keyed.
    */
  val q246 = Query(
    "q246_backfill",
    (s, dir) => {
      val root = Tables.scratchRoot("backfill", dir)
      val src = root.resolve("docs_t").toString
      val out = root.resolve("tokcount").toString
      // pinned: the source commit and the chunk-span probe share one
      // documents scan (try/finally: no pin leak on a mid-gate throw)
      val docs = Tables.documents(s, dir).select("doc_id", "text")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val maxId = try {
        Sources.commitVersion(
          docs.repartitionByRange(4, col("doc_id"))
            .sortWithinPartitions("doc_id"), src)
        // chunk size tracks the id span (≈5 chunks at any sf): the gate
        // exercises multi-chunk assembly without the per-chunk commit
        // overhead scaling linearly into the bench at larger fixtures —
        // the OUTPUT is chunking-independent by construction, which is
        // exactly what the oracle proves
        docs.agg(max("doc_id")).head.getLong(0)
      } finally { docs.unpersist(); () }
      val chunk = math.max(1L, (maxId + 5L) / 5L)
      graft.sources.Backfill.run(s, src, out, "doc_id", chunk, slice =>
        slice.select(
          concat(lit("r:"), col("doc_id")).as("k"), col("doc_id"),
          size(regexp_extract_all(lower(col("text")), lit("\\S+"), lit(0)))
            .cast("long").as("n_tokens")))
      graft.sources.Backfill.result(s, out)
        .select(col("doc_id"), col("n_tokens"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id,
           |       CAST(len(regexp_extract_all(lower(text), '\S+'))
           |         AS BIGINT) AS n_tokens
           |FROM documents ORDER BY doc_id""".stripMargin)
  )

  /** Q247 — incremental aggregate view with NON-INVERTIBLE aggregates
    * ([[graft.streaming.MaterializedView.maintainAggFullQuery]]):
    * q214's count/sum stay additive, MIN/MAX re-aggregate only the
    * TOUCHED groups against the base head — the aggregates a signed
    * delta cannot maintain (deleting a group's min row leaves nothing
    * to subtract; the group must re-read). The lifecycle deliberately
    * deletes min-carrier rows (the `%11` erasure hits each group's
    * low orderkeys) and moves/retires whole groups; the endpoint view
    * hash-matches DuckDB's full recompute — incremental ≡ batch for
    * the non-invertible half too.
    *
    * Scale shape: per drained commit, counts/sums are O(Δbase) and
    * min/max are one groupCol-semi-joined read of the touched groups
    * (stats-pruned on a group-clustered base) — never a history
    * rescan.
    */
  val q247 = Query(
    "q247_mv_minmax",
    (s, dir) => {
      val root = Tables.scratchRoot("lake-mmview", dir)
      val base = root.resolve("base").toString
      val view = root.resolve("mmview").toString
      // pinned: the slice commit and the three-slice CDC merge share
      // one orders scan (guide §5); try/finally: an exception
      // mid-gate must not leak the pin
      val orders = Tables.orders(s, dir).select(
        col("o_orderkey"), col("o_orderpriority").as("prio"),
        col("o_totalprice")).persist()
      try {
        val k = col("o_orderkey")
        Sources.commitVersion(orders.filter(pmod(k, lit(2)) === 0)
          .repartitionByRange(4, k).sortWithinPartitions("o_orderkey"), base)
        Sources.commitStats(s, base, 1, Seq("o_orderkey"))
        graft.streaming.MaterializedView.initAggFull(
          s, base, "prio", "o_totalprice", view)
        def drain(): Unit =
          graft.streaming.MaterializedView.maintainAggFullQuery(
            s, base, "prio", "o_totalprice", view, s"$root/ckpt-mm")
            .awaitTermination()
        drain()
        // the same CDC shapes as q214: group moves, deletes (min
        // carriers among them), a brand-new group
        val upd = orders.filter(pmod(k, lit(2)) === 0 && pmod(k, lit(7)) === 0)
          .withColumn("prio", lit("X-MOVED")).withColumn("op", lit("upsert"))
        val del = orders.filter(pmod(k, lit(2)) === 0 &&
            pmod(k, lit(11)) === 0 && pmod(k, lit(7)) =!= 0)
          .withColumn("op", lit("delete"))
        val ins = orders.filter(pmod(k, lit(2)) === 1 && pmod(k, lit(9)) === 0)
          .withColumn("prio", lit("Z-NEW")).withColumn("op", lit("upsert"))
        Sources.mergeVersionDv(
          s, base, upd.unionByName(del).unionByName(ins), "o_orderkey")
        drain()
        // DV-only commit: the X-MOVED group zeroes out and must LEAVE
        Sources.deleteWhereDv(s, base, col("prio") === lit("X-MOVED"))
        drain()
      } finally { orders.unpersist(); () }
      Sources.readVersion(s, view)
        .select(col("prio"), col("n_rows"),
          col("sum_val").cast("decimal(18,4)").cast("double")
            .as("sum_price"),
          col("min_val").cast("decimal(18,4)").cast("double")
            .as("min_price"),
          col("max_val").cast("decimal(18,4)").cast("double")
            .as("max_price"))
        .orderBy("prio")
    },
    Some("""WITH fin AS (
           |  SELECT o_orderpriority AS prio, o_totalprice FROM orders
           |  WHERE o_orderkey % 2 = 0 AND o_orderkey % 7 <> 0
           |    AND o_orderkey % 11 <> 0
           |  UNION ALL
           |  SELECT 'Z-NEW', o_totalprice FROM orders
           |  WHERE o_orderkey % 2 = 1 AND o_orderkey % 9 = 0)
           |SELECT prio, CAST(COUNT(*) AS BIGINT) AS n_rows,
           |       CAST(CAST(round(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 4)
           |         AS DECIMAL(18,4)) AS DOUBLE) AS sum_price,
           |       CAST(MIN(CAST(o_totalprice AS DECIMAL(28,4)))
           |         AS DOUBLE) AS min_price,
           |       CAST(MAX(CAST(o_totalprice AS DECIMAL(28,4)))
           |         AS DOUBLE) AS max_price
           |FROM fin GROUP BY prio ORDER BY prio""".stripMargin)
  )

  /** Q249 — incremental TOP-K view
    * ([[graft.streaming.MaterializedView.maintainTopKQuery]]): the
    * per-group leaderboard (top-3 orders by price) maintained off the
    * change feed. Ranks are q247's non-invertibility k-deep: evicting
    * a group's #1 must promote #2 into its slot, and a shrinking
    * group must shed stale rank slots — so touched groups re-rank
    * against the base head and rewrite exactly their k slots. The
    * lifecycle deletes top-carrier rows, moves groups, retires one;
    * the endpoint hash-matches DuckDB's windowed recompute.
    */
  val q249 = Query(
    "q249_mv_topk",
    (s, dir) => {
      val root = Tables.scratchRoot("lake-topk", dir)
      val base = root.resolve("base").toString
      val view = root.resolve("topkview").toString
      // pinned: the slice commit and the three-slice CDC merge share
      // one orders scan (guide §5); try/finally: an exception
      // mid-gate must not leak the pin
      val orders = Tables.orders(s, dir).select(
        col("o_orderkey"), col("o_orderpriority").as("prio"),
        col("o_totalprice")).persist()
      try {
        val k = col("o_orderkey")
        Sources.commitVersion(orders.filter(pmod(k, lit(2)) === 0)
          .repartitionByRange(4, k).sortWithinPartitions("o_orderkey"), base)
        Sources.commitStats(s, base, 1, Seq("o_orderkey"))
        graft.streaming.MaterializedView.initTopK(
          s, base, "prio", "o_totalprice", "o_orderkey", view)
        def drain(): Unit =
          graft.streaming.MaterializedView.maintainTopKQuery(
            s, base, "prio", "o_totalprice", "o_orderkey", 3, view,
            s"$root/ckpt-topk")
            .awaitTermination()
        drain()
        val upd = orders.filter(pmod(k, lit(2)) === 0 && pmod(k, lit(7)) === 0)
          .withColumn("prio", lit("X-MOVED")).withColumn("op", lit("upsert"))
        val del = orders.filter(pmod(k, lit(2)) === 0 &&
            pmod(k, lit(11)) === 0 && pmod(k, lit(7)) =!= 0)
          .withColumn("op", lit("delete"))
        val ins = orders.filter(pmod(k, lit(2)) === 1 && pmod(k, lit(9)) === 0)
          .withColumn("prio", lit("Z-NEW")).withColumn("op", lit("upsert"))
        Sources.mergeVersionDv(
          s, base, upd.unionByName(del).unionByName(ins), "o_orderkey")
        drain()
        Sources.deleteWhereDv(s, base, col("prio") === lit("X-MOVED"))
        drain()
      } finally { orders.unpersist(); () }
      Sources.readVersion(s, view)
        .select(col("prio"), col("rank"), col("o_orderkey"),
          col("val").cast("decimal(18,4)").cast("double").as("price"))
        .orderBy("prio", "rank")
    },
    Some("""WITH fin AS (
           |  SELECT o_orderkey, o_orderpriority AS prio, o_totalprice
           |  FROM orders
           |  WHERE o_orderkey % 2 = 0 AND o_orderkey % 7 <> 0
           |    AND o_orderkey % 11 <> 0
           |  UNION ALL
           |  SELECT o_orderkey, 'Z-NEW', o_totalprice FROM orders
           |  WHERE o_orderkey % 2 = 1 AND o_orderkey % 9 = 0),
           |ranked AS (
           |  SELECT prio, o_orderkey,
           |         CAST(o_totalprice AS DECIMAL(28,4)) AS val,
           |         CAST(row_number() OVER (PARTITION BY prio
           |           ORDER BY CAST(o_totalprice AS DECIMAL(28,4)) DESC,
           |                    o_orderkey ASC) AS BIGINT) AS rank
           |  FROM fin)
           |SELECT prio, rank, o_orderkey,
           |       CAST(CAST(val AS DECIMAL(18,4)) AS DOUBLE) AS price
           |FROM ranked WHERE rank <= 3
           |ORDER BY prio, rank""".stripMargin)
  )

  /** Q250 — incremental exact COUNT(DISTINCT) view
    * ([[graft.streaming.MaterializedView.maintainDistinctQuery]]):
    * per-priority distinct customer counts maintained by REFERENCE
    * COUNTING off the change feed. Completes the view family's
    * non-invertibility spectrum: q214 is purely additive, q247/q249
    * re-read touched groups, this one makes distinct-count additive
    * again by keeping pair refcounts — a value's departure decrements
    * the count only when its refcount crosses zero, detected from the
    * view's own state, so the base is NEVER re-read: O(touched pairs)
    * per drained commit, one atomic merge.
    *
    * The lifecycle's group-moves re-home customers between priorities
    * and the erasures take last-occurrence values out; the endpoint
    * hash-matches DuckDB's COUNT(DISTINCT) recompute.
    */
  val q250 = Query(
    "q250_mv_distinct",
    (s, dir) => {
      val root = Tables.scratchRoot("lake-distinct", dir)
      val base = root.resolve("base").toString
      val view = root.resolve("dview").toString
      // pinned: the slice commit and the three-slice CDC merge share
      // one orders scan (guide §5); try/finally: an exception
      // mid-gate must not leak the pin
      val orders = Tables.orders(s, dir).select(
        col("o_orderkey"), col("o_orderpriority").as("prio"),
        col("o_custkey")).persist()
      try {
        val k = col("o_orderkey")
        Sources.commitVersion(orders.filter(pmod(k, lit(2)) === 0)
          .repartitionByRange(4, k).sortWithinPartitions("o_orderkey"), base)
        Sources.commitStats(s, base, 1, Seq("o_orderkey"))
        graft.streaming.MaterializedView.initDistinct(
          s, base, "prio", "o_custkey", view)
        def drain(): Unit =
          graft.streaming.MaterializedView.maintainDistinctQuery(
            s, base, "prio", "o_custkey", view, s"$root/ckpt-d")
            .awaitTermination()
        drain()
        val upd = orders.filter(pmod(k, lit(2)) === 0 && pmod(k, lit(7)) === 0)
          .withColumn("prio", lit("X-MOVED")).withColumn("op", lit("upsert"))
        val del = orders.filter(pmod(k, lit(2)) === 0 &&
            pmod(k, lit(11)) === 0 && pmod(k, lit(7)) =!= 0)
          .withColumn("op", lit("delete"))
        val ins = orders.filter(pmod(k, lit(2)) === 1 && pmod(k, lit(9)) === 0)
          .withColumn("prio", lit("Z-NEW")).withColumn("op", lit("upsert"))
        Sources.mergeVersionDv(
          s, base, upd.unionByName(del).unionByName(ins), "o_orderkey")
        drain()
        Sources.deleteWhereDv(s, base, col("prio") === lit("X-MOVED"))
        drain()
      } finally { orders.unpersist(); () }
      graft.streaming.MaterializedView.distinctCounts(s, view, "prio")
        .select(col("prio"), col("n_distinct"))
        .orderBy("prio")
    },
    Some("""WITH fin AS (
           |  SELECT o_orderpriority AS prio, o_custkey FROM orders
           |  WHERE o_orderkey % 2 = 0 AND o_orderkey % 7 <> 0
           |    AND o_orderkey % 11 <> 0
           |  UNION ALL
           |  SELECT 'Z-NEW', o_custkey FROM orders
           |  WHERE o_orderkey % 2 = 1 AND o_orderkey % 9 = 0)
           |SELECT prio,
           |       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_distinct
           |FROM fin GROUP BY prio ORDER BY prio""".stripMargin)
  )

  /** Q254 — SHALLOW CLONE lifecycle ([[Sources.cloneTable]] /
    * [[Sources.detachClone]]): fork a table zero-copy (the clone's
    * first manifest lists the SOURCE's data files; only metadata and
    * pending eq keys copy), diverge both sides with merge-on-read
    * deletes and an append, vacuum the source — the clone pin keeps
    * the shared bytes alive — then DETACH (localize + release) and
    * vacuum the source again. The final read of BOTH tables
    * hash-matches the divergence stated in SQL; the byte-level
    * witnesses (zero data copied, pin survival, the vacuum ownership
    * guard) live in CloneSpec.
    */
  val q254 = Query(
    "q254_shallow_clone",
    (s, dir) => {
      val root = Tables.scratchRoot("clone", dir)
      val src = root.resolve("src_t").toString
      val dst = root.resolve("dst_t").toString
      val docs = Tables.documents(s, dir).select("doc_id", "lang", "text")
      Sources.commitVersion(docs.filter(pmod(col("doc_id"), lit(2)) === 0), src)
      Sources.commitVersion(docs.filter(pmod(col("doc_id"), lit(2)) === 1), src)
      // pending merge-on-read state at the cut must carry to the clone
      Sources.deleteWhereDv(s, src, pmod(col("doc_id"), lit(13)) === 3)
      Sources.cloneTable(s, src, dst)
      // diverge: the source loses more rows, the clone loses a
      // DIFFERENT slice and gains an appended one — all while still
      // sharing the original data files
      Sources.deleteWhereDv(s, src, pmod(col("doc_id"), lit(7)) === 0)
      Sources.deleteWhereDv(s, dst, pmod(col("doc_id"), lit(5)) === 0)
      Sources.commitVersion(docs.filter(pmod(col("doc_id"), lit(3)) === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("lang"),
          concat(lit("copy "), col("text")).as("text")), dst)
      // the clone pin keeps the shared bytes through a source vacuum
      Sources.vacuumVersions(src, keepLast = 1)
      // localize + release, then the source may sweep freely
      Sources.detachClone(s, dst)
      Sources.vacuumVersions(src, keepLast = 1)
      Sources.readVersion(s, src)
        .withColumn("side", lit("src"))
        .unionByName(Sources.readVersion(s, dst)
          .withColumn("side", lit("dst")))
        .select("side", "doc_id", "text")
        .orderBy("side", "doc_id")
    },
    Some("""WITH src AS (
           |  SELECT doc_id, text FROM documents
           |  WHERE doc_id % 13 <> 3 AND doc_id % 7 <> 0),
           |dst AS (
           |  SELECT doc_id, text FROM documents
           |  WHERE doc_id % 13 <> 3 AND doc_id % 5 <> 0
           |  UNION ALL
           |  SELECT doc_id + 1000000, 'copy ' || text FROM documents
           |  WHERE doc_id % 3 = 0)
           |SELECT side, doc_id, text FROM (
           |  SELECT 'src' AS side, * FROM src
           |  UNION ALL
           |  SELECT 'dst' AS side, * FROM dst)
           |ORDER BY side, doc_id""".stripMargin)
  )

  val all: Seq[Query] =
    Seq(q179, q196, q202, q206, q207, q208, q210, q211, q212, q214, q218,
      q219, q220, q221, q226, q228, q229, q232, q233, q236, q237, q246,
      q247, q249, q250, q254)
}
