package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** ROW LINEAGE: a stable `_row_id` for every row, assigned at the
  * row's first commit and PRESERVED through every layout change —
  * compaction, DV purge, eq purge, copy-on-write DELETE/MERGE
  * survivors — so downstream consumers (incremental audits, diff
  * tools, feature stores) can track row identity across rewrites
  * instead of re-keying on business columns. Iceberg v3's row-lineage
  * design restated on the graft manifest format:
  *
  *  - every data file carries a `first_row_id` in the `v<N>.rid`
  *    sidecar; a row's id is `coalesce(materialized _row_id column,
  *    first_row_id + parquet row position)`. Fresh files have no
  *    materialized column, so their rows draw ids from the file's
  *    range lazily — ASSIGNMENT IS METADATA-ONLY, commits never
  *    rewrite a byte for lineage.
  *  - rewrite paths read survivors WITH their ids and write them as a
  *    physical `_row_id` column, so a row's id survives the file it
  *    was born in. Rows that are genuinely new in a rewritten file
  *    (merge upserts) carry NULL and draw from the new file's range —
  *    the same coalesce rule covers clean, mixed, and materialized
  *    files with no per-file special case.
  *  - the sidecar is a DETERMINISTIC PURE FUNCTION of the manifest
  *    chain: per version, carried files keep their entries verbatim,
  *    new files are assigned in path-sorted order from the previous
  *    version's `#next` counter, each advancing it by the file's
  *    parquet-footer row count (a footer read, never a data scan). A
  *    missing sidecar (crashed committer) is therefore REPAIRED by
  *    re-derivation, not a correctness hole; files re-entering a
  *    manifest (rollback) reuse the entry any existing sidecar
  *    recorded for them, so ids survive rollback too.
  *
  * Scope (refused loudly): opt-in per table
  * (`rowids.enabled = true`), flat layouts only in this revision —
  * identity-partitioned / bucketed / transform-partitioned tables
  * route reads through [[ManifestFileIndex]], which does not yet
  * surface the lineage column.
  *
  * 100 TB shape: assignment is O(new files) footer reads per commit on
  * the driver — the same cost class as the stats sidecar harvest; the
  * read-side lookup is one broadcast (file -> first_row_id) map probe
  * per row, exactly the DV bitset probe's shape; rewrites pay one
  * extra int64 column on files they were rewriting anyway. */
object RowIds {

  val COL = "_row_id"

  def enabled(table: String): Boolean =
    Sources.tableProperties(table).get("rowids.enabled").contains("true")

  /** Opt a table into row lineage: guards the supported envelope,
    * flips the property, and derives + persists the sidecar chain for
    * every live version NOW — history expired later can no longer
    * change what ids the early versions assigned. */
  def enableRowIds(table: String): Unit = {
    require(Sources.partitionColumnsOf(table).isEmpty &&
      Sources.bucketSpecOf(table).isEmpty &&
      Sources.partTransformOf(table).isEmpty,
      s"rowids.enabled supports flat tables only; $table declares a " +
        "partition/bucket/transform layout")
    // a pre-existing DATA column named _row_id would be silently
    // shadowed (and retyped) by the lineage fill — refuse instead.
    // EVERY live version is checked, not just the latest:
    // readVersionWithRowIds/t$rid accept ANY version, so a _row_id
    // data column present only in an earlier generation's files would
    // be silently reinterpreted as materialized lineage ids on
    // historical reads. Per version: the declared-schema sidecar if
    // pinned, else the files' footers (enable is one-time; footers
    // for a version's files are probed at most once — the earlier
    // versions' file sets mostly overlap the later ones')
    val probed = scala.collection.mutable.Set.empty[String]
    Sources.versionsOf(table).foreach { v =>
      val names = Sources.declaredSchema(table, v).map(_.fieldNames.toSeq)
        .getOrElse(Sources.filesOf(table, v)
          .filter(probed.add) // each distinct file once across versions
          // vacuum keeps EXPIRED manifests around for eq-scope/branch
          // pins but sweeps their unshared data files — a vanished
          // file belongs to a version that is no longer readable, so
          // it cannot shadow anything and is skipped, not crashed on
          .filter(f => java.nio.file.Files.exists(
            java.nio.file.Paths.get(f)))
          .flatMap(footerFields))
      require(!names.contains(COL),
        s"$table already has a data column named $COL (version $v) — " +
          "row lineage reserves that name")
    }
    Sources.writeTableProperties(table,
      Sources.tableProperties(table) + ("rowids.enabled" -> "true"))
    ridOf(table, Sources.latestVersion(table))
    ()
  }

  // ---- sidecar: `#next\t<counter>` + one `<file>\t<first>` per file --

  private def ridPath(table: String, v: Int) =
    java.nio.file.Paths.get(table, s"v$v.rid")

  private def parseRid(p: java.nio.file.Path): (Map[String, Long], Long) = {
    var next = 0L
    val m = Map.newBuilder[String, Long]
    scala.jdk.CollectionConverters.ListHasAsScala(
      java.nio.file.Files.readAllLines(p)).asScala
      .filter(_.nonEmpty).foreach { line =>
        line.split("\t") match {
          case Array("#next", n) => next = n.toLong
          case Array(f, first) => m += f -> first.toLong
          case other => throw new IllegalStateException(
            s"unparsable rid line in $p: ${other.mkString("\t")}")
        }
      }
    (m.result(), next)
  }

  private def writeRid(table: String, v: Int,
      rid: Map[String, Long], next: Long): Unit = {
    val dir = java.nio.file.Paths.get(table)
    val body = (rid.toSeq.sortBy(_._1).map { case (f, first) =>
      s"$f\t$first" } :+ s"#next\t$next").mkString("\n")
    val tmp = java.nio.file.Files.createTempFile(dir, s".v$v-rid", ".tmp")
    java.nio.file.Files.write(tmp, body.getBytes("UTF-8"))
    java.nio.file.Files.move(tmp, ridPath(table, v),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** Parquet footer record count — a metadata read (file footer), not
    * a data scan; the per-new-file cost of id assignment. */
  private def footerRowCount(file: String): Long = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file), Sources.footerConf)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try r.getRecordCount finally r.close()
  }

  /** Top-level field names from the parquet footer — the cheap schema
    * probe (no DataFrameReader machinery), for the `t$rid`
    * materialization flag and the enable-time name guard. */
  private[sources] def footerFields(file: String): Seq[String] = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file), Sources.footerConf)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      import scala.jdk.CollectionConverters._
      r.getFileMetaData.getSchema.getFields.asScala.map(_.getName).toSeq
    } finally r.close()
  }

  /** Union of every persisted sidecar's entries — the rollback reuse
    * map. Consistent by construction: a file's entry never changes
    * while it lives, so any sidecar that lists it agrees. */
  private def everAssigned(table: String): Map[String, Long] = {
    val d = new java.io.File(table)
    if (!d.exists()) Map.empty
    else d.listFiles().toSeq.map(_.getName)
      .collect { case s if s.matches("v\\d+\\.rid") =>
        s.stripPrefix("v").stripSuffix(".rid").toInt }
      .sorted.foldLeft(Map.empty[String, Long]) { (acc, v) =>
        acc ++ parseRid(ridPath(table, v))._1
      }
  }

  /** `(file -> first_row_id, next counter)` for a version, deriving
    * and persisting any missing sidecars from the newest persisted one
    * forward (each step is a manifest diff + footer reads of the new
    * files; the rollback-reuse map loads ONCE for the whole walk, so a
    * first-enable over a long history is O(versions), not O(versions²)).
    * Deterministic: re-derivation after a crashed committer reproduces
    * the same assignment bit for bit. */
  def ridOf(table: String, version: Int): (Map[String, Long], Long) = {
    if (version <= 0) return (Map.empty, 0L)
    val p = ridPath(table, version)
    if (java.nio.file.Files.exists(p)) return parseRid(p)
    var start = version - 1
    while (start > 0 &&
      !java.nio.file.Files.exists(ridPath(table, start))) start -= 1
    var (cur, next) =
      if (start == 0) (Map.empty[String, Long], 0L)
      else parseRid(ridPath(table, start))
    // union of every assignment ever persisted + this walk's own —
    // files re-entering a manifest (rollback) reuse their original id
    var ever: Map[String, Long] = null
    for (v <- (start + 1) to version) {
      val files = Sources.filesOf(table, v)
      val fileSet = files.toSet
      val carried = cur.filter { case (f, _) => fileSet.contains(f) }
      val incoming = files.filterNot(cur.contains).sorted
      if (incoming.nonEmpty && ever == null)
        ever = everAssigned(table) ++ cur
      val assigned = incoming.map { f =>
        ever.get(f) match {
          case Some(first) =>
            // re-entering file (rollback): reuse its recorded range —
            // and keep the counter PAST it, or a walk whose
            // intermediate sidecars were lost could hand a later file
            // the same range (duplicate ids)
            next = math.max(next, first + footerRowCount(f))
            f -> first
          case None =>
            val first = next
            next += footerRowCount(f)
            f -> first
        }
      }
      if (ever != null) ever = ever ++ assigned
      cur = carried ++ assigned
      writeRid(table, v, cur, next)
    }
    (cur, next)
  }

  /** Derive + persist through `version`; failures are swallowed (the
    * sidecar is a deterministic cache — the next reader repairs). */
  def ensure(table: String, version: Int): Unit =
    try { ridOf(table, version); () } catch { case _: Exception => () }

  // ---- read-side attachment ------------------------------------------

  /** The declared/inferred read schema widened with a nullable
    * `_row_id` (files that never materialized it read as NULLs —
    * parquet's missing-column contract — which the coalesce rule then
    * fills from the file range). */
  private[sources] def schemaWithRowId(base: StructType): StructType =
    StructType(base.fields.filterNot(_.name == COL) :+
      StructField(COL, LongType, nullable = true))

  /** `coalesce(materialized, first_row_id(file) + row position)` —
    * the one rule that serves clean, mixed, and fully-materialized
    * files alike. Call on a scan whose schema included [[COL]]. */
  private[sources] def fill(df: DataFrame,
      rid: Map[String, Long]): DataFrame = {
    val holder = new RidHolder(rid)
    val firstOf = udf((p: String) => holder.first(p))
    df.withColumn(COL, coalesce(col(COL),
      firstOf(col("_metadata.file_path")) + col("_metadata.row_index")))
  }

  /** Read a version WITH its `_row_id` column — [[Sources.readVersion]]
    * semantics (declared schema, DV filter, pending eq filter) plus
    * lineage. */
  def readVersionWithRowIds(spark: SparkSession, table: String,
      version: Int = -1): DataFrame = {
    require(enabled(table), s"$table does not declare rowids.enabled")
    val v = if (version < 0) Sources.latestVersion(table) else version
    require(v > 0, s"$table has no committed versions")
    val files = Sources.filesOf(table, v)
    val schema = schemaWithRowId(Sources.schemaOf(spark, table, v))
    if (files.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    liveAt(spark, table, v, files)
  }

  /** [[Sources.readRows]] under the version's schema plus [[COL]],
    * with `_row_id` filled. */
  private def rowsAt(spark: SparkSession, table: String, version: Int,
      files: Seq[String], dv: Map[String, java.util.BitSet],
      eq: Seq[Sources.EqEntry], mode: Sources.DeleteMode): DataFrame =
    fill(Sources.readRows(spark, table, version, Some(files), dv, eq, mode,
      Some(schemaWithRowId(Sources.schemaOf(spark, table, version)))),
      ridOf(table, version)._1)

  /** [[rowsAt]] under the version's own delete state: its live rows. */
  private def liveAt(spark: SparkSession, table: String, version: Int,
      files: Seq[String]): DataFrame =
    rowsAt(spark, table, version, files, Sources.dvOf(table, version),
      Sources.eqOf(table, version), Sources.DeleteMode.Live)

  /** Rewrite-path survivor read: the live rows of the file subset
    * under the declared schema PLUS each row's id (materialized column
    * or file range) — what every copy-on-write rewrite of a lineage
    * table must feed its writer so survivors keep their identity. */
  private[sources] def readFileSubsetWithRowIds(spark: SparkSession,
      table: String, version: Int, files: Seq[String]): DataFrame =
    liveAt(spark, table, version, files)

  /** The NET change feed between two versions of a lineage table —
    * what [[Sources.readChanges]]'s file-granular contract cannot say:
    * candidate departing rows (gone files, grown DVs, new eq entries)
    * and candidate arriving rows (added files) are each tagged with
    * their `_row_id` and FULL-OUTER-JOINED on it, so
    *
    *  - a row a rewrite merely MOVED (compaction, purge, another row's
    *    CoW delete/update/merge) matches itself with identical content
    *    and DROPS OUT — layout changes produce an EMPTY feed instead
    *    of delete+insert noise the size of the rewritten bytes;
    *  - a row [[Sources.updateWhere]] changed IN PLACE matches itself
    *    with different content and emits a paired
    *    `update_preimage`/`update_postimage` (Delta CDF's update
    *    contract) carrying the from-/to-version images;
    *  - unmatched departures are `delete`s, unmatched arrivals are
    *    `insert`s — exactly the file-granular feed's semantics for
    *    genuinely new/gone rows.
    *
    * Cost is O(changed files between the versions) + one equi-join on
    * the id — never O(table) beyond what the rewrites themselves
    * touched. Departing content reads at `fromVersion`'s delete state,
    * arriving at `toVersion`'s, both aligned to the `toVersion` schema
    * (evolution-safe); every side is one delete-filtered read
    * ([[Sources.readRows]]), as in [[Sources.readChanges]]. */
  def readChangesLineage(spark: SparkSession, table: String,
      fromVersion: Int, toVersion: Int): DataFrame = {
    require(enabled(table), s"$table does not declare rowids.enabled")
    // fromVersion 0 = "since before the table existed": everything at
    // `toVersion` is an insert (the stream-bootstrap shape)
    val baseTo = Sources.schemaOf(spark, table, toVersion)
    val dataCols = baseTo.fieldNames.filterNot(_ == COL).toSeq
    def shaped(p: Sources.ChangePart, tag: String) =
      Sources.alignToSchema(
        rowsAt(spark, table, p.version, p.files, p.dv, p.eq, p.mode),
        schemaWithRowId(baseTo), Map.empty)
        .select(struct(dataCols.map(col): _*).as(tag), col(COL))
    // departures (gone files, grown DVs, rows new eq entries retired)
    // and arrivals (added files)
    val (dep, arr) =
      Sources.changeParts(table, fromVersion, toVersion).partition(_.change == "delete")
    val depAll = dep.map(shaped(_, "pre")).reduceOption(_ unionByName _)
    val arrAll = arr.map(shaped(_, "post")).reduceOption(_ unionByName _)
    val empty = {
      val fields = org.apache.spark.sql.types.StructType(
        baseTo.fields.filterNot(_.name == COL) :+
          org.apache.spark.sql.types.StructField("_change_type",
            org.apache.spark.sql.types.StringType))
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], fields)
    }
    (depAll, arrAll) match {
      case (None, None) => empty
      case (dOpt, aOpt) =>
        val d = dOpt.getOrElse(
          aOpt.get.select(col("post").as("pre"), col(COL))
            .filter(lit(false)))
        val a = aOpt.getOrElse(
          dOpt.get.select(col("pre").as("post"), col(COL))
            .filter(lit(false)))
        val joined = d.join(a.withColumnRenamed(COL, "__rid2"),
          d(COL) === col("__rid2"), "full_outer")
        def img(side: String, ct: String) =
          (dataCols.map(c => col(s"$side.$c").as(c)) :+
            lit(ct).as("_change_type"))
        val dels = joined.filter(col("__rid2").isNull)
          .select(img("pre", "delete"): _*)
        val ins = joined.filter(col(COL).isNull)
          .select(img("post", "insert"): _*)
        val upd = joined.filter(col(COL).isNotNull &&
          col("__rid2").isNotNull && !(col("pre") <=> col("post")))
        dels.unionByName(ins)
          .unionByName(upd.select(img("pre", "update_preimage"): _*))
          .unionByName(upd.select(img("post", "update_postimage"): _*))
    }
  }
}

/** Broadcast-friendly (file -> first_row_id) probe: a
  * normalized-path lookup, null on unknown files
  * (their rows keep a NULL id rather than inventing one). */
private[graft] final class RidHolder(m: Map[String, Long])
  extends Serializable {
  def first(path: String): java.lang.Long =
    m.get(Sources.normalizePath(path)).map(java.lang.Long.valueOf).orNull
}
