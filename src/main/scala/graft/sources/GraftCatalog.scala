package graft.sources

import java.util

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, V1Write, WriteBuilder}
import org.apache.spark.sql.execution.datasources.PartitioningAwareFileIndex
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.{Filter, InsertableRelation}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The versioned table format as a DataSourceV2 `TableCatalog` — the
  * round-3 audit's top missing surface: catalog IDENTITY, so SQL DML
  * routes to the format's commit protocol with no path strings in user
  * queries. With
  *
  * {{{
  * spark.sql.catalog.g           = graft.sources.GraftCatalog
  * spark.sql.catalog.g.warehouse = /data/warehouse
  * }}}
  *
  * a pure-SQL user writes
  *
  * {{{
  * CREATE TABLE g.orders (o_orderkey BIGINT, ...);
  * INSERT INTO g.orders SELECT ...;            -- OCC append commit
  * INSERT OVERWRITE g.orders SELECT ...;       -- replacing commit
  * DELETE FROM g.orders WHERE o_orderkey < 10; -- file-granular COW
  * SELECT * FROM g.orders VERSION AS OF 3;     -- native time travel
  * }}}
  *
  * and every statement lands on [[Sources]] ([[Sources.commitVersion]],
  * [[Sources.deleteWhere]], [[Sources.createEmptyTable]]) — versions,
  * manifests, stats sidecars, and pinned readers all behave exactly as
  * through the API.
  *
  * Read path: [[GraftTable]] COMPOSES Spark's own DSv2
  * `ParquetScanBuilder` with the manifest-pinned, stats-skipping
  * [[ManifestFileIndex]] — so the scan is Spark's vectorized/codegen'd
  * v2 parquet reader over the committed version's exact file set, with
  * pushed data filters reaching `listFiles` for manifest-stats file
  * skipping (same division of labor as the V1 `USING graft` path, now
  * with catalog identity). Deliberately NOT a `FileTable` subclass:
  * the analyzer's `FallBackFileSourceV2` rule reroutes INSERTs into
  * any FileTable to a raw directory write, bypassing the commit.
  *
  * Write paths: `V1_BATCH_WRITE` + [[V1Write]] for INSERT (the write
  * arrives as a full DataFrame and commits through the OCC protocol —
  * a manifest-publish commit gains nothing from per-task commit
  * messages at this granularity); DELTA row-level operations
  * (`SupportsDelta`, [[GraftDeltaOperation]]) for MERGE/UPDATE/DELETE —
  * merge-on-read through SQL: DV marks + one appended batch, never a
  * table rewrite; and an exactly-once [[GraftStreamingWrite]] for
  * `writeStream.toTable`, one versioned append per epoch.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces
  with FunctionCatalog
  with ProcedureCatalog {

  private var catalogName: String = _
  private var warehouse: String = _

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog $name: spark.sql.catalog.$name.warehouse is required"))
  }

  override def name(): String = catalogName

  // ---- FunctionCatalog: the V2 `bucket` function ---------------------
  //
  // Resolving a bucketed scan's reported KeyGroupedPartitioning walks
  // `V2ExpressionUtils.loadV2FunctionOpt(catalog, "bucket", args)` —
  // this is the hook that lets EnsureRequirements recognize two
  // co-bucketed graft tables as co-partitioned and plan the join with
  // NO Exchange on either side (storage-partitioned join).
  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty) Array(Identifier.of(Array.empty, "bucket"))
    else Array.empty

  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.namespace().isEmpty && ident.name() == "bucket")
      GraftBucketFunction
    else throw new org.apache.spark.sql.catalyst.analysis
      .NoSuchFunctionException(ident)

  private def spark: SparkSession = SparkSession.active

  private def tableDir(ident: Identifier): String =
    (warehouse +: (ident.namespace() :+ ident.name()).toSeq).mkString("/")

  override def tableExists(ident: Identifier): Boolean =
    Sources.latestVersion(tableDir(ident)) > 0

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = new java.io.File((warehouse +: namespace.toSeq).mkString("/"))
    Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(d => d.isDirectory && Sources.latestVersion(d.getPath) > 0)
      .map(d => Identifier.of(namespace, d.getName))
  }

  override def loadTable(ident: Identifier): Table = {
    // metadata tables, Trino/Iceberg style: SELECT * FROM g.`t$history`
    // (one row per version) / g.`t$files` (the pinned file inventory)
    ident.name().split("\\$", 2) match {
      case Array(base, meta) if meta.startsWith("branch$") =>
        // the branch as a WRITABLE table: INSERT INTO g.`t$branch$dev`,
        // MERGE/UPDATE/DELETE — full SQL DML on the staging chain, so
        // WAP runs end-to-end in SQL (create_branch → DML on
        // t$branch$dev → audit VERSION AS OF 'dev' → publish_branch)
        val baseIdent = Identifier.of(ident.namespace(), base)
        if (!tableExists(baseIdent)) throw new NoSuchTableException(ident)
        val bd = Refs.branchDir(tableDir(baseIdent),
          meta.stripPrefix("branch$"))
        if (Sources.latestVersion(bd) == 0) throw new NoSuchTableException(ident)
        new GraftTable(spark, bd, -1)
      case Array(base, meta) if meta.nonEmpty =>
        val baseIdent = Identifier.of(ident.namespace(), base)
        if (!tableExists(baseIdent)) throw new NoSuchTableException(ident)
        val dir = tableDir(baseIdent)
        val df = meta match {
          case "history" => Sources.history(spark, dir)
          case "files" =>
            val s = spark
            import s.implicits._
            val v = Sources.latestVersion(dir)
            val stats = Sources.statsOf(dir, v)
              .keys.map(_._1).toSet ++
              Sources.statsOfString(dir, v).keys.map(_._1).toSet
            val dv = Sources.dvOf(dir, v)
            Sources.filesOf(dir, v).map(f =>
              (f, java.nio.file.Files.size(java.nio.file.Paths.get(f)),
                stats.contains(f),
                dv.get(f).map(_.cardinality().toLong).getOrElse(0L)))
              .toDF("file", "bytes", "has_stats", "dv_rows")
          case "dv" =>
            // the merge-on-read pressure gauge: per-file marked-row
            // counts for the HEAD version — what a table owner reads
            // before scheduling CALL g.system.purge_dv
            val s = spark
            import s.implicits._
            val v = Sources.latestVersion(dir)
            Sources.dvOf(dir, v).toSeq.sortBy(_._1)
              .map { case (f, b) => (f, b.cardinality().toLong) }
              .toDF("file", "dv_rows")
          case "ndv" =>
            // the planner-statistics gauge: per-column HLL-union NDV
            // plus the version's exact live row count — what
            // estimateStatistics serves, made SELECTable
            val s = spark
            import s.implicits._
            val v = Sources.latestVersion(dir)
            val rows = Sources.versionRows(dir, v).getOrElse(-1L)
            Sources.ndvStatsForFiles(dir, v, Sources.filesOf(dir, v))
              .toSeq.sortBy(_._1)
              .map { case (c, n) => (c, n, rows) }
              .toDF("column", "ndv", "live_rows")
          case "partitions" =>
            // per-partition inventory (Iceberg's $partitions): the
            // partition key from each file's hive segments (identity
            // `c=v` dirs, the hidden `_pt=` transform value, the `_b=`
            // bucket id), with file count, bytes, DV-marked rows, and
            // live rows where the ndv sidecar covers the file (-1
            // where unknown — never a scan). The skew/small-file gauge
            // read before a scoped OPTIMIZE.
            val s = spark
            import s.implicits._
            val v = Sources.latestVersion(dir)
            val dv = Sources.dvOf(dir, v)
            val (rowCounts, _) = Sources.ndvOf(dir, v)
            def keyOf(f: String): String = {
              val segs = f.split('/').dropRight(1).filter(seg =>
                seg.contains("=") && !seg.startsWith("batch-"))
              if (segs.isEmpty) "<unpartitioned>"
              else segs.map(org.apache.spark.sql.catalyst.catalog
                .ExternalCatalogUtils.unescapePathName).mkString("/")
            }
            Sources.filesOf(dir, v)
              .map { f =>
                val marked =
                  dv.get(f).map(_.cardinality().toLong).getOrElse(0L)
                (keyOf(f), 1L,
                  java.nio.file.Files.size(java.nio.file.Paths.get(f)),
                  rowCounts.get(Sources.normalizePath(f))
                    .map(_ - marked), marked)
              }
              .groupBy(_._1).toSeq.sortBy(_._1)
              .map { case (k, fs) =>
                (k, fs.map(_._2).sum, fs.map(_._3).sum,
                  if (fs.forall(_._4.isDefined)) fs.flatMap(_._4).sum
                  else -1L,
                  fs.map(_._5).sum)
              }
              .toDF("partition", "n_files", "bytes", "live_rows",
                "dv_rows")
          case "refs" =>
            // tags + branches in one audit surface: kind, name, the
            // version a tag pins / a branch forked from, and a
            // branch's current head (tags repeat their version)
            val s = spark
            import s.implicits._
            val tags = Refs.tagsOf(dir).toSeq.sorted
              .map { case (n, v) => ("tag", n, v, v) }
            val branches = Refs.branchesOf(dir).toSeq.sortBy(_._1)
              .map { case (n, (base, head)) => ("branch", n, base, head) }
            (tags ++ branches)
              .toDF("kind", "name", "version", "head")
          case "rid" =>
            // row-lineage inventory: each file's first_row_id range +
            // whether a rewrite materialized the ids physically, and
            // the table's next id (the `#next` counter) on every row
            val s = spark
            import s.implicits._
            require(RowIds.enabled(dir),
              s"$base does not declare rowids.enabled")
            val v = Sources.latestVersion(dir)
            val (rid, next) = RowIds.ridOf(dir, v)
            val (rowCounts, _) = Sources.ndvOf(dir, v)
            rid.toSeq.sortBy(_._1).map { case (f, first) =>
              // footer probe, not a DataFrameReader per file
              val materialized = scala.util.Try(
                RowIds.footerFields(f).contains(RowIds.COL))
                .getOrElse(false)
              (f, first,
                rowCounts.get(Sources.normalizePath(f)).getOrElse(-1L),
                materialized, next)
            }.toDF("file", "first_row_id", "rows", "materialized",
              "next_row_id")
          case "eq" =>
            // pending equality-delete entries for the HEAD version: key
            // columns, retired-key count, and scope width — the gauge
            // read before CALL g.system.purge_eq
            val s = spark
            import s.implicits._
            val v = Sources.latestVersion(dir)
            Sources.eqOf(dir, v).map { e =>
              val nKeys = scala.util.Try(
                Sources.eqKeyFooter(e.dataPath)._2).getOrElse(0L)
              (e.keyCols.mkString(","), nKeys, e.basedOn)
            }.toDF("key_columns", "n_keys", "based_on")
          case other => throw new NoSuchTableException(ident)
        }
        new GraftMetaTable(s"graft:$dir$$$meta", df)
      case _ =>
        if (!tableExists(ident)) throw new NoSuchTableException(ident)
        new GraftTable(spark, tableDir(ident), -1)
    }
  }

  /** `SELECT ... FROM g.t VERSION AS OF <n>` — SQL time travel straight
    * off the manifest history. A NON-numeric version is a ref name:
    * a tag resolves to its pinned version, a branch name to the branch
    * chain's head (`VERSION AS OF 'dev'` audits a WAP branch in SQL). */
  override def loadTable(ident: Identifier, version: String): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val dir = tableDir(ident)
    val v = version.trim
    if (v.matches("-?\\d+")) new GraftTable(spark, dir, v.toInt)
    else Refs.resolve(dir, v) match {
      case Some((refDir, refV)) => new GraftTable(spark, refDir, refV)
      case None => throw new IllegalArgumentException(
        s"${ident.name()} has no version, tag, or branch '$v'")
    }
  }

  /** `TIMESTAMP AS OF` — latest version whose manifest was published at
    * or before the timestamp (micros since epoch, per the DSv2
    * contract). */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val dir = tableDir(ident)
    val millis = timestamp / 1000L
    val v = Sources.history(spark, dir).collect()
      .filter(_.getTimestamp(4).getTime <= millis)
      .map(_.getInt(0)).maxOption.getOrElse(
        throw new NoSuchTableException(ident))
    new GraftTable(spark, dir, v)
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    // `PARTITIONED BY (c, ...)` — IDENTITY transforms (hive-laid-out
    // batch dirs + a real partition spec for partitionFilters pruning,
    // via the `partition.columns` property), ONE `bucket(n, c)`
    // transform (hash-bucket layout + KeyGroupedPartitioning scans for
    // storage-partitioned joins, via `bucket.column`/`bucket.count`),
    // or ONE HIDDEN transform — days/months/years/hours(ts) or
    // truncate(n, c) — whose derived value lives only in `_pt=<v>`
    // dirs and prunes on raw-column predicates (`ptransform.*` props)
    val temporalKinds = Set("years", "months", "days", "hours")
    val (bucketTs, rest) = partitions.toSeq.partition(_.name == "bucket")
    val (xformTs, identTs) = rest.partition(t =>
      temporalKinds.contains(t.name) || t.name == "truncate")
    require(bucketTs.length <= 1,
      "at most one bucket(...) transform is supported")
    require(xformTs.length <= 1,
      "at most one days/months/years/hours/truncate transform is supported")
    require(bucketTs.isEmpty || identTs.isEmpty,
      "bucket(...) cannot be combined with identity partition columns")
    require(xformTs.isEmpty || (identTs.isEmpty && bucketTs.isEmpty),
      "a hidden partition transform cannot be combined with identity " +
        "columns or bucket(...)")
    val xformProps: Map[String, String] = xformTs.headOption.map { t =>
      val refs = t.references()
      require(refs.length == 1 && refs.head.fieldNames().length == 1,
        s"${t.name}(...) takes exactly one top-level column")
      val cname = refs.head.fieldNames().head
      val field = schema.fields.find(_.name == cname).getOrElse(
        throw new IllegalArgumentException(
          s"transform column $cname is not in the table schema"))
      require(!schema.fieldNames.contains("_pt"),
        "column name _pt is reserved for the transform layout")
      import org.apache.spark.sql.types._
      if (temporalKinds.contains(t.name)) {
        val ok = field.dataType match {
          case DateType => t.name != "hours" // hours of a DATE is void
          case TimestampType | TimestampNTZType => true
          case _ => false
        }
        require(ok, s"${t.name}(${cname}) needs a DATE/TIMESTAMP column, " +
          s"got ${field.dataType.catalogString}")
        Map("ptransform.kind" -> t.name, "ptransform.column" -> cname)
      } else { // truncate(n, c)
        val ok = field.dataType match {
          case StringType | ByteType | ShortType | IntegerType |
              LongType => true
          case _ => false
        }
        require(ok, s"truncate($cname) needs a STRING or integral " +
          s"column, got ${field.dataType.catalogString}")
        val w = t.arguments().collectFirst {
          case l: org.apache.spark.sql.connector.expressions.Literal[_]
              if l.value().isInstanceOf[Number] =>
            l.value().asInstanceOf[Number].intValue()
        }.getOrElse(throw new IllegalArgumentException(
          s"truncate transform needs a literal width: $t"))
        require(w > 0, s"truncate width must be positive, got $w")
        Map("ptransform.kind" -> "truncate", "ptransform.column" -> cname,
          "ptransform.width" -> w.toString)
      }
    }.getOrElse(Map.empty)
    val partCols = identTs.map {
      case t if t.name == "identity" && t.references().length == 1 =>
        require(t.references().head.fieldNames().length == 1,
          "nested partition columns are not supported")
        val name = t.references().head.fieldNames().head
        require(schema.fieldNames.contains(name),
          s"partition column $name is not in the table schema")
        name
      case t => throw new UnsupportedOperationException(
        s"graft PARTITIONED BY supports identity columns and " +
          s"bucket(n, c) only, got $t")
    }
    val bucketProps: Map[String, String] = bucketTs.headOption.map { t =>
      val refs = t.references()
      require(refs.length == 1 && refs.head.fieldNames().length == 1,
        "bucket(...) takes exactly one top-level column")
      val cname = refs.head.fieldNames().head
      val field = schema.fields.find(_.name == cname).getOrElse(
        throw new IllegalArgumentException(
          s"bucket column $cname is not in the table schema"))
      require(GraftBucketFunction.supported.contains(field.dataType),
        s"bucket column type ${field.dataType.catalogString} is not " +
          "supported")
      require(!schema.fieldNames.contains("_b"),
        "column name _b is reserved for the bucket layout")
      val n = t.arguments().collectFirst {
        case l: org.apache.spark.sql.connector.expressions.Literal[_]
            if l.value().isInstanceOf[Number] =>
          l.value().asInstanceOf[Number].intValue()
      }.getOrElse(throw new IllegalArgumentException(
        s"bucket transform needs a literal bucket count: $t"))
      require(n > 0, s"bucket count must be positive, got $n")
      Map("bucket.column" -> cname, "bucket.count" -> n.toString)
    }.getOrElse(Map.empty)
    Sources.createEmptyTable(tableDir(ident), schema)
    // persist user TBLPROPERTIES — `stats.columns` makes the table
    // SELF-MAINTAINING for file skipping: every later commit harvests
    // the min/max sidecar incrementally with no API in sight
    import scala.jdk.CollectionConverters._
    val user = properties.asScala.toMap
      .filterNot { case (k, _) => k.startsWith("option.") ||
        Set(TableCatalog.PROP_LOCATION, TableCatalog.PROP_PROVIDER,
          TableCatalog.PROP_OWNER, TableCatalog.PROP_COMMENT,
          TableCatalog.PROP_EXTERNAL).contains(k) }
    val all = user ++ (if (partCols.nonEmpty)
      Map("partition.columns" -> partCols.mkString(",")) else Map.empty) ++
      bucketProps ++ xformProps
    if (all.nonEmpty)
      Sources.writeTableProperties(tableDir(ident), all)
    new GraftTable(spark, tableDir(ident), -1)
  }

  /** ALTER TABLE: additive schema changes publish the current file set
    * under the evolved declared schema as a new version — a pure
    * metadata commit, zero data movement, old versions pinned. */
  override def alterTable(ident: Identifier,
      changes: TableChange*): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val dir = tableDir(ident)
    val v = Sources.latestVersion(dir)
    val cur = Sources.schemaOf(spark, dir, v)
    val next = changes.foldLeft(cur) {
      case (s, add: TableChange.AddColumn) =>
        require(add.fieldNames().length == 1,
          "nested ADD COLUMN is not supported")
        s.add(add.fieldNames().head, add.dataType(), nullable = true)
      case (s, rn: TableChange.RenameColumn) =>
        require(rn.fieldNames().length == 1,
          "nested RENAME COLUMN is not supported")
        // the DSv2 scan reads files under the declared names with no
        // per-generation alignment (that is readVersionEvolved's job),
        // so renaming over EXISTING data files would silently null the
        // column in catalog reads — and a later rewrite would persist
        // the nulls. Reject unless the file set is empty; the API
        // surface (commitVersionEvolving + readVersionEvolved) remains
        // the documented rename path for populated tables.
        require(Sources.filesOf(dir, v).isEmpty,
          "RENAME COLUMN on a populated graft table is supported only " +
            "through commitVersionEvolving/readVersionEvolved (the " +
            "catalog scan does not realign pre-rename file generations)")
        StructType(s.fields.map { f =>
          if (f.name == rn.fieldNames().head)
            f.copy(name = rn.newName(),
              metadata = new org.apache.spark.sql.types.MetadataBuilder()
                .withMetadata(f.metadata)
                .putString(Sources.RenamedFrom, f.name).build())
          else f
        })
      case (s, del: TableChange.DeleteColumn) =>
        // DROP COLUMN is a metadata-only commit: the column leaves the
        // DECLARED schema, so every scan stops reading it (dataSchema
        // excludes it) and every rewrite stops carrying it — the bytes
        // linger in existing files until compaction absorbs them, old
        // versions keep their pinned schema (the column is still there
        // under VERSION AS OF). Zero data movement, Delta's contract.
        require(del.fieldNames().length == 1,
          "nested DROP COLUMN is not supported")
        val name = del.fieldNames().head
        require(s.fieldNames.contains(name),
          s"DROP COLUMN: no column $name")
        require(!Sources.partitionColumnsOf(dir).contains(name),
          s"cannot drop partition column $name")
        require(s.fields.length > 1,
          "cannot drop a table's only column")
        StructType(s.fields.filterNot(_.name == name))
      case (s, ut: TableChange.UpdateColumnType) =>
        // ALTER COLUMN TYPE widens under the same lossless-upcast
        // contract as commitVersionEvolving — old files' narrower
        // values read through the parquet reader's widening promotion
        // (int→long, float→double); a narrowing change is a data bug
        // and fails fast
        require(ut.fieldNames().length == 1,
          "nested ALTER COLUMN TYPE is not supported")
        val name = ut.fieldNames().head
        val f = s.fields.find(_.name == name).getOrElse(
          throw new IllegalArgumentException(
            s"ALTER COLUMN TYPE: no column $name"))
        require(f.dataType == ut.newDataType() ||
          org.apache.spark.sql.catalyst.expressions.Cast.canUpCast(
            f.dataType, ut.newDataType()),
          s"column $name: ${f.dataType} does not widen losslessly to " +
            s"${ut.newDataType()}")
        StructType(s.fields.map(x =>
          if (x.name == name) x.copy(dataType = ut.newDataType()) else x))
      case (_, ch) => throw new UnsupportedOperationException(
        s"graft ALTER TABLE does not support $ch")
    }
    Sources.alterSchema(dir, next)
    new GraftTable(spark, dir, -1)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val dir = java.nio.file.Paths.get(tableDir(ident))
    if (!java.nio.file.Files.exists(dir)) false
    else { Sources.deleteTree(dir); true }
  }

  override def renameTable(oldIdent: Identifier,
      newIdent: Identifier): Unit = {
    if (!tableExists(oldIdent)) throw new NoSuchTableException(oldIdent)
    if (tableExists(newIdent)) throw new TableAlreadyExistsException(newIdent)
    java.nio.file.Files.move(
      java.nio.file.Paths.get(tableDir(oldIdent)),
      java.nio.file.Paths.get(tableDir(newIdent)))
  }

  // ---- SQL-callable maintenance: CALL g.system.<proc>(...) -----------
  // (optimize/vacuum/purge_dv/analyze/rollback — GraftProcedures; table
  // arguments are catalog-relative names resolved under the warehouse)

  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    GraftProcedures.load(ident, name => {
      val parts = name.split("\\.").toSeq
      val id = Identifier.of(parts.init.toArray, parts.last)
      if (!tableExists(id)) throw new NoSuchTableException(id)
      tableDir(id)
    })

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty || namespace.toSeq == Seq("system"))
      GraftProcedures.all
    else Array.empty

  // ---- namespaces = directories under the warehouse -----------------
  // (the minimal SupportsNamespaces so SHOW TABLES / SHOW NAMESPACES /
  // CREATE NAMESPACE / USE g.ns resolve; a namespace is a plain
  // directory, a table is a directory with committed manifests)

  private def nsDir(ns: Array[String]): java.nio.file.Path =
    java.nio.file.Paths.get((warehouse +: ns.toSeq).mkString("/"))

  override def listNamespaces(): Array[Array[String]] = {
    val root = new java.io.File(warehouse)
    Option(root.listFiles()).getOrElse(Array.empty)
      .filter(d => d.isDirectory && Sources.latestVersion(d.getPath) == 0)
      .map(d => Array(d.getName))
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    if (namespace.isEmpty) listNamespaces()
    else {
      if (!namespaceExists(namespace))
        throw new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(
          namespace)
      Array.empty // one level deep is the supported nesting
    }
  }

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty || java.nio.file.Files.isDirectory(nsDir(namespace))

  override def loadNamespaceMetadata(
      namespace: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(namespace))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(
        namespace)
    new util.HashMap[String, String]()
  }

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit = {
    if (namespaceExists(namespace) && namespace.nonEmpty)
      throw new org.apache.spark.sql.catalyst.analysis
        .NamespaceAlreadyExistsException(namespace)
    java.nio.file.Files.createDirectories(nsDir(namespace))
  }

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "graft namespaces carry no metadata to alter")

  override def dropNamespace(namespace: Array[String],
      cascade: Boolean): Boolean = {
    val dir = nsDir(namespace)
    if (!java.nio.file.Files.exists(dir)) false
    else {
      if (!cascade)
        require(listTables(namespace).isEmpty,
          s"namespace ${namespace.mkString(".")} is not empty")
      Sources.deleteTree(dir)
      true
    }
  }
}

/** One committed version of a graft table on the DSv2 surface: two
  * read routes — Spark's v2 parquet SCAN over the manifest-pinned
  * stats-skipping file index for clean versions (composed, not
  * inherited — extending `FileTable` trips the analyzer's
  * `FallBackFileSourceV2` rule, which rewrites INSERTs into any
  * FileTable back to a raw directory write and would bypass the
  * manifest commit entirely), and [[GraftNativeScan]] for every other
  * read. Writes are a V1-fallback OCC commit, row-level SQL DML and
  * file-granular SQL DELETE. */
class GraftTable(spark: SparkSession, path: String, version: Int)
  extends Table with SupportsRead with SupportsWrite with SupportsDelete
  with SupportsRowLevelOperations with SupportsMetadataColumns {

  private[sources] val pinned =
    if (version < 0) Sources.latestVersion(path) else version

  /** The on-disk table root — [[MetadataOnlyAggregates]]' handle into
    * the version's sidecars. */
  private[sources] def tablePath: String = path

  override def name(): String =
    s"graft:$path" + (if (version > 0) s"@v$version" else "")

  override def properties(): util.Map[String, String] = {
    val m = new util.HashMap[String, String]()
    Sources.tableProperties(path).foreach { case (k, v) => m.put(k, v) }
    m
  }

  // the served schema: identity partition columns an API-written table
  // keeps only in its paths included, as [[Sources.readVersion]] serves
  override lazy val schema: StructType =
    ManifestFileIndex.servedSchema(spark, path, pinned)

  override def partitioning()
      : Array[org.apache.spark.sql.connector.expressions.Transform] = {
    import org.apache.spark.sql.connector.expressions.Expressions
    Sources.bucketSpecOf(path) match {
      case Some((c, n)) => Array(Expressions.bucket(n, c))
      case None => Sources.partTransformOf(path) match {
        case Some(t) => Array(t.kind match {
          case "years" => Expressions.years(t.column)
          case "months" => Expressions.months(t.column)
          case "days" => Expressions.days(t.column)
          case "hours" => Expressions.hours(t.column)
          case "truncate" => Expressions.apply("truncate",
            Expressions.literal(Integer.valueOf(t.width)),
            Expressions.column(t.column))
        })
        case None => Sources.partitionColumnsOf(path)
          .map(Expressions.identity).toArray
      }
    }
  }

  lazy val fileIndex: PartitioningAwareFileIndex =
    new ManifestFileIndex(spark, path, pinned)

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(
      TableCapability.BATCH_READ,
      TableCapability.V1_BATCH_WRITE,
      TableCapability.STREAMING_WRITE,
      TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.TRUNCATE)

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : org.apache.spark.sql.connector.read.ScanBuilder = {
    val bucket = Sources.bucketSpecOf(path)
    // the native scan (bucket, partition, stats/bloom pruning; DV marks
    // and memoized eq-retired positions applied inline; partition
    // values and metadata columns served reader-side)
    def native = new GraftNativeScanBuilder(spark, path, pinned, schema,
      bucket)
    if (bucket.nonEmpty || Sources.dvOf(path, pinned).nonEmpty ||
        Sources.eqOf(path, pinned).nonEmpty)
      // hash-bucketed (KeyGroupedPartitioning, so co-bucketed joins plan
      // shuffle-free and bucket-column point predicates prune whole
      // buckets — merge-on-read and CDC deletes never cost the join its
      // partitioning), or a version carrying deletes, on any layout
      native
    else {
      // a clean version: Spark's own vectorized builder. dataSchema
      // excludes identity-partition columns — they live in the hive
      // paths and the scan serves them from partition values
      val partNames = Sources.partitionColumnsOf(path).toSet
      val dataSchema = StructType(
        schema.fields.filterNot(f => partNames.contains(f.name)))
      val plain =
        new org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder(
          spark, fileIndex, schema, dataSchema,
          new CaseInsensitiveStringMap(util.Map.of()))
      // the router keeps the stock builder on the common path and swaps
      // in the native scan only when the query references
      // _gfile/_gpos/_row_id — which ParquetScanBuilder would otherwise
      // null-fill silently
      new org.apache.spark.sql.graftbridge.MetaRoutingScanBuilder(
        plain, GraftTable.metaNamesFor(path), () => native)
    }
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new GraftWriteBuilder(path, info)

  // ---- MERGE INTO / UPDATE / DELETE (delta row-level operations) -----
  //
  // DELTA-based (`SupportsDelta`), i.e. MERGE-ON-READ through SQL: the
  // target scan serves rows with their (file, position) identity and
  // existing DVs applied, matched rows come back as per-row DELETE /
  // UPDATE / INSERT operations, and the commit is O(changed rows) —
  // carried manifest + appended batch + merged DV sidecar
  // ([[GraftDeltaOperation]]). The earlier group-based form rewrote the
  // whole table per MERGE; at 100 TB that is the difference between a
  // CDC batch costing megabytes and costing the table. Translatable
  // DELETEs never reach here (the metadata-only `deleteWhere` plan
  // replacement fires first); untranslatable ones become pure DV marks
  // — on ANY layout, DV-carrying versions included.
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder =
    // pending equality deletes are no bar: the target scan (the native
    // scan) drops eq-retired rows inside its read ([[Sources.Deletes]]),
    // so they are never match candidates — a CDC-fed table stays DML-able between
    // purge_eq runs
    () => new GraftDeltaOperation(spark, path, this, info.command())

  /** The row identity the delta operations key on — Iceberg's
    * `_file`/`_pos` contract: manifest path + physical parquet row
    * index (the DV sidecar's position space). Served by one scan,
    * [[GraftNativeScan]], through its extraction plan: a clean version
    * routes a query that references them from the stock parquet path
    * to it ([[org.apache.spark.sql.graftbridge.MetaRoutingScanBuilder]]),
    * and every other read and the row-level target scan is native
    * already. */
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = "_gfile"
        override def dataType(): org.apache.spark.sql.types.DataType =
          org.apache.spark.sql.types.StringType
        override def isNullable: Boolean = false
        override def comment(): String = "manifest path of the row's file"
      },
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = "_gpos"
        override def dataType(): org.apache.spark.sql.types.DataType =
          org.apache.spark.sql.types.LongType
        override def isNullable: Boolean = false
        override def comment(): String = "physical row index within the file"
      }) ++ (if (!RowIds.enabled(path)) Array.empty[
        org.apache.spark.sql.connector.catalog.MetadataColumn]
      else Array[org.apache.spark.sql.connector.catalog.MetadataColumn](
        // row lineage: the stable id (materialized column or file
        // range — [[RowIds]]), SQL-visible on every read stack a flat
        // lineage table can take
        new org.apache.spark.sql.connector.catalog.MetadataColumn {
          override def name(): String = RowIds.COL
          override def dataType(): org.apache.spark.sql.types.DataType =
            org.apache.spark.sql.types.LongType
          // non-nullable: every served row has an id (physical column
          // or file range), and Spark REFUSES nullable row-id
          // attributes for delta operations (NULLABLE_ROW_ID_ATTRIBUTES)
          override def isNullable: Boolean = false
          override def comment(): String =
            "stable row id, preserved across rewrites"
        }))

  // ---- DELETE FROM g.t WHERE ... ------------------------------------

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    filters.forall(f => GraftTable.filterToColumn(f).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    val cond = filters.flatMap(GraftTable.filterToColumn)
      .reduceOption(_ && _).getOrElse(lit(true))
    // merge-on-read by default: a point/narrow DELETE commits only a
    // DV sidecar (zero data-file rewrite); deleteWhereDv itself falls
    // back to the copy-on-write rewrite when the match set is too wide
    // for commit metadata — the right cost model at both extremes. The
    // candidate scan skips the files whose stats or blooms prove no row
    // can match
    Sources.deleteWhereDv(spark, path, cond, Sources.filterKeeper(path,
      Sources.latestVersion(path), filters.toSeq))
  }

  override def truncateTable(): Boolean = {
    // an empty replacing commit: history intact, latest version empty
    val schema = Sources.schemaOf(spark, path, Sources.latestVersion(path))
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    Sources.commitVersion(empty, path, overwrite = true)
    true
  }
}

object GraftTable {

  /** The table's advertised metadata columns (Iceberg's `_file`/`_pos`
    * contract restated): every catalog read serves them, not only the
    * row-level-operation target scan. */
  private[sources] val metaColumnNames: Set[String] = Set("_gfile", "_gpos")

  /** This table's metadata-column names — the static pair plus
    * `_row_id` on lineage tables. */
  private[sources] def metaNamesFor(table: String): Set[String] =
    if (RowIds.enabled(table)) metaColumnNames + RowIds.COL
    else metaColumnNames

  /** The `columnStats` map for a (possibly pruned) file subset —
    * HLL-union NDV per fully-covered column. */
  private[sources] def columnStatsForFiles(table: String, version: Int,
      fs: Seq[String]): java.util.Map[
      org.apache.spark.sql.connector.expressions.NamedReference,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
    val m = new java.util.HashMap[
      org.apache.spark.sql.connector.expressions.NamedReference,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
    Sources.ndvStatsForFiles(table, version, fs).foreach { case (c, n) =>
      m.put(org.apache.spark.sql.connector.expressions
          .Expressions.column(c),
        new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
          override def distinctCount(): java.util.OptionalLong =
            java.util.OptionalLong.of(n)
        })
    }
    m
  }

  /** V1 `Filter` → `Column`, total over the shapes Spark pushes for
    * DELETE; a None makes `canDeleteWhere` refuse (Spark then reports
    * the delete as unsupported rather than running a wrong one). */
  private[sources] def filterToColumn(f: Filter): Option[org.apache.spark.sql.Column] = f match {
    case sources.EqualTo(a, v) => Some(col(a) === lit(v))
    case sources.EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
    case sources.GreaterThan(a, v) => Some(col(a) > lit(v))
    case sources.GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case sources.LessThan(a, v) => Some(col(a) < lit(v))
    case sources.LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case sources.In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
    case sources.IsNull(a) => Some(col(a).isNull)
    case sources.IsNotNull(a) => Some(col(a).isNotNull)
    case sources.StringStartsWith(a, v) => Some(col(a).startsWith(v))
    case sources.StringEndsWith(a, v) => Some(col(a).endsWith(v))
    case sources.StringContains(a, v) => Some(col(a).contains(v))
    case sources.And(l, r) =>
      for (lc <- filterToColumn(l); rc <- filterToColumn(r)) yield lc && rc
    case sources.Or(l, r) =>
      for (lc <- filterToColumn(l); rc <- filterToColumn(r)) yield lc || rc
    case sources.Not(c) => filterToColumn(c).map(!_)
    case sources.AlwaysTrue() => Some(lit(true))
    case sources.AlwaysFalse() => Some(lit(false))
    case _ => None
  }

}

/** A driver-computed metadata relation (version history / file
  * inventory) served through the V1 scan fallback — the rows are
  * KB-scale table METADATA, so the RowDataSourceScan path is exactly
  * right; nothing data-sized ever flows through it. */
private[graft] class GraftMetaTable(tableName: String,
    df: org.apache.spark.sql.DataFrame)
  extends Table with SupportsRead {

  override def name(): String = tableName
  override def schema(): StructType = df.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : org.apache.spark.sql.connector.read.ScanBuilder =
    () => new org.apache.spark.sql.connector.read.Scan
      with org.apache.spark.sql.connector.read.Batch
      with org.apache.spark.sql.connector.read.SupportsReportStatistics {
      // a NATIVE batch scan (not a V1Scan: the V1ScanWrapper hides
      // SupportsReportStatistics, pinning every metadata table at the
      // huge V1 default and vetoing planner-side broadcasts): the rows
      // are KB-scale driver-computed metadata, collected once and
      // shipped inside the single input partition
      private lazy val rows: Array[org.apache.spark.sql.catalyst.InternalRow] =
        df.queryExecution.executedPlan.executeCollect()
      override def readSchema(): StructType = df.schema
      override def toBatch: org.apache.spark.sql.connector.read.Batch = this
      override def description(): String = tableName
      override def estimateStatistics()
          : org.apache.spark.sql.connector.read.Statistics =
        new org.apache.spark.sql.connector.read.Statistics {
          override def sizeInBytes(): java.util.OptionalLong =
            java.util.OptionalLong.of(math.max(1L, rows.map {
              case u: org.apache.spark.sql.catalyst.expressions.UnsafeRow =>
                u.getSizeInBytes.toLong
              case _ => 64L
            }.sum))
          override def numRows(): java.util.OptionalLong =
            java.util.OptionalLong.of(rows.length.toLong)
        }
      override def planInputPartitions()
          : Array[org.apache.spark.sql.connector.read.InputPartition] =
        Array(GraftMetaPartition(rows))
      override def createReaderFactory()
          : org.apache.spark.sql.connector.read.PartitionReaderFactory =
        new GraftMetaReaderFactory
    }
}

private[sources] case class GraftMetaPartition(
    rows: Array[org.apache.spark.sql.catalyst.InternalRow])
  extends org.apache.spark.sql.connector.read.InputPartition

private[sources] class GraftMetaReaderFactory
  extends org.apache.spark.sql.connector.read.PartitionReaderFactory {
  override def createReader(
      p: org.apache.spark.sql.connector.read.InputPartition)
      : org.apache.spark.sql.connector.read.PartitionReader[
        org.apache.spark.sql.catalyst.InternalRow] = {
    val it = p.asInstanceOf[GraftMetaPartition].rows.iterator
    new org.apache.spark.sql.connector.read.PartitionReader[
        org.apache.spark.sql.catalyst.InternalRow] {
      private var cur: org.apache.spark.sql.catalyst.InternalRow = _
      override def next(): Boolean =
        if (it.hasNext) { cur = it.next(); true } else false
      override def get(): org.apache.spark.sql.catalyst.InternalRow = cur
      override def close(): Unit = ()
    }
  }
}

/** A DSv2 write task's files and, per file, the statistics its writer
  * accumulated ([[FileStatsSpec]]). */
private[graft] case class GraftWriteMessage(files: Seq[String],
    stats: Seq[FileStats] = Nil)
  extends org.apache.spark.sql.connector.write.WriterCommitMessage

private[graft] object GraftWriteMessage {
  /** The sidecar lines of every file the messages' tasks wrote. */
  def lines(spec: FileStatsSpec,
      messages: Iterable[org.apache.spark.sql.connector.write.WriterCommitMessage])
      : SidecarLines =
    if (spec == null || spec.isEmpty) SidecarLines.empty
    else spec.render(messages.collect {
      case GraftWriteMessage(_, st) => st
    }.flatten.toSeq, identity)
}

/** Ships the prepared Hadoop job configuration to executor tasks
  * (Hadoop's Configuration is not Serializable; its own
  * write/readFields round-trips every entry). */
private[sources] class SerializableConf(
    @transient var value: org.apache.hadoop.conf.Configuration)
  extends Serializable {
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new org.apache.hadoop.conf.Configuration(false)
    value.readFields(in)
  }
}

private[sources] class GraftDataWriterFactory(
    owf: org.apache.spark.sql.execution.datasources.OutputWriterFactory,
    conf: SerializableConf, dir: String, schema: StructType,
    spec: FileStatsSpec)
  extends org.apache.spark.sql.connector.write.DataWriterFactory {

  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.connector.write.{DataWriter, WriterCommitMessage}

  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] =
    mkWriter(partitionId, taskId, epoch = None)

  /** Streaming-epoch variant: the epoch id lands in the file name so a
    * replayed epoch's files never collide with the original's. */
  def createEpochWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    mkWriter(partitionId, taskId, epoch = Some(epochId))

  private def mkWriter(partitionId: Int, taskId: Long,
      epoch: Option[Long]): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      import org.apache.hadoop.mapreduce.{JobID, TaskAttemptID, TaskID, TaskType}
      import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl

      private val ctx = new TaskAttemptContextImpl(conf.value,
        new TaskAttemptID(
          new TaskID(new JobID("graft", 0), TaskType.MAP, partitionId),
          (taskId & 0x7fffffff).toInt))
      private val stem = epoch.fold("part")(e => s"part-e$e")
      // lazily opened so empty partitions leave no empty files behind
      private var path: String = _
      private var out: org.apache.spark.sql.execution.datasources.OutputWriter = _
      // Group-based ReplaceData rows arrive one field WIDER than the
      // write schema: MergeRows prepends the __row_operation int, and
      // Spark applies its stored rowProjection only for connectors
      // that declared metadata attributes (DataAndMetadataWritingSpark-
      // Task) — with none declared, stripping the column is the
      // writer's job. All emitted rows are survivors to write; the op
      // value only selects metadata handling upstream.
      private val shifted = new OffsetRow(1)
      private val stats =
        if (spec.isEmpty) None else Some(spec.newAccumulator())

      override def write(row: InternalRow): Unit = {
        if (out == null) {
          path = f"$dir/$stem-$partitionId%05d-$taskId${owf.getFileExtension(ctx)}"
          out = owf.newInstance(path, schema, ctx)
        }
        val data =
          if (row.numFields == schema.length) row
          else {
            require(row.numFields == schema.length + 1,
              s"row has ${row.numFields} fields for a ${schema.length}-column write")
            shifted.target(row)
            shifted
          }
        out.write(data)
        stats.foreach(_.add(data))
      }

      override def commit(): WriterCommitMessage = {
        if (out != null) out.close()
        if (path == null) GraftWriteMessage(Nil, Nil)
        else GraftWriteMessage(Seq(path), stats.map(_.result(path)).toSeq)
      }

      override def abort(): Unit = {
        if (out != null) out.close()
        if (path != null)
          java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(path))
      }

      override def close(): Unit = ()
    }
}

private[sources] object GraftDataWriterFactory {

  /** The per-file statistics a DSv2 write of `schema` accumulates. */
  def statsSpec(spark: SparkSession, schema: StructType,
      cover: StatsCover): FileStatsSpec =
    new FileStatsSpec(schema, cover,
      spark.sessionState.conf.sessionLocalTimeZone)

  /** A factory writing parquet files of `schema` into `dir` through
    * Spark's own parquet `OutputWriter`, prepared on the driver. */
  def apply(spark: SparkSession, dir: String, schema: StructType,
      spec: FileStatsSpec): GraftDataWriterFactory = {
    val job = org.apache.hadoop.mapreduce.Job.getInstance(
      spark.sessionState.newHadoopConf())
    job.setOutputKeyClass(classOf[Void])
    job.setOutputValueClass(classOf[org.apache.spark.sql.catalyst.InternalRow])
    val owf = new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat()
      .prepareWrite(spark, job, Map.empty, schema)
    new GraftDataWriterFactory(owf,
      new SerializableConf(job.getConfiguration), dir, schema, spec)
  }
}

/** A reusable view of an [[org.apache.spark.sql.catalyst.InternalRow]]
  * with the first `offset` fields hidden — zero-allocation per row, the
  * ProjectingInternalRow idea without the codegen dependency. */
private[sources] final class OffsetRow(offset: Int)
  extends org.apache.spark.sql.catalyst.InternalRow {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.types.DataType

  private var row: InternalRow = _
  def target(r: InternalRow): Unit = row = r

  override def numFields: Int = row.numFields - offset
  override def setNullAt(i: Int): Unit = row.setNullAt(i + offset)
  override def update(i: Int, value: Any): Unit = row.update(i + offset, value)
  override def copy(): InternalRow = {
    val c = new OffsetRow(offset)
    c.target(row.copy())
    c
  }
  override def isNullAt(i: Int): Boolean = row.isNullAt(i + offset)
  override def getBoolean(i: Int): Boolean = row.getBoolean(i + offset)
  override def getByte(i: Int): Byte = row.getByte(i + offset)
  override def getShort(i: Int): Short = row.getShort(i + offset)
  override def getInt(i: Int): Int = row.getInt(i + offset)
  override def getLong(i: Int): Long = row.getLong(i + offset)
  override def getFloat(i: Int): Float = row.getFloat(i + offset)
  override def getDouble(i: Int): Double = row.getDouble(i + offset)
  override def getDecimal(i: Int, precision: Int, scale: Int) =
    row.getDecimal(i + offset, precision, scale)
  override def getUTF8String(i: Int) = row.getUTF8String(i + offset)
  override def getBinary(i: Int): Array[Byte] = row.getBinary(i + offset)
  override def getInterval(i: Int) = row.getInterval(i + offset)
  override def getStruct(i: Int, numFields: Int) =
    row.getStruct(i + offset, numFields)
  override def getArray(i: Int) = row.getArray(i + offset)
  override def getMap(i: Int) = row.getMap(i + offset)
  override def getVariant(i: Int) = row.getVariant(i + offset)
  override def getGeography(i: Int) = row.getGeography(i + offset)
  override def getGeometry(i: Int) = row.getGeometry(i + offset)
  override def get(i: Int, dataType: DataType): AnyRef =
    row.get(i + offset, dataType)
}

/** Append/overwrite through the format's OCC commit — the V1 write
  * fallback ([[V1Write]]): Spark hands over the full query DataFrame
  * and the commit is one manifest publish. `INSERT INTO` appends;
  * `INSERT OVERWRITE` arrives through [[SupportsOverwrite]] (truncate
  * ≡ overwrite-by-AlwaysTrue) and publishes a replacing version — old
  * versions stay time-travelable either way. */
private[sources] class GraftWriteBuilder(table: String,
    info: LogicalWriteInfo)
  extends WriteBuilder
  with org.apache.spark.sql.connector.write.SupportsOverwrite {

  private var replace = false

  override def truncate(): WriteBuilder = { replace = true; this }

  override def overwrite(filters: Array[Filter]): WriteBuilder = {
    require(filters.forall {
      case sources.AlwaysTrue() => true
      case _ => false
    }, "graft INSERT OVERWRITE supports full-table overwrite only " +
      "(partition-filter overwrite needs directory partitions, which " +
      "the format replaces with range/z-order clustering)")
    replace = true
    this
  }

  override def build(): org.apache.spark.sql.connector.write.Write =
    new V1Write {
      override def toInsertableRelation: InsertableRelation =
        (data: org.apache.spark.sql.DataFrame, _: Boolean) => {
          // declared clustering (`layout.range`/`layout.zorder`
          // TBLPROPERTIES) applies PER BATCH at insert time — tight
          // per-file intervals for the stats sidecar without the
          // writer knowing anything; compaction re-clusters globally
          val toRelease =
            scala.collection.mutable.Buffer.empty[org.apache.spark.sql.DataFrame]
          // self-maintaining skipping: the commit's write job computes
          // the `stats.columns`/`bloom.columns` sidecar lines of the
          // files it writes; appends carry the rest forward
          try Sources.commitVersion(
            Sources.clusterByLayout(data, table, toRelease), table,
            overwrite = replace)
          finally toRelease.foreach(_.unpersist(false))
          ()
        }

      // `df.writeStream.toTable("g.t")`: every micro-batch epoch is one
      // versioned append commit — the ingest end of the loop whose read
      // end is the graft-cdf source
      override def toStreaming
          : org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
        // epoch task writers emit flat files; mixing them into a
        // hive-partitioned or hash-bucketed table would corrupt the
        // directory layout both read paths key on
        require(Sources.partitionColumnsOf(table).isEmpty &&
            Sources.bucketSpecOf(table).isEmpty &&
            Sources.partTransformOf(table).isEmpty,
          "writeStream.toTable into a PARTITIONED/BUCKETED graft table " +
            "is not supported — ingest unpartitioned and " +
            "INSERT...SELECT, or use foreachBatch with commitVersion")
        new GraftStreamingWrite(SparkSession.active, table, info.schema(),
          info.queryId())
      }
    }
}

/** Exactly-once streaming sink over the versioned table: executor
  * tasks write parquet through the same machinery as the row-level
  * BatchWrite, and each epoch's driver commit is one OCC append
  * publish whose manifest records (query id, epoch) in the table's
  * `#txn` ledger — Delta's streaming-sink idempotence. The claim IS
  * the publish, so there is no state between them: a replayed epoch
  * (a restarted driver builds a fresh GraftStreamingWrite with the
  * same stable query id) finds its epoch in the ledger and deletes its
  * duplicate files, and a failed publish leaves no entry, so the retry
  * publishes once. Every epoch lands exactly once, under any
  * interleaving of crash and restart. */
private[graft] class GraftStreamingWrite(spark: SparkSession,
    table: String, schema: StructType, queryId: String)
  extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {

  import org.apache.spark.sql.connector.write.{PhysicalWriteInfo, WriterCommitMessage}
  import org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory

  // data files per write INSTANCE (names never collide across restarts)
  private val streamDir = java.nio.file.Paths.get(table, "data",
    s"stream-${java.util.UUID.randomUUID().toString.take(12)}")

  // the epoch's sidecar cover, fixed when its writer factory is made
  @volatile private var cover = StatsCover.empty
  @volatile private var spec: FileStatsSpec = _

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory = {
    java.nio.file.Files.createDirectories(streamDir)
    cover = Sources.sidecarCover(table, Sources.latestVersion(table))
    spec = GraftDataWriterFactory.statsSpec(spark, schema, cover)
    val factory =
      GraftDataWriterFactory(spark, streamDir.toString, schema, spec)
    (partitionId: Int, taskId: Long, epochId: Long) =>
      factory.createEpochWriter(partitionId, taskId, epochId)
  }

  private def deleteAll(files: Seq[String]): Unit =
    files.foreach(f =>
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(f)))

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val files = messages.collect {
      case GraftWriteMessage(fs, _) => fs
    }.flatten.toSeq.sorted
    if (Sources.appliedVersion(table, queryId) >= epochId) {
      deleteAll(files) // a replay of an epoch the ledger holds
      return
    }
    if (files.nonEmpty) {
      // a failed publish deletes the epoch's task files (the retry
      // re-writes its own output — leaving them would strand
      // unreferenced parquet under data/ forever, since vacuum only
      // sweeps manifest-referenced files) and records no entry, so the
      // retry is never mistaken for a duplicate
      // the epoch's sidecar lines ride the publish: staging them fails
      // it only before the link, so a published epoch's files are never
      // deleted here
      val v =
        try Sources.commitVersionFiles(table, files, Some(schema),
          txn = Some(queryId -> epochId),
          fresh = GraftWriteMessage.lines(spec, messages), cover = cover)
        catch { case e: Throwable => deleteAll(files); throw e }
      if (!Sources.filesOf(table, v).contains(files.head))
        deleteAll(files) // a racing run of this query published first
    }
  }

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit =
    deleteAll(messages.collect { case GraftWriteMessage(fs, _) => fs }
      .flatten.toSeq)
}
