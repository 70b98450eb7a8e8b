package graft

import graft.sources.Sources
import org.apache.spark.sql.functions._

class SourcesSpec extends SparkTestBase {

  private def tmp(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(name)
    d.toFile.deleteOnExit(); d.toString
  }

  test("csv round-trip preserves values under an explicit schema") {
    val src = Tables.part(spark, sf)
    val path = tmp("csv-rt")
    Sources.writeCsv(src, path)
    val back = Sources.readCsv(spark, path, src.schema)
    assert(back.count() === src.count())
    assert(back.exceptAll(src).count() === 0)
    assert(src.exceptAll(back).count() === 0)
  }

  test("json-lines round-trip preserves values under an explicit schema") {
    val src = Tables.customer(spark, sf)
    val path = tmp("json-rt")
    Sources.writeJsonLines(src, path)
    val back = Sources.readJsonLines(spark, path, src.schema)
    assert(back.count() === src.count())
    assert(back.exceptAll(src).count() === 0)
  }

  test("orc round-trip preserves values and pushes predicates to the scan") {
    val src = Tables.orders(spark, sf)
    val path = tmp("orc-rt")
    Sources.writeOrc(src, path)
    val back = Sources.readOrc(spark, path)
    assert(back.count() === src.count())
    assert(back.exceptAll(src).count() === 0)
    // predicate + projection reach the ORC scan node like parquet
    val plan = back.filter(col("o_orderkey") === 42).select("o_orderkey", "o_totalprice")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(o_orderkey), EqualTo(o_orderkey,42)]"),
      s"no pushdown in:\n$plan")
  }

  test("partitioned parquet write prunes partitions on read") {
    val src = Tables.orders(spark, sf)
      .withColumn("o_month", date_format(col("o_orderdate"), "yyyy-MM"))
    val path = tmp("pq-part")
    Sources.writeParquet(src, path, partitionBy = Seq("o_month"))
    val months = src.select("o_month").distinct().count()
    assert(new java.io.File(path).listFiles()
      .count(_.getName.startsWith("o_month=")) === months)
    val one = src.select("o_month").distinct().orderBy("o_month").head().getString(0)
    val pruned = spark.read.parquet(path).filter(col("o_month") === one)
    // partition filter must reach the scan (PartitionFilters, not data filter)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(o_month"), plan)
  }

  test("schema evolution: mergeSchema unions columns across file generations") {
    val path = tmp("pq-evolve")
    val v1 = Tables.part(spark, sf).select("p_partkey", "p_name")
    val v2 = Tables.part(spark, sf).select("p_partkey", "p_name", "p_retailprice")
    v1.write.parquet(s"$path/gen=1")
    v2.write.parquet(s"$path/gen=2")
    val merged = Sources.readParquetEvolving(spark, path)
    assert(merged.columns.toSet === Set("p_partkey", "p_name", "p_retailprice", "gen"))
    // old-generation rows surface the new column as null
    assert(merged.filter(col("gen") === 1 && col("p_retailprice").isNotNull).count() === 0)
    assert(merged.filter(col("gen") === 2 && col("p_retailprice").isNull).count() === 0)
    assert(merged.count() === 2 * v1.count())
  }

  test("schema evolution: rename mapping + int->long widening into the current schema") {
    import org.apache.spark.sql.types._
    import spark.implicits._
    val path = tmp("pq-evolve2")
    // gen1: old name `qty` stored as INT; gen2: renamed to `quantity`, LONG
    Seq((1, 10), (2, 20)).toDF("id", "qty")
      .write.parquet(s"$path/gen=1")
    Seq((3L, 30L), (4L, 40L)).toDF("id", "quantity")
      .write.parquet(s"$path/gen=2")
    val target = StructType(Seq(
      StructField("id", LongType), StructField("quantity", LongType)))
    val got = Sources.readParquetEvolved(spark,
      Seq(s"$path/gen=1", s"$path/gen=2"), target,
      renames = Map("qty" -> "quantity"))
    assert(got.schema.fields.map(f => f.name -> f.dataType).toSeq ===
      Seq("id" -> LongType, "quantity" -> LongType))
    val byId = got.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byId === Map(1L -> 10L, 2L -> 20L, 3L -> 30L, 4L -> 40L))
  }

  test("schema evolution: narrowing cast fails fast instead of truncating") {
    import org.apache.spark.sql.types._
    import spark.implicits._
    val path = tmp("pq-narrow")
    Seq((1L, 10L)).toDF("id", "v").write.parquet(s"$path/g1")
    val target = StructType(Seq(
      StructField("id", LongType), StructField("v", IntegerType)))
    val e = intercept[IllegalArgumentException] {
      Sources.readParquetEvolved(spark, Seq(s"$path/g1"), target)
    }
    assert(e.getMessage.contains("widen"))
  }

  test("compaction: many tiny files collapse to the target count, data intact") {
    val src = Tables.orders(spark, sf)
    val inPath = tmp("compact-in")
    // simulate a micro-batch-fragmented table: 40 files for a small table
    src.repartition(40).write.mode("overwrite").parquet(inPath)
    val outPath = tmp("compact-out")
    val rows = src.count()
    val (before, after) = Sources.compact(spark, inPath, outPath, rows / 2 + 1)
    assert(before === 40)
    assert(after <= 2)
    val back = spark.read.parquet(outPath)
    assert(back.count() === rows)
    assert(back.exceptAll(src).count() === 0)
  }

  test("range layout: files cover disjoint key intervals (data-skipping precondition)") {
    val path = tmp("range-layout")
    Sources.writeRangeLayout(Tables.orders(spark, sf), path, "o_orderkey", 8)
    val ranges = spark.read.parquet(path)
      .groupBy(input_file_name().as("f"))
      .agg(min("o_orderkey").as("lo"), max("o_orderkey").as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(ranges.length > 1)
    // each file's min exceeds the previous file's max -> any point/range
    // predicate on the key can skip every other file via footer stats
    ranges.sliding(2).foreach { case Array((_, hi1), (lo2, _)) =>
      assert(lo2 > hi1, s"overlapping file ranges: $hi1 vs $lo2")
    }
  }

  test("z-order layout: per-file extents shrink in BOTH dimensions") {
    val li = Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
    def extents(path: String): (Double, Double) = {
      val rows = spark.read.parquet(path)
        .groupBy(input_file_name())
        .agg((max("l_partkey") - min("l_partkey")).as("pr"),
          (max("l_suppkey") - min("l_suppkey")).as("sr"))
        .collect()
      (rows.map(_.getLong(1)).sum.toDouble / rows.length,
        rows.map(_.getLong(2)).sum.toDouble / rows.length)
    }
    val stats = li.agg(
      max("l_partkey") - min("l_partkey"),
      max("l_suppkey") - min("l_suppkey")).head()
    val (gp, gs) = (stats.getLong(0).toDouble, stats.getLong(1).toDouble)

    // baseline: single-column range layout stripes partkey but leaves
    // every file covering ~the whole suppkey range
    val rp = tmp("range-partkey")
    Sources.writeRangeLayout(li, rp, "l_partkey", 16)
    val (basePr, baseSr) = extents(rp)
    assert(basePr < gp * 0.2, s"range layout should stripe partkey: $basePr/$gp")
    assert(baseSr > gs * 0.8, s"and leave suppkey unpruned: $baseSr/$gs")

    // z-order: BOTH dims shrink -> min/max footer stats prune scans
    // filtered on either column
    val zp = tmp("zorder")
    Sources.writeZOrderLayout(li, zp, "l_partkey", "l_suppkey", 16)
    val (zPr, zSr) = extents(zp)
    assert(zPr < gp * 0.6, s"zorder partkey extent $zPr vs global $gp")
    assert(zSr < gs * 0.6, s"zorder suppkey extent $zSr vs global $gs")
    // and it still beats the baseline on the dimension range layout ignores
    assert(zSr < baseSr * 0.7, s"zorder suppkey $zSr !<< range-layout $baseSr")
  }

  test("incremental rollup merge equals full recompute after a delta batch") {
    val fact = graft.sources.Warehouse.build(spark, sf, tmp("wh-inc"))
    // split history vs delta on the month boundary-agnostic line number
    val history = fact.filter(col("l_linenumber") =!= 1)
    val delta = fact.filter(col("l_linenumber") === 1)
    val incremental = graft.sources.Warehouse.mergeRollup(
      graft.sources.Warehouse.salesRollup(history),
      graft.sources.Warehouse.salesRollup(delta))
    val full = graft.sources.Warehouse.salesRollup(fact)
    assert(incremental.exceptAll(full).count() === 0)
    assert(full.exceptAll(incremental).count() === 0)
  }

  test("incremental join-view delta equals full recompute, base sides unshuffled") {
    val orders = Tables.orders(spark, sf)
    val li = Tables.lineitem(spark, sf)
    // append-only split: 10% of each side arrives as the delta batch
    val (aOld, aDelta) = (orders.filter(pmod(col("o_orderkey"), lit(10)) =!= 0),
      orders.filter(pmod(col("o_orderkey"), lit(10)) === 0))
    val (bOld, bDelta) = (li.filter(pmod(col("l_linenumber"), lit(3)) =!= 0),
      li.filter(pmod(col("l_linenumber"), lit(3)) === 0))
    val cols = Seq("o_orderkey")
    val bOldK = bOld.withColumnRenamed("l_orderkey", "o_orderkey")
    val bDeltaK = bDelta.withColumnRenamed("l_orderkey", "o_orderkey")
    val viewOld = aOld.join(bOldK, cols)
    val delta = graft.sources.Warehouse.incrementalJoinDelta(
      aOld, aDelta, bOldK, bDeltaK, cols)
    val incremental = viewOld.unionByName(delta)
    val full = orders.join(li.withColumnRenamed("l_orderkey", "o_orderkey"), cols)
    assert(incremental.exceptAll(full).count() === 0)
    assert(full.exceptAll(incremental).count() === 0)
    // the delta sides plan as broadcast joins (no base-table shuffle)
    val plan = delta.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("csv ingest captures malformed rows instead of failing or dropping") {
    import org.apache.spark.sql.types._
    // at 100 TB some rows ARE malformed; PERMISSIVE + corrupt-record
    // column quarantines them for audit while the good rows flow
    val path = tmp("csv-bad")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$path/data.csv"),
      "id,qty\n1,10\n2,notanumber\n3,30\n".getBytes)
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("qty", LongType),
      StructField("_corrupt", StringType)))
    val df = spark.read.schema(schema)
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .csv(path)
      .cache()
    assert(df.count() === 3)
    assert(df.filter(col("_corrupt").isNotNull).count() === 1)
    assert(df.filter(col("_corrupt").isNull).agg(sum("qty")).head().getLong(0) === 40L)
  }

  test("observe() pipeline metrics ride the write without a second scan") {
    // production ETL needs row counts / null counts per batch without
    // re-scanning; df.observe attaches accumulator-backed metrics to
    // the existing pass
    val obs = new org.apache.spark.sql.Observation("etl-metrics")
    val src = Tables.orders(spark, sf)
    val out = tmp("observe-out")
    src.observe(obs,
        count(lit(1)).as("rows"),
        sum(when(col("o_orderdate").isNull, 1).otherwise(0)).as("null_dates"))
      .write.mode("overwrite").parquet(out)
    val metrics = obs.get
    assert(metrics("rows") === src.count())
    assert(metrics("null_dates") === 0L)
  }

  test("bucketed layout: fact-orders join plans with zero shuffle exchanges") {
    graft.sources.Warehouse.buildBucketed(spark, sf)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // disable broadcast so the join would otherwise need a full shuffle
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = graft.sources.Warehouse.bucketedJoin(spark)
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"), plan)
      assert(plan.contains("SortMergeJoin"), plan)
      // bucket pruning metadata present on both scans
      assert(plan.contains("Bucketed: true"), plan)
      // and the join still produces the right multiplicity
      assert(joined.count() === Tables.lineitem(spark, sf).count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("versioned table: append/overwrite commits, time travel, reader isolation, rollback") {
    import graft.sources.Sources
    val table = tmp("vtable") + "/nation_v"
    val nat = Tables.nation(spark, sf)
    // v1: overwrite with 10 rows; v2: append 15 more; reader pins v2
    val v1 = Sources.commitVersion(nat.filter(col("n_nationkey") < 10), table)
    val v2 = Sources.commitVersion(nat.filter(col("n_nationkey") >= 10), table)
    assert((v1, v2) === (1, 2))
    assert(Sources.readVersion(spark, table, 1).count() === 10)
    val pinnedV2 = Sources.readVersion(spark, table, 2)
    val fullCount = nat.count()
    assert(pinnedV2.count() === fullCount)
    // v3 overwrites with a 5-row set; the pinned v2 reader is unaffected
    val v3 = Sources.commitVersion(
      nat.filter(col("n_nationkey") < 5), table, overwrite = true)
    assert(v3 === 3)
    assert(Sources.readVersion(spark, table).count() === 5)
    assert(pinnedV2.count() === fullCount) // isolation: old files still live
    // rollback re-publishes v2's file list as v4 — no data movement
    val v4 = Sources.rollbackTo(table, 2)
    assert(v4 === 4)
    assert(Sources.readVersion(spark, table).count() === fullCount)
    assert(Sources.readVersion(spark, table, 4).except(pinnedV2).count() === 0)
  }

  test("compactVersion: fewer files in a new version; pinned old version untouched") {
    import graft.sources.Sources
    val table = tmp("vcompact") + "/t"
    val nat = Tables.nation(spark, sf)
    // fragment: 5 appends of 2 files each => 10 small files
    (0 until 5).foreach(i => Sources.commitVersion(
      nat.filter(pmod(col("n_nationkey"), lit(5)) === i).repartition(2), table))
    val v5 = Sources.latestVersion(table)
    val full = nat.count()
    assert(Sources.readVersion(spark, table, v5).count() === full)
    val (v6, before, after) = Sources.compactVersion(spark, table, 1000L)
    assert(v6 === v5 + 1)
    assert(after < before, s"$before -> $after files")
    assert(Sources.readVersion(spark, table).count() === full)
    assert(Sources.readVersion(spark, table, v5).count() === full) // time travel intact
  }

  test("vacuumVersions: expired-only files deleted, kept horizon fully readable") {
    import graft.sources.Sources
    val table = tmp("vvacuum") + "/t"
    val nat = Tables.nation(spark, sf)
    Sources.commitVersion(nat.filter(col("n_nationkey") < 10), table)     // v1
    Sources.commitVersion(nat.filter(col("n_nationkey") >= 10), table)    // v2 = v1 files + new
    Sources.compactVersion(spark, table, 1000L)                           // v3 (fresh files)
    val full = nat.count()
    val (manifestsGone, filesGone) = Sources.vacuumVersions(table, keepLast = 2)
    assert(manifestsGone === 1) // v1 manifest dropped
    // v1's files survive: v2 still references them (shared-file safety)
    assert(filesGone === 0)
    assert(Sources.readVersion(spark, table, 2).count() === full)
    assert(Sources.readVersion(spark, table, 3).count() === full)
    // now expire v2 too: its files are referenced by no kept manifest
    val (m2, f2) = Sources.vacuumVersions(table, keepLast = 1)
    assert(m2 === 1 && f2 > 0)
    assert(Sources.readVersion(spark, table).count() === full) // v3 intact
    intercept[Exception](Sources.readVersion(spark, table, 2).count())
  }

  test("manifest stats: range query skips files, pruned read == full filter") {
    val table = tmp("vstats") + "/orders_v"
    // range-clustered commit => disjoint per-file key intervals, so the
    // stats actually prune; 8 files over the o_orderkey domain
    val orders = Tables.orders(spark, sf)
    val v1 = Sources.commitVersion(
      orders.repartitionByRange(8, col("o_orderkey"))
        .sortWithinPartitions("o_orderkey"), table)
    Sources.commitStats(spark, table, v1, Seq("o_orderkey"))
    val (lo, hi) = (BigDecimal(100), BigDecimal(300))
    val (kept, skipped) = Sources.pruneFiles(table, v1, "o_orderkey", lo, hi)
    assert(skipped.nonEmpty, "clustered narrow range must skip files")
    assert(kept.nonEmpty)
    val pruned = Sources.readVersionPruned(spark, table, "o_orderkey", lo, hi)
    val full = Sources.readVersion(spark, table, v1)
      .filter(col("o_orderkey") >= 100 && col("o_orderkey") <= 300)
    assert(pruned.count() === full.count() && full.count() > 0)
    assert(pruned.exceptAll(full).isEmpty && full.exceptAll(pruned).isEmpty)
    // empty-range edge: every file skipped, empty result with the schema
    val none = Sources.readVersionPruned(spark, table, "o_orderkey",
      BigDecimal(-500), BigDecimal(-100))
    assert(none.count() === 0 && none.columns.sameElements(full.columns))
    // an append carries v1's stats forward and adds its own file's
    // lines, written by its write job
    val v2 = Sources.commitVersion(
      orders.filter(col("o_orderkey") < 50), table)
    assert(Sources.pruneFiles(table, v2, "o_orderkey", lo, hi)._2.nonEmpty,
      "the append's stats sidecar covers every file")
    // a version WITHOUT a stats sidecar (written before the table kept
    // stats): pruning must keep the un-statted files (a file with no
    // stats row can never be skipped), result stays exact
    java.nio.file.Files.delete(java.nio.file.Paths.get(table, s"v$v2.stats"))
    val (kept2, skipped2) = Sources.pruneFiles(table, v2, "o_orderkey", lo, hi)
    assert(skipped2.isEmpty, "no v2 stats sidecar -> nothing may be skipped")
    val pruned2 = Sources.readVersionPruned(spark, table, "o_orderkey", lo, hi)
    assert(pruned2.count() === full.count()) // appended rows all < 50
    // after stats on v2 the same range prunes again and stays exact
    Sources.commitStats(spark, table, v2, Seq("o_orderkey"))
    val (_, skipped3) = Sources.pruneFiles(table, v2, "o_orderkey", lo, hi)
    assert(skipped3.nonEmpty)
    assert(Sources.readVersionPruned(spark, table, "o_orderkey", lo, hi)
      .count() === full.count())
  }

  test("ManifestFileIndex: user filters prune manifest files inside the scan") {
    val table = tmp("vindex") + "/orders_idx"
    val orders = Tables.orders(spark, sf)
    val v1 = Sources.commitVersion(
      orders.repartitionByRange(8, col("o_orderkey"))
        .sortWithinPartitions("o_orderkey"), table)
    Sources.commitStats(spark, table, v1, Seq("o_orderkey"))

    def scansOf(df: org.apache.spark.sql.DataFrame) = {
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
      def go(p: SparkPlan): Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
        p match {
          case a: AdaptiveSparkPlanExec => go(a.executedPlan)
          case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
          case o => o.children.flatMap(go)
        }
      go(df.queryExecution.executedPlan)
    }

    val base = Sources.readVersion(spark, table)
    assert(base.count() === orders.count()) // unfiltered: everything

    // a plain user filter — no pruning API in sight — skips files
    val filtered = Sources.readVersion(spark, table)
      .filter(col("o_orderkey") >= 100 && col("o_orderkey") <= 300)
    val expected = orders
      .filter(col("o_orderkey") >= 100 && col("o_orderkey") <= 300)
    filtered.collect() // execute THIS plan so its scan metrics populate
    assert(filtered.count() === expected.count() && expected.count() > 0)
    assert(filtered.exceptAll(expected).isEmpty &&
      expected.exceptAll(filtered).isEmpty)
    val numFiles = scansOf(filtered).map(_.metrics("numFiles").value).sum
    assert(numFiles < 8, s"expected file skipping, scanned $numFiles of 8")
    assert(numFiles >= 1)

    // a filter on an UN-statted column must not prune (and stays correct)
    val byPrio = Sources.readVersion(spark, table)
      .filter(col("o_orderpriority") === "1-URGENT")
    byPrio.collect()
    assert(byPrio.count() ===
      orders.filter(col("o_orderpriority") === "1-URGENT").count())
    assert(scansOf(byPrio).map(_.metrics("numFiles").value).sum === 8)

    // version pinning: an overwrite commit does not disturb the pinned index
    Sources.commitVersion(orders.limit(10), table, overwrite = true)
    assert(Sources.readVersion(spark, table, v1).count()
      === orders.count())
  }

  test("property: stats pruning == full filter for random ranges (both read paths)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val table = tmp("vprop") + "/orders_p"
    val orders = Tables.orders(spark, sf)
    val v = Sources.commitVersion(
      orders.repartitionByRange(8, col("o_orderkey"))
        .sortWithinPartitions("o_orderkey"), table)
    Sources.commitStats(spark, table, v, Seq("o_orderkey"))
    val keyMax = orders.agg(max("o_orderkey")).head().getLong(0)
    val bound = Gen.chooseNum(-keyMax / 4, keyMax + keyMax / 4)
    val prop = Prop.forAll(bound, bound) { (a, b) =>
      val (lo, hi) = (math.min(a, b), math.max(a, b))
      val expect = Sources.readVersion(spark, table, v)
        .filter(col("o_orderkey") >= lo && col("o_orderkey") <= hi).count()
      val pruned = Sources.readVersionPruned(spark, table, "o_orderkey",
        BigDecimal(lo), BigDecimal(hi), v).count()
      val indexed = graft.sources.Sources
        .readVersion(spark, table, v)
        .filter(col("o_orderkey") >= lo && col("o_orderkey") <= hi).count()
      pruned == expect && indexed == expect
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }

  test("mergeVersion: copy-on-write MERGE rewrites only stats-affected files") {
    val table = tmp("vmerge") + "/orders_m"
    val orders = Tables.orders(spark, sf)
      .select("o_orderkey", "o_custkey", "o_orderpriority")
    val v1 = Sources.commitVersion(
      orders.repartitionByRange(8, col("o_orderkey"))
        .sortWithinPartitions("o_orderkey"), table)
    Sources.commitStats(spark, table, v1, Seq("o_orderkey"))
    val v1Files = Sources.readVersion(spark, table, v1)
      .select(input_file_name()).distinct().count()
    assert(v1Files === 8)
    val keyMax = orders.agg(max("o_orderkey")).head().getLong(0)
    // change-set: update 2 low keys, delete 1 low key, insert 1 new key
    // — all low keys land in the FIRST range file, so 7 files carry
    import spark.implicits._
    val someKeys = orders.orderBy("o_orderkey").limit(3)
      .collect().map(_.getLong(0))
    val changes = Seq(
      (someKeys(0), 99L, "MERGED", "upsert"),
      (someKeys(1), 98L, "MERGED", "upsert"),
      (someKeys(2), 0L, "", "delete"),
      (keyMax + 1000, 97L, "MERGED-NEW", "upsert"))
      .toDF("o_orderkey", "o_custkey", "o_orderpriority", "op")
    val (v2, rewritten, carried) =
      Sources.mergeVersion(spark, table, changes, "o_orderkey")
    assert(v2 === v1 + 1)
    assert(rewritten === 1 && carried === 7,
      s"expected 1 rewritten / 7 carried, got $rewritten / $carried")
    // result == full-recompute oracle
    val expected = orders
      .join(changes.select("o_orderkey"), Seq("o_orderkey"), "left_anti")
      .unionByName(changes.filter(col("op") === "upsert").drop("op"))
    val got = Sources.readVersion(spark, table, v2)
    assert(got.count() === expected.count())
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty)
    // merged row visible, deleted row gone, old version untouched
    assert(got.filter(col("o_orderpriority") === "MERGED").count() === 2)
    assert(got.filter(col("o_orderkey") === someKeys(2)).count() === 0)
    assert(Sources.readVersion(spark, table, v1).count() === orders.count())
    // stats carried forward for untouched files: v2 sidecar covers all
    // files and pruning on it stays exact
    val (kept, skipped) = Sources.pruneFiles(table, v2, "o_orderkey",
      BigDecimal(keyMax), BigDecimal(keyMax))
    assert(skipped.nonEmpty && kept.nonEmpty)
    assert(Sources.readVersionPruned(spark, table, "o_orderkey",
      BigDecimal(keyMax), BigDecimal(keyMax), v2).count() === 1)
  }

  test("history: one row per version from metadata only, sizes reconcile") {
    val table = tmp("vhist") + "/nation_h"
    val nat = Tables.nation(spark, sf)
    Sources.commitVersion(nat.filter(col("n_nationkey") < 10), table)
    val v2 = Sources.commitVersion(nat.filter(col("n_nationkey") >= 10), table)
    Sources.commitStats(spark, table, v2, Seq("n_nationkey"))
    val h = Sources.history(spark, table).collect()
    assert(h.map(_.getInt(0)).toSeq === Seq(1, 2))
    assert(h(0).getLong(1) < h(1).getLong(1)) // append grew the file set
    assert(h.forall(_.getLong(2) > 0))
    assert((h(0).getBoolean(3), h(1).getBoolean(3)) === ((false, true)))
  }

  test("readChanges: CDF replay reconstructs the target version by key") {
    val table = tmp("vcdf") + "/orders_c"
    val orders = Tables.orders(spark, sf)
      .select("o_orderkey", "o_custkey", "o_orderpriority")
    val v1 = Sources.commitVersion(
      orders.repartitionByRange(8, col("o_orderkey"))
        .sortWithinPartitions("o_orderkey"), table)
    Sources.commitStats(spark, table, v1, Seq("o_orderkey"))
    // append commit -> pure inserts
    import spark.implicits._
    val appended = Seq((9999991L, 1L, "APPENDED"))
      .toDF("o_orderkey", "o_custkey", "o_orderpriority")
    val v2 = Sources.commitVersion(appended, table)
    val c12 = Sources.readChanges(spark, table, v1, v2)
    assert(c12.filter(col("_change_type") === "delete").count() === 0)
    assert(c12.filter(col("_change_type") === "insert").count() === 1)
    // merge commit -> deletes from rewritten files + inserts
    Sources.commitStats(spark, table, v2, Seq("o_orderkey"))
    val lowKey = orders.agg(min("o_orderkey")).head().getLong(0)
    val changes = Seq((lowKey, 77L, "MERGED", "upsert"))
      .toDF("o_orderkey", "o_custkey", "o_orderpriority", "op")
    val (v3, _, _) = Sources.mergeVersion(spark, table, changes, "o_orderkey")
    val c23 = Sources.readChanges(spark, table, v2, v3)
    assert(c23.filter(col("_change_type") === "delete").count() > 0)
    // replay: v2 minus deleted keys' old rows plus inserts == v3 exactly
    val dels = c23.filter(col("_change_type") === "delete").drop("_change_type")
    val ins = c23.filter(col("_change_type") === "insert").drop("_change_type")
    val replayed = Sources.readVersion(spark, table, v2)
      .exceptAll(dels).unionByName(ins)
    val target = Sources.readVersion(spark, table, v3)
    assert(replayed.exceptAll(target).isEmpty && target.exceptAll(replayed).isEmpty)
    // feed is O(changed files): far fewer rows than the table
    assert(c23.count() < orders.count())
  }

  test("stats edge cases: full-precision doubles, all-NULL columns, null IN literals") {
    import spark.implicits._
    val table = tmp("vedge") + "/edge_t"
    // file with a double value that a 6-decimal-rounded stat would
    // misplace, plus an all-NULL stats column
    val df = Seq(
      (1L, 1.0000004, Option.empty[Long]),
      (2L, 2.5, Option.empty[Long]))
      .toDF("k", "x", "all_null")
    val v = Sources.commitVersion(df.repartition(1), table)
    Sources.commitStats(spark, table, v, Seq("k", "x", "all_null"))
    // boundary range above the would-be-rounded max must KEEP the file
    val (kept, _) = Sources.pruneFiles(table, v, "x",
      BigDecimal("1.0000002"), BigDecimal("1.0000006"))
    assert(kept.nonEmpty, "full-precision double stats must not round away rows")
    assert(Sources.readVersionPruned(spark, table, "x",
      BigDecimal("1.0000002"), BigDecimal("1.0000006")).count() === 1)
    // all-NULL column: no stats row, pruning on it keeps everything
    val (keptN, skippedN) = Sources.pruneFiles(table, v, "all_null",
      BigDecimal(0), BigDecimal(1))
    assert(skippedN.isEmpty && keptN.nonEmpty)
    // a null inside an IN-list must not break planning and must not prune
    val got = graft.sources.Sources.readVersion(spark, table, v)
      .filter(col("k").isin(1L, null))
    assert(got.count() === 1)
  }

  test("writeWithAudit: observed write-time metrics equal a direct recompute") {
    import graft.sources.Sources
    val out = tmp("audit") + "/orders"
    val df = Tables.orders(spark, sf)
    val (rows, nullKeys, total) =
      Sources.writeWithAudit(df, out, "o_custkey", "o_totalprice")
    assert(rows === df.count())
    assert(nullKeys === df.filter(col("o_custkey").isNull).count())
    val direct = df.agg(sum(col("o_totalprice").cast("decimal(18,4)")))
      .head().getDecimal(0)
    assert(total.compareTo(direct) === 0)
    assert(spark.read.parquet(out).count() === rows)
  }

  test("versioned table: contended concurrent appends all land, none lost") {
    val spk = spark
    import spk.implicits._
    val table = tmp("graft-occ").toString
    val writers = 6
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val versions = Await.result(
      Future.sequence((1 to writers).map { i =>
        Future(Sources.commitVersion(
          Seq((i.toLong, s"writer$i")).toDF("k", "w"), table))
      }), 120.seconds)
    // every commit claimed a distinct version and the history is linear
    assert(versions.sorted === (1 to writers))
    assert(Sources.latestVersion(table) === writers)
    // the latest version carries every writer's row exactly once — the
    // publish race loses no commit (the pre-fix move-based publish
    // could silently overwrite a racing manifest)
    val rows = Sources.readVersion(spk, table).collect()
    assert(rows.length === writers)
    assert(rows.map(_.getString(1)).sorted ===
      (1 to writers).map(i => s"writer$i").sorted)
    // intermediate versions are strict prefixes by construction: each
    // version v holds exactly v rows
    (1 to writers).foreach { v =>
      assert(Sources.readVersion(spk, table, v).count() === v.toLong)
    }
  }

  test("racing eq-merge vs concurrent appends: the entry survives " +
    "whatever the interleaving — no lost carry, no resurrection") {
    val spk = spark
    import spk.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val table = tmp("graft-eq-race").toString
    Sources.commitVersion(
      (1L to 30L).map(k => (k, s"base$k")).toDF("k", "w"), table)
    // writer A: an eq merge retiring k=5 and upserting k=6, retried on
    // a lost race (the caller contract); writers B: plain appends whose
    // carry pass is exactly where the pre-fix TOCTOU dropped entries
    val merger = Future {
      var done = false
      while (!done) {
        try {
          Sources.mergeVersionEq(spk, table,
            Seq((6L, "u6", "upsert"), (5L, "", "delete"))
              .toDF("k", "w", "op"), Seq("k"))
          done = true
        } catch { case _: java.util.ConcurrentModificationException => () }
      }
    }
    val appenders = (1 to 5).map { i =>
      Future(Sources.commitVersion(
        Seq((100L + i, s"app$i")).toDF("k", "w"), table))
    }
    Await.result(Future.sequence(appenders :+ merger.map(_ => 0)),
      120.seconds)
    // every append landed, the eq entry is pending at head, and the
    // retired row is invisible while the upsert shows exactly once
    val head = Sources.readVersion(spk, table)
      .select("k", "w").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(Sources.eqOf(table, Sources.latestVersion(table)).nonEmpty,
      "the eq entry must survive every interleaving of carries")
    assert(!head.exists(_._1 == 5L), "the eq-deleted row resurrected")
    assert(head.count(_._1 == 6L) === 1 && head.contains((6L, "u6")),
      "the upsert must show exactly once")
    (1 to 5).foreach(i => assert(head.contains((100L + i, s"app$i")),
      s"append $i was lost"))
    // purge absorbs; state identical
    val before = head.toSet
    Sources.purgeEq(spk, table)
    val after = Sources.readVersion(spk, table)
      .select("k", "w").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(after.toSet === before && Sources.eqOf(table,
      Sources.latestVersion(table)).isEmpty)
  }

  test("staged-sidecar protocol: a crashed committer's un-promoted DV/eq " +
    "state resolves through the manifest pointer, carries into the next " +
    "commit, and repairs to canonical; vacuum sweeps true strays only") {
    val spk = spark
    import spk.implicits._
    import scala.jdk.CollectionConverters._
    val table = tmp("graft-staged").toString
    Sources.commitVersion(
      (1L to 20L).map(k => (k, s"v$k")).toDF("k", "w"), table)
    // an eq merge + a DV delete land their sidecars atomically with the
    // claims
    Sources.mergeVersionEq(spk, table,
      Seq((3L, "u3", "upsert"), (4L, "", "delete")).toDF("k", "w", "op"),
      Seq("k"))
    Sources.deleteWhereDv(spk, table, col("k") === 7L)
    val v = Sources.latestVersion(table)
    val dvBefore = Sources.dvOf(table, v)
    val eqBefore = Sources.eqOf(table, v)
    assert(dvBefore.nonEmpty && eqBefore.nonEmpty)
    // SIMULATE THE CRASH WINDOW: un-promote the canonical sidecars back
    // to the staged names the manifest trailer records — exactly the
    // state a committer dying between claim and rename leaves behind
    val pointers = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(table, s"v$v.manifest")).asScala
      .filter(_.startsWith("#sidecar\t"))
      .map { l => val Array(_, ext, name) = l.split("\t", 3); ext -> name }
      .toMap
    assert(pointers.keySet === Set("dv", "eq"),
      s"both sidecars must ride the claim, got $pointers")
    pointers.foreach { case (ext, name) =>
      java.nio.file.Files.move(
        java.nio.file.Paths.get(table, s"v$v.$ext"),
        java.nio.file.Paths.get(table, name))
    }
    // a reader in the window resolves complete delete state via the
    // pointer (this is what a racing committer's carry pass reads —
    // the TOCTOU the protocol closes) and repairs the rename
    assert(Sources.eqOf(table, v).toSet === eqBefore.toSet,
      "eq state must resolve through the staged pointer")
    assert(Sources.dvOf(table, v).keySet === dvBefore.keySet)
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(table, s"v$v.eq")),
      "resolution must repair the staged file to its canonical name")
    // and the delete state is carried by the NEXT commit: nothing
    // resurrects, the new entry is not dropped
    Sources.commitVersion(Seq((99L, "new")).toDF("k", "w"), table)
    val head = Sources.readVersion(spk, table).orderBy("k")
      .select("k", "w").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(!head.exists(_._1 == 4L), "eq-deleted row must stay deleted")
    assert(!head.exists(_._1 == 7L), "DV-deleted row must stay deleted")
    assert(head.count(_._1 == 3L) === 1 && head.exists(_ == (3L, "u3")),
      "the eq upsert must survive the carry")
    // stranded-stage hygiene: an unreferenced old staged file sweeps
    // only once it is provably dead (past the grace window); a fresh
    // one survives
    val fresh = java.nio.file.Paths.get(table, ".staged-freshfresh.dv")
    java.nio.file.Files.write(fresh, "x".getBytes)
    val stale = java.nio.file.Paths.get(table, ".staged-stalestale.dv")
    java.nio.file.Files.write(stale, "x".getBytes)
    java.nio.file.Files.setLastModifiedTime(stale,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 60L * 60 * 1000))
    Sources.vacuumVersions(table, 2)
    assert(java.nio.file.Files.exists(fresh),
      "a possibly-in-flight stage must survive the sweep")
    assert(!java.nio.file.Files.exists(stale),
      "a provably dead stage must be swept")
    java.nio.file.Files.deleteIfExists(fresh)
  }

  test("backfill rewrites only its months: other partitions byte-identical, replay idempotent") {
    val out = tmp("wh-backfill")
    val fact = graft.sources.Warehouse.build(spark, sf, out)
    val months = fact.select("order_month").distinct()
      .collect().map(_.getString(0)).sorted
    assert(months.length > 3)
    val target = months.head
    def listing(): Map[String, (Long, Long)] =
      new java.io.File(s"$out/fact_sales").listFiles().toSeq
        .filter(_.isDirectory)
        .flatMap(d => d.listFiles().toSeq.filter(_.getName.endsWith(".parquet"))
          .map(f => f.getAbsolutePath -> (f.length(), f.lastModified())))
        .toMap
    val before = listing()
    // corrected restatement of ONE month: double its sales
    // the corrected frame READS the table being overwritten — it must
    // be materialized first (localCheckpoint) or the write's lazy scan
    // finds its own input deleted; see backfillMonths scaladoc
    val corrected = fact.filter(col("order_month") === target)
      .withColumn("sales", (col("sales") * 2).cast("decimal(18,4)"))
      .localCheckpoint()
    // snapshot pre-backfill facts NOW: `fact`'s file index is pinned at
    // creation, so any action on it after the overwrite reads deleted files
    val totalRows = fact.count()
    val sumBefore = fact.filter(col("order_month") === target)
      .agg(sum(col("sales"))).head().getDecimal(0)
    graft.sources.Warehouse.backfillMonths(spark, corrected, out)
    val after = listing()
    // untouched months: identical file paths, sizes, and mtimes
    val untouched = before.keys.filterNot(_.contains(s"order_month=$target"))
    untouched.foreach { f => assert(after(f) === before(f), f) }
    // the target month changed and carries the corrected values
    val re = spark.read.parquet(s"$out/fact_sales")
    assert(re.count() === totalRows)
    val sumAfter = re.filter(col("order_month") === target)
      .agg(sum(col("sales"))).head().getDecimal(0)
    assert(sumAfter.compareTo(sumBefore.add(sumBefore)) === 0)
    // replaying the same backfill converges to the same contents
    graft.sources.Warehouse.backfillMonths(spark,
      re.filter(col("order_month") === target).localCheckpoint(), out)
    val re2 = spark.read.parquet(s"$out/fact_sales")
    assert(re2.count() === totalRows)
    assert(re2.filter(col("order_month") === target)
      .agg(sum(col("sales"))).head().getDecimal(0).compareTo(sumAfter) === 0)
  }

  test("checked commit: violating batch rejected with counts, table untouched; clean batch lands") {
    val spk = spark
    import spk.implicits._
    val table = tmp("graft-checked")
    val checks = Seq(
      "key_not_null" -> col("k").isNotNull,
      "v_positive" -> (col("v") > 0.0))
    val good = Seq((1L, 2.5), (2L, 0.1)).toDF("k", "v")
    val r1 = Sources.commitVersionChecked(good, table, checks)
    assert(r1 === Right(1))
    assert(Sources.readVersion(spk, table).count() === 2)
    // a batch with one null key and one non-positive value is refused
    val bad = Seq((Some(3L), 1.0), (None, 2.0), (Some(4L), -1.0))
      .toDF("k", "v")
    val dataDirs = new java.io.File(s"$table/data").listFiles().length
    val r2 = Sources.commitVersionChecked(bad, table, checks)
    assert(r2 === Left(Map("key_not_null" -> 1L, "v_positive" -> 1L)))
    // no new version, contents untouched, rejected batch dir cleaned up
    assert(Sources.latestVersion(table) === 1)
    assert(Sources.readVersion(spk, table).count() === 2)
    assert(new java.io.File(s"$table/data").listFiles().length === dataDirs)
    // NULL check results count as violations (a null predicate is not a pass)
    val nullPred = Seq((5L, Double.NaN)).toDF("k", "v")
      .withColumn("v", when(col("k") === 99L, col("v")))  // v == null
    val r3 = Sources.commitVersionChecked(nullPred, table, checks)
    assert(r3.isLeft && r3.left.toOption.get("v_positive") === 1L)
    assert(Sources.latestVersion(table) === 1)
  }
}
