package graft

import graft.sources.Sources
import graft.streaming.MaterializedView
import org.apache.spark.sql.functions._

/** CDF-maintained materialized star view ([[MaterializedView]]):
  * 3-commit incremental maintenance ≡ full recompute, dim updates and
  * deletes track through the keyed merge, replays are absorbed. */
class MaterializedViewSpec extends SparkTestBase {

  private def tmp(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(name)
    d.toFile.deleteOnExit(); d.toString
  }

  test("3 fact commits + a dim update maintain the view incrementally " +
    "equal to the full recompute; merges stay file-granular") {
    val root = tmp("mv")
    val fact = s"$root/fact"
    val dim = s"$root/dim"
    val view = s"$root/view"
    val orders = Tables.orders(spark, sf).select(
      col("o_orderkey"), col("o_custkey").as("cust_key"),
      col("o_totalprice"))
    val customer = Tables.customer(spark, sf).select(
      col("c_custkey").as("cust_key"), col("c_name"),
      col("c_acctbal"))
    val n = orders.count()
    // base tables are graft tables; the fact is range-clustered so view
    // merges and CDF slices stay file-granular
    Sources.commitVersion(customer
      .repartitionByRange(4, col("cust_key"))
      .sortWithinPartitions("cust_key"), dim)
    Sources.commitStats(spark, dim, 1, Seq("cust_key"))
    Sources.commitVersion(orders.filter(pmod(col("o_orderkey"), lit(3)) === 0), fact)
    MaterializedView.init(spark, fact, dim, "cust_key", "o_orderkey", view)
    def drainFact(): Unit = {
      val q = MaterializedView.maintainFactQuery(spark, fact, dim,
        "cust_key", view, s"$root/ckpt-fact")
      q.awaitTermination()
    }
    def drainDim(): Unit = {
      val q = MaterializedView.maintainDimQuery(spark, dim,
        "cust_key", "o_orderkey", view, s"$root/ckpt-dim")
      q.awaitTermination()
    }
    def viewContent(): Set[(Long, Long, String)] =
      Sources.readVersion(spark, view)
        .select(col("o_orderkey"), col("cust_key"), col("c_name"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
        .toSet
    def recompute(): Set[(Long, Long, String)] =
      Sources.readVersion(spark, fact)
        .join(Sources.readVersion(spark, dim), "cust_key")
        .select(col("o_orderkey"), col("cust_key"), col("c_name"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
        .toSet
    drainFact()
    assert(viewContent() === recompute(), "commit 1")
    Sources.commitVersion(orders.filter(pmod(col("o_orderkey"), lit(3)) === 1), fact)
    drainFact()
    assert(viewContent() === recompute(), "commit 2")
    Sources.commitVersion(orders.filter(pmod(col("o_orderkey"), lit(3)) === 2), fact)
    drainFact()
    assert(viewContent() === recompute(), "commit 3")
    assert(viewContent().size === n)
    // replay with no new commits: no duplicate appends
    val vStable = Sources.latestVersion(view)
    drainFact()
    assert(Sources.latestVersion(view) === vStable,
      "an empty drain must not publish view versions")

    // DIM UPDATE + DELETE off the dim feed: rename one customer, drop
    // another — only their view rows change, through the keyed merge
    val someKeys = orders.select("cust_key").distinct()
      .orderBy("cust_key").limit(2).collect().map(_.getLong(0))
    val (kUp, kDel) = (someKeys(0), someKeys(1))
    val dimChanges = customer.filter(col("cust_key") === kUp)
      .withColumn("c_name", lit("RENAMED-CO"))
      .withColumn("op", lit("upsert"))
      .unionByName(customer.filter(col("cust_key") === kDel)
        .withColumn("op", lit("delete")))
    Sources.mergeVersion(spark, dim, dimChanges, "cust_key")
    val filesBefore = Sources.history(spark, view).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
      .apply(Sources.latestVersion(view))
    drainDim()
    assert(viewContent() === recompute(), "after dim update+delete")
    assert(viewContent().count(_._3 == "RENAMED-CO") ===
      orders.filter(col("cust_key") === kUp).count())
    assert(!viewContent().exists(_._2 == kDel),
      "a deleted dim key's fact rows must leave the view")
    // file granularity: the dim merge carried most of the view's files
    // (the view is fact-key clustered; two dim keys touch a subset)
    val hist = Sources.history(spark, view).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(hist(Sources.latestVersion(view)) >= 1)
    // and the fact table was never re-scanned by maintenance: each
    // fact drain appended EXACTLY its commit's delta (an O(fact)
    // recompute would republish the whole join each time) — view
    // versions 2/3/4 hold the cumulative slice counts
    val s1 = orders.filter(pmod(col("o_orderkey"), lit(3)) === 0).count()
    val s2 = orders.filter(pmod(col("o_orderkey"), lit(3)) === 1).count()
    assert(Sources.readVersion(spark, view, 2).count() === s1)
    assert(Sources.readVersion(spark, view, 3).count() === s1 + s2)
    assert(Sources.readVersion(spark, view, 4).count() === n)
  }

  test("incremental AGGREGATE view: inserts, a merge-on-read CDC merge, " +
    "and a DV-only delete all maintain the rollup equal to the full " +
    "recompute — the stream reads DV growth as deletes") {
    val root = tmp("mv-agg")
    val base = s"$root/base"
    val view = s"$root/aggview"
    val ckpt = s"$root/ckpt-agg"
    val orders = Tables.orders(spark, sf).select(
      col("o_orderkey"), col("o_orderpriority").as("prio"),
      col("o_totalprice"))
    val k = col("o_orderkey")
    Sources.commitVersion(orders.filter(pmod(k, lit(2)) === 0)
      .repartitionByRange(4, k).sortWithinPartitions("o_orderkey"), base)
    Sources.commitStats(spark, base, 1, Seq("o_orderkey"))
    MaterializedView.initAgg(spark, base, "prio", "o_totalprice", view)
    def drain(): Unit = {
      val q = MaterializedView.maintainAggQuery(spark, base, "prio",
        "o_totalprice", view, ckpt)
      q.awaitTermination()
    }
    def recompute() = Sources.readVersion(spark, base)
      .groupBy("prio")
      .agg(count(lit(1)).as("n_rows"),
        sum(col("o_totalprice").cast("decimal(28,4)"))
          .cast("decimal(28,4)").as("sum_val"))
    def viewNow() = Sources.readVersion(spark, view)
      .select("prio", "n_rows", "sum_val")
    def assertEq(tag: String): Unit = {
      val diff = viewNow().exceptAll(recompute()).count() +
        recompute().exceptAll(viewNow()).count()
      assert(diff === 0L, s"$tag: view != recompute")
    }
    // commit 1: plain inserts
    drain(); assertEq("after insert commit")
    // commit 2: a merge-on-read CDC batch — updates (DV-delete + insert
    // with a CHANGED group: rows move between groups), a delete, and a
    // brand-new group
    val upd = orders.filter(pmod(k, lit(2)) === 0 && pmod(k, lit(7)) === 0)
      .withColumn("prio", lit("X-MOVED"))
      .withColumn("op", lit("upsert"))
    val del = orders.filter(pmod(k, lit(2)) === 0 && pmod(k, lit(11)) === 0
        && pmod(k, lit(7)) =!= 0)
      .withColumn("op", lit("delete"))
    val ins = orders.filter(pmod(k, lit(2)) === 1).limit(20)
      .withColumn("prio", lit("Z-NEW"))
      .withColumn("op", lit("upsert"))
    val (_, _, usedDv) = Sources.mergeVersionDv(
      spark, base, upd.unionByName(del).unionByName(ins), "o_orderkey")
    assert(usedDv, "the CDC batch must land merge-on-read")
    drain(); assertEq("after merge-on-read commit")
    // commit 3: a DV-ONLY delete — identical manifest, sidecar-only:
    // the stream must still emit the marked rows as deletes
    val (_, marked, dvOnly) = Sources.deleteWhereDv(spark, base,
      col("prio") === lit("X-MOVED"))
    assert(dvOnly && marked > 0)
    drain(); assertEq("after DV-only delete commit")
    assert(viewNow().filter(col("prio") === "X-MOVED").count() === 0,
      "the zeroed group must LEAVE the view")
    // commit 4: an EQUALITY-delete merge (O(keys), zero base-file IO) —
    // the stream resolves the key-join delta into position deletes at
    // planning time; the view must keep tracking the recompute
    val eqUpd = Sources.readVersion(spark, base)
      .filter(pmod(k, lit(13)) === 0).limit(10)
      .withColumn("prio", lit("Y-EQMOVED"))
      .withColumn("op", lit("upsert"))
    val (_, nKeys) = Sources.mergeVersionEq(spark, base, eqUpd,
      Seq("o_orderkey"))
    assert(nKeys > 0, "the eq batch must retire keys")
    drain(); assertEq("after equality-delete merge commit")
    assert(viewNow().filter(col("prio") === "Y-EQMOVED").count() === 1,
      "the eq-moved group must ENTER the view")
    // commit 5: the purge rewrite — delete+insert pairs must net out
    Sources.purgeEq(spark, base)
    drain(); assertEq("after purge_eq commit")
    // replay absorption: a fresh run with the same checkpoint is a no-op
    val vPre = Sources.latestVersion(view)
    drain()
    assert(Sources.latestVersion(view) === vPre)
  }

  test("MIN/MAX aggregate view: deleting a group's min-carrier row " +
    "re-derives the minimum from the remaining rows (the touched-group " +
    "re-read), and every lifecycle step equals the full recompute") {
    val root = tmp("mv-mm")
    val base = s"$root/base"
    val view = s"$root/mmview"
    val ckpt = s"$root/ckpt-mm"
    val orders = Tables.orders(spark, sf).select(
      col("o_orderkey"), col("o_orderpriority").as("prio"),
      col("o_totalprice"))
    val k = col("o_orderkey")
    Sources.commitVersion(orders.filter(pmod(k, lit(2)) === 0)
      .repartitionByRange(4, k).sortWithinPartitions("o_orderkey"), base)
    Sources.commitStats(spark, base, 1, Seq("o_orderkey"))
    MaterializedView.initAggFull(spark, base, "prio", "o_totalprice", view)
    def drain(): Unit =
      MaterializedView.maintainAggFullQuery(spark, base, "prio",
        "o_totalprice", view, ckpt).awaitTermination()
    def recompute() = Sources.readVersion(spark, base)
      .groupBy("prio")
      .agg(count(lit(1)).as("n_rows"),
        sum(col("o_totalprice").cast("decimal(28,4)"))
          .cast("decimal(28,4)").as("sum_val"),
        min(col("o_totalprice").cast("decimal(28,4)")).as("min_val"),
        max(col("o_totalprice").cast("decimal(28,4)")).as("max_val"))
    def viewNow() = Sources.readVersion(spark, view)
      .select("prio", "n_rows", "sum_val", "min_val", "max_val")
    def assertEq(tag: String): Unit = {
      val diff = viewNow().exceptAll(recompute()).count() +
        recompute().exceptAll(viewNow()).count()
      assert(diff === 0L, s"$tag: view != recompute")
    }
    drain(); assertEq("after insert commit")
    // surgically delete EXACTLY the current min-carrier row of the
    // largest group: the additive half cannot see the new minimum —
    // only the touched-group re-read can
    val g = viewNow().orderBy(col("n_rows").desc).head.getString(0)
    val minRow = Sources.readVersion(spark, base)
      .filter(col("prio") === g)
      .orderBy(col("o_totalprice").asc, col("o_orderkey").asc)
      .head
    Sources.deleteWhereDv(spark, base,
      col("o_orderkey") === minRow.getLong(0))
    drain(); assertEq("after deleting the min carrier")
    val after = viewNow().filter(col("prio") === g).head
    assert(after.getDecimal(3).doubleValue() >=
      minRow.getDouble(2) - 1e-9,
      s"group $g's re-derived minimum went BELOW the deleted carrier " +
        s"(old ${minRow.getDouble(2)}, new ${after.getDecimal(3)})")
    // a group-move + new-group CDC batch keeps tracking
    val upd = orders.filter(pmod(k, lit(2)) === 0 && pmod(k, lit(7)) === 0)
      .withColumn("prio", lit("X-MOVED")).withColumn("op", lit("upsert"))
    val ins = orders.filter(pmod(k, lit(2)) === 1).limit(20)
      .withColumn("prio", lit("Z-NEW")).withColumn("op", lit("upsert"))
    Sources.mergeVersionDv(spark, base, upd.unionByName(ins), "o_orderkey")
    drain(); assertEq("after merge-on-read commit")
    // a zeroed group leaves min/max with it
    Sources.deleteWhereDv(spark, base, col("prio") === lit("X-MOVED"))
    drain(); assertEq("after DV-only delete commit")
    assert(viewNow().filter(col("prio") === "X-MOVED").count() === 0)
    // replay absorption
    val vPre = Sources.latestVersion(view)
    drain()
    assert(Sources.latestVersion(view) === vPre)
  }

  test("TOP-K view: evicting a group's #1 promotes #2 into the slot, " +
    "a shrinking group sheds stale slots, every step equals the " +
    "windowed recompute") {
    val root = tmp("mv-topk")
    val base = s"$root/base"
    val view = s"$root/topk"
    val ckpt = s"$root/ckpt-topk"
    val K = 3
    val orders = Tables.orders(spark, sf).select(
      col("o_orderkey"), col("o_orderpriority").as("prio"),
      col("o_totalprice"))
    val k = col("o_orderkey")
    Sources.commitVersion(orders.filter(pmod(k, lit(2)) === 0)
      .repartitionByRange(4, k).sortWithinPartitions("o_orderkey"), base)
    Sources.commitStats(spark, base, 1, Seq("o_orderkey"))
    MaterializedView.initTopK(
      spark, base, "prio", "o_totalprice", "o_orderkey", view)
    def drain(): Unit =
      MaterializedView.maintainTopKQuery(spark, base, "prio",
        "o_totalprice", "o_orderkey", K, view, ckpt).awaitTermination()
    def recompute() = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("prio")
        .orderBy(col("o_totalprice").cast("decimal(28,4)").desc,
          col("o_orderkey").asc)
      Sources.readVersion(spark, base)
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= K)
        .select(col("prio"), col("rank"), col("o_orderkey"),
          col("o_totalprice").cast("decimal(28,4)").as("val"))
    }
    def viewNow() = Sources.readVersion(spark, view)
      .select("prio", "rank", "o_orderkey", "val")
    def assertEq(tag: String): Unit = {
      val diff = viewNow().exceptAll(recompute()).count() +
        recompute().exceptAll(viewNow()).count()
      assert(diff === 0L, s"$tag: top-k view != windowed recompute")
    }
    drain(); assertEq("after insert commit")
    // evict the current #1 of the largest group: #2 must take rank 1
    val g = viewNow().groupBy("prio").count()
      .orderBy(col("count").desc).head.getString(0)
    val old = viewNow().filter(col("prio") === g).orderBy("rank")
      .collect().map(_.getLong(2)).toSeq
    Sources.deleteWhereDv(spark, base, col("o_orderkey") === old.head)
    drain(); assertEq("after evicting the #1 carrier")
    val now = viewNow().filter(col("prio") === g).orderBy("rank")
      .collect().map(_.getLong(2)).toSeq
    assert(now.head === old(1),
      s"group $g: old #2 (${old(1)}) must hold rank 1, got ${now.head}")
    // shrink a group below k: its stale slots must LEAVE the view
    Sources.updateWhere(spark, base, col("o_orderkey") % 1000 === 2,
      Map("prio" -> lit("SHRUNK")))
    drain(); assertEq("after carving out a tiny group")
    val shrunk = viewNow().filter(col("prio") === "SHRUNK").count()
    val liveShrunk = Sources.readVersion(spark, base)
      .filter(col("prio") === "SHRUNK").count()
    assert(shrunk === math.min(liveShrunk, K.toLong),
      "a group smaller than k must fill only its live ranks")
    // replay absorption
    val vPre = Sources.latestVersion(view)
    drain()
    assert(Sources.latestVersion(view) === vPre)
  }

  test("DISTINCT-COUNT view: refcounts decrement the count only when " +
    "the LAST occurrence leaves; every step equals COUNT(DISTINCT) " +
    "recompute — and the base is never re-read") {
    val root = tmp("mv-distinct")
    val base = s"$root/base"
    val view = s"$root/dview"
    val ckpt = s"$root/ckpt-d"
    import spark.implicits._
    // hand-built groups: g1 holds value 100 TWICE (keys 1, 2) + 200
    // (key 3); g2 holds 100 once (key 4)
    Sources.commitVersion(Seq(
      (1L, "g1", 100L), (2L, "g1", 100L), (3L, "g1", 200L),
      (4L, "g2", 100L)).toDF("id", "grp", "v"), base)
    MaterializedView.initDistinct(spark, base, "grp", "v", view)
    def drain(): Unit =
      MaterializedView.maintainDistinctQuery(spark, base, "grp", "v",
        view, ckpt).awaitTermination()
    def counts(): Map[String, Long] =
      MaterializedView.distinctCounts(spark, view, "grp")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def recompute(): Map[String, Long] =
      Sources.readVersion(spark, base).groupBy("grp")
        .agg(countDistinct(col("v")).as("n")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    drain()
    assert(counts() === Map("g1" -> 2L, "g2" -> 1L))
    // delete ONE of g1's two copies of 100: the count must NOT move
    Sources.deleteWhereDv(spark, base, col("id") === 1L)
    drain()
    assert(counts() === recompute() && counts()("g1") === 2L,
      "removing a non-last occurrence must not decrement")
    // delete the LAST copy: now it decrements
    Sources.deleteWhereDv(spark, base, col("id") === 2L)
    drain()
    assert(counts() === recompute() && counts()("g1") === 1L,
      "removing the last occurrence must decrement")
    // empty a whole group: its count row leaves the view
    Sources.deleteWhereDv(spark, base, col("id") === 4L)
    drain()
    assert(counts() === recompute() && !counts().contains("g2"))
    // re-insert a retired value: the count returns
    Sources.commitVersion(Seq((5L, "g1", 100L)).toDF("id", "grp", "v"),
      base)
    drain()
    assert(counts() === recompute() && counts()("g1") === 2L)
    // replay absorption
    val vPre = Sources.latestVersion(view)
    drain()
    assert(Sources.latestVersion(view) === vPre)
  }

  test("the four MV lifecycle gates release their orders pin") {
    val cache = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    spark.catalog.clearCache()
    Seq("q214_incremental_agg_mv", "q247_mv_minmax", "q249_mv_topk",
        "q250_mv_distinct").foreach { name =>
      SparkEntry.queries(name)(spark, sf)
      assert(cache.isEmpty, s"$name left a cached plan behind")
    }
  }
}
