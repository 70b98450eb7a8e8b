package graft

import graft.sources.Sources
import graft.streaming.StreamingPipeline
import org.apache.spark.sql.functions._

/** Fault-injection specs for the exactly-once machinery — the `#txn`
  * ledger every change-feed maintainer and streaming sink records in
  * the commit it guards, the batch-keyed dedup store, publish-failure
  * cleanup — exercising the CRASH and REPLAY scenarios that code
  * exists for. */
class ExactlyOnceFaultSpec extends SparkTestBase {

  private def tmp(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(name)
    d.toFile.deleteOnExit(); d.toString
  }

  private def keptIds(out: String): Set[Long] =
    spark.read.parquet(s"$out/kept").select("doc_id")
      .collect().map(_.getLong(0)).toSet

  test("a replayed foreachBatch (duplicate batchId) redoes the cdf dedup " +
    "byte-identically: kept set unchanged, store not double-counted") {
    val root = tmp("replay-dedup")
    val t = s"$root/docs"
    val store = s"$root/store"
    val out = s"$root/out"
    val docs = Tables.documents(spark, sf).select("doc_id", "text", "lang")
    val n = docs.count()
    val cut = n / 2
    def drain(): Unit = {
      val q = StreamingPipeline.cdfDedupQuery(spark, t, store, out)
      q.awaitTermination()
    }
    Sources.commitVersion(docs.filter(col("doc_id") < cut), t); drain()
    val v1 = Sources.latestVersion(t)
    Sources.commitVersion(docs.filter(col("doc_id") >= cut), t); drain()
    val v2 = Sources.latestVersion(t)
    val keptBefore = keptIds(out)
    def bidDirs(p: String): Set[String] =
      Option(new java.io.File(p).listFiles()).getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.startsWith("bid="))
        .map(_.getName).toSet
    val storeBids = bidDirs(store)
    val keptBids = bidDirs(s"$out/kept")
    assert(storeBids.size >= 2, s"expected batch-keyed store dirs, got $storeBids")
    // REPLAY INJECTION: re-run the foreachBatch body with the LAST
    // batch's id and its exact input (the second commit's change feed) —
    // foreachBatch is at-least-once, so this is a legal delivery. The
    // batch-keyed store must exclude the batch's own first-attempt
    // signatures (else every doc matches itself and the kept set
    // collapses), and the per-batch OVERWRITE must leave the kept
    // output byte-identical instead of double-appending.
    // slots are bid=<run>_<id>; replay the highest batch id of the run
    val run = StreamingPipeline.checkpointQueryId(s"$out/_ckpt")
    val lastBid = keptBids
      .map(_.stripPrefix(s"bid=${run}_").toLong).max
    val replayInput = Sources.readChanges(spark, t, v1, v2)
      .drop("_change_type")
    StreamingPipeline.dedupBatchAgainstStore(replayInput, store,
      Some(lastBid), Some(run))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$out/kept/bid=${run}_$lastBid")
    assert(keptIds(out) === keptBefore,
      "a duplicate-batchId replay must not change the kept set")
    assert(bidDirs(store) === storeBids,
      "a replay must overwrite its own store slice, not add one")
    // and a THIRD commit after the replay still dedups against the
    // full history (the replayed slice wasn't lost from the store)
    Sources.commitVersion(docs.filter(col("doc_id") < 3), t)
    drain()
    assert(keptIds(out) === keptBefore,
      "post-replay batches must still match historical signatures")
  }

  test("an epoch whose publish FAILS records no ledger entry and deletes " +
    "its files — the retry publishes once, its replay nothing") {
    val root = tmp("pubfail")
    val dir = s"$root/t"
    import org.apache.spark.sql.types._
    // declared schema k BOOLEAN vs epoch write schema k LONG (upcasts
    // in neither direction): the declared-carry evolution check throws
    // BEFORE any manifest publish — a deterministic publish failure
    Sources.createEmptyTable(dir, StructType(Seq(StructField("k", BooleanType))))
    val writeSchema = StructType(Seq(StructField("k", LongType)))
    val sw = new graft.sources.GraftStreamingWrite(spark, dir, writeSchema,
      "q-pubfail")
    spark.range(0, 5).selectExpr("id AS k").coalesce(1)
      .write.parquet(s"$root/payload")
    val part = new java.io.File(s"$root/payload").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    def stage(name: String): String = {
      val p = s"$dir/data/$name.parquet"
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(dir, "data"))
      java.nio.file.Files.copy(part.toPath, java.nio.file.Paths.get(p))
      p
    }
    def commit(name: String): String = {
      val f = stage(name)
      sw.commit(5L, Array(graft.sources.GraftWriteMessage(Seq(f))))
      f
    }
    val vBefore = Sources.latestVersion(dir)
    val f1 = s"$dir/data/epoch-fail-1.parquet"
    intercept[IllegalArgumentException] { commit("epoch-fail-1") }
    assert(Sources.latestVersion(dir) === vBefore, "nothing published")
    assert(Sources.appliedVersion(dir, "q-pubfail") === -1L,
      "a failed publish must leave no ledger entry")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(f1)),
      "a failed publish must delete the stranded task files")
    // the operator fixes the schema; the RETRY publishes exactly once
    Sources.alterSchema(dir, writeSchema)
    val vFixed = Sources.latestVersion(dir)
    val f2 = commit("epoch-retry")
    assert(Sources.latestVersion(dir) === vFixed + 1)
    assert(Sources.appliedVersion(dir, "q-pubfail") === 5L)
    assert(Sources.readVersion(spark, dir).count() === 5L)
    // a crash AFTER the publish replays the epoch: it publishes nothing
    // and deletes its duplicate files
    val f3 = commit("epoch-replay")
    assert(Sources.latestVersion(dir) === vFixed + 1)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(f2)))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(f3)))
    assert(Sources.readVersion(spark, dir).count() === 5L)
  }

  test("a hand-corrupted ledger entry fails LOUDLY instead of guessing " +
    "at re-publish") {
    val root = tmp("tornledger")
    val dir = s"$root/t"
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("k", LongType)))
    spark.range(0, 5).selectExpr("id AS k").coalesce(1)
      .write.parquet(s"$root/payload")
    val part = new java.io.File(s"$root/payload").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    Sources.commitVersion(spark.read.parquet(s"$root/payload"), dir)
    // external corruption: an entry whose position does not parse (the
    // atomic manifest publish cannot produce this — only outside
    // interference can); read as "never applied" it would re-publish
    val head = java.nio.file.Paths.get(dir,
      s"v${Sources.latestVersion(dir)}.manifest")
    java.nio.file.Files.write(head, "\n#txn\tq-torn\tgarbage".getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.APPEND)
    val sw = new graft.sources.GraftStreamingWrite(spark, dir, schema, "q-torn")
    val replay = s"$dir/data/torn-replay.parquet"
    java.nio.file.Files.copy(part.toPath, java.nio.file.Paths.get(replay))
    val vBefore = Sources.latestVersion(dir)
    val e = intercept[IllegalStateException] {
      sw.commit(2L, Array(graft.sources.GraftWriteMessage(Seq(replay))))
    }
    assert(e.getMessage.contains("malformed ledger line"))
    assert(Sources.latestVersion(dir) === vBefore,
      "corruption must block publication, not double it")
  }

  test("replication restarted with a FRESH checkpoint keeps tracking: " +
    "the ledger is keyed by the source table, so the full replay " +
    "filters down to the unapplied suffix") {
    import spark.implicits._
    val root = tmp("fresh-ckpt")
    val src = s"$root/src"
    val dst = s"$root/dst"
    Sources.commitVersion(
      (0L until 50L).map(i => (i, s"v$i")).toDF("k", "v")
        .repartitionByRange(2, col("k")).sortWithinPartitions("k"), src)
    Sources.commitStats(spark, src, 1, Seq("k"))
    val q1 = StreamingPipeline.replicateTable(spark, src, dst, "k",
      s"$root/ckptA")
    q1.awaitTermination()
    def content(t: String): Map[Long, String] =
      Sources.readVersion(spark, t).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(content(dst) === content(src))
    val dstV = Sources.latestVersion(dst)
    // source advances, then the operator LOSES the checkpoint (the
    // classic ops accident) and restarts replication from scratch
    Sources.mergeVersion(spark, src,
      Seq((7L, "v7-updated")).toDF("k", "v").withColumn("op", lit("upsert"))
        .unionByName(Seq((13L, "x")).toDF("k", "v")
          .withColumn("op", lit("delete"))), "k")
    val q2 = StreamingPipeline.replicateTable(spark, src, dst, "k",
      s"$root/ckptB")
    q2.awaitTermination()
    // run B replays the feed from version 0; the ledger drops version
    // 1, so only the merge applies — one replica commit, not two
    assert(content(dst) === content(src),
      "fresh-checkpoint restart must keep tracking the source")
    assert(content(dst)(7L) === "v7-updated")
    assert(!content(dst).contains(13L))
    assert(Sources.latestVersion(dst) === dstV + 1)
    val consumer = Sources.txnConsumer("replica", src)
    assert(Sources.appliedVersion(dst, consumer) ===
      Sources.latestVersion(src).toLong)
    import scala.jdk.CollectionConverters._
    val entries = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(
      dst, s"v${Sources.latestVersion(dst)}.manifest")).asScala
      .filter(_.startsWith("#txn"))
    assert(entries === Seq(s"#txn\t$consumer\t${Sources.latestVersion(src)}"),
      s"both runs share ONE ledger entry, got $entries")
  }

  test("checkpointQueryId: parses the checkpoint metadata id, FAILS " +
    "LOUDLY when absent or unparsable (a silent fallback would merge " +
    "every run into one ledger)") {
    val root = tmp("qid")
    intercept[IllegalStateException] {
      StreamingPipeline.checkpointQueryId(s"$root/nope")
    }
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root, "metadata"),
      """{"id":"abc-123"}""".getBytes("UTF-8"))
    assert(StreamingPipeline.checkpointQueryId(root) === "abc-123")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root, "metadata"),
      "not json at all".getBytes("UTF-8"))
    intercept[IllegalStateException] {
      StreamingPipeline.checkpointQueryId(root)
    }
  }

  test("incremental dedup restarted with a FRESH checkpoint over the " +
    "same persistent store keeps its history: run-keyed slots mean a " +
    "reset batch 0 cannot clobber (and self-exclude) run A's bands") {
    val root = tmp("fresh-dedup")
    val t = s"$root/docs"
    val store = s"$root/store"
    val docs = Tables.documents(spark, sf).select("doc_id", "text", "lang")
    val n = docs.count()
    val cut = n / 2
    // run A sees the first half of the corpus
    Sources.commitVersion(docs.filter(col("doc_id") < cut), t)
    StreamingPipeline.cdfDedupQuery(spark, t, store, s"$root/outA")
      .awaitTermination()
    val keptA = keptIds(s"$root/outA")
    // the checkpoint is LOST (outB has its own) but the store persists;
    // run B starts at batch 0 over the SAME store and must treat run
    // A's bid=<runA>_0 slot as history, not its own replay slice
    Sources.commitVersion(docs.filter(col("doc_id") >= cut), t)
    StreamingPipeline.cdfDedupQuery(spark, t, store, s"$root/outB")
      .awaitTermination()
    // oracle: the one-shot batch rule over the full corpus (drop b iff
    // some a < b shares a band signature). Run B re-reads the WHOLE
    // table (fresh checkpoint = CDF from version 0): the re-delivered
    // first-half docs must ALL drop (they match their own run-A bands
    // in the store — already emitted once, never emitted twice), and
    // the second half must dedup against run A's history. Were batch
    // 0's slot a bare bid=0, it would OVERWRITE run A's bid=0 bands
    // AND self-exclude them — run B would keep first-half docs again
    // (duplicate emission) and miss cross-half collisions.
    val bands = graft.operators.DedupOps.bandsOf(docs)
    val droppedExpect = bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("b.doc_id")).distinct()
      .collect().map(_.getLong(0)).toSet
    val batchKept = docs.select("doc_id")
      .collect().map(_.getLong(0)).toSet -- droppedExpect
    val keptB = keptIds(s"$root/outB")
    assert(keptA.intersect(keptB).isEmpty,
      "a survivor must never be emitted by both runs")
    assert((keptA ++ keptB) === batchKept,
      "across the checkpoint loss, emitted-once survivors must equal " +
        "the single-shot batch verdict")
    val slots = Option(new java.io.File(store).listFiles())
      .getOrElse(Array.empty).filter(_.isDirectory).map(_.getName).toSet
    assert(slots.count(_.startsWith("bid=")) === slots.size &&
      slots.map(_.stripPrefix("bid=").takeWhile(_ != '_')).size >= 2,
      s"expected slots from two distinct runs, got $slots")
  }

  test("TextIndex net maintainer KILLED between the eq merges and the " +
    "termstats commit: the intent-pinned range replays VERBATIM — no " +
    "loss, no double counting") {
    import graft.functions.TextIndex
    val root = tmp("netfault-text")
    val src = s"$root/docs"
    val idx = s"$root/idx"
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text", "lang").filter(col("doc_id") < 120)
    Sources.commitVersion(docs.filter(col("doc_id") < 60), src)
    graft.sources.RowIds.enableRowIds(src)
    TextIndex.init(idx)
    TextIndex.maintainNetQuery(spark, src, idx, s"$root/ckpt1")
      .awaitTermination()
    // the range that will crash mid-application: an insert + an
    // in-place update (so the additive delta has BOTH signs in flight)
    Sources.commitVersion(docs.filter(col("doc_id") >= 60), src)
    Sources.updateWhere(spark, src, col("doc_id") % 13 === 0,
      Map("text" -> concat(lit("zz faultword "), col("text"))))
    TextIndex.midApplyCrashHook =
      () => throw new RuntimeException("injected crash")
    try intercept[Exception] {
      TextIndex.maintainNetQuery(spark, src, idx, s"$root/ckpt2")
        .awaitTermination()
    } finally TextIndex.midApplyCrashHook = () => ()
    // the crash landed AFTER the postings/docstore merges, BEFORE the
    // termstats+ledger commit: the range must still be pinned
    import scala.jdk.CollectionConverters._
    val pins = java.nio.file.Files
      .list(java.nio.file.Paths.get(idx, "_netmaintain"))
      .iterator().asScala.map(_.getFileName.toString).toSeq
    assert(pins.exists(_.endsWith(".intent")),
      s"the crashed range must stay intent-pinned, got $pins")
    // recovery drain from a FRESH checkpoint (the worst case): the
    // pinned range replays verbatim, then the ledger advances
    TextIndex.maintainNetQuery(spark, src, idx, s"$root/ckpt3")
      .awaitTermination()
    val expectedDocs = docs.withColumn("text",
      when(col("doc_id") % 13 === 0,
        concat(lit("zz faultword "), col("text"))).otherwise(col("text")))
    val toks = expectedDocs.select(col("doc_id"),
        explode(split(lower(col("text")), "\\s+")).as("term"))
      .filter(col("term") =!= "")
    val posts = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    assert(Sources.readVersion(spark, s"$idx/postings")
      .collect().map(_.toSeq).toSet ===
      posts.collect().map(_.toSeq).toSet,
      "postings after recovery must equal the from-scratch tokenization")
    assert(Sources.readVersion(spark, s"$idx/termstats")
      .filter(col("term").isNotNull).select("term", "cnt")
      .collect().map(_.toSeq).toSet ===
      toks.groupBy("term").agg(count(lit(1)).as("cnt"))
        .collect().map(_.toSeq).toSet,
      "term totals after recovery must show no loss and no double count")
    // and the pin is swept once its range is applied through
    val pinsAfter = java.nio.file.Files
      .list(java.nio.file.Paths.get(idx, "_netmaintain"))
      .iterator().asScala.map(_.getFileName.toString).toSeq
    assert(!pinsAfter.exists(_.endsWith(".intent")),
      s"applied pins must be swept, got $pinsAfter")
  }

  test("AnnIndex net maintainer KILLED before its single atomic merge: " +
    "the range replays whole on the next drain") {
    import graft.functions.AnnIndex
    val root = tmp("netfault-ann")
    val src = s"$root/emb"
    val idx = s"$root/idx"
    val emb = Tables.embeddings(spark, sf)
      .select("vec_id", "embedding", "label")
    Sources.commitVersion(emb.filter(col("vec_id") < 100), src)
    graft.sources.RowIds.enableRowIds(src)
    AnnIndex.init(spark, src, idx)
    val model = AnnIndex.loadModel(idx)
    AnnIndex.maintainNetQuery(spark, src, idx, s"$root/ckpt1")
      .awaitTermination()
    Sources.commitVersion(
      emb.filter(col("vec_id") >= 100 && col("vec_id") < 160), src)
    Sources.updateWhere(spark, src, col("vec_id") === 3,
      Map("embedding" -> reverse(col("embedding"))))
    AnnIndex.preMergeCrashHook =
      () => throw new RuntimeException("injected crash")
    try intercept[Exception] {
      AnnIndex.maintainNetQuery(spark, src, idx, s"$root/ckpt2")
        .awaitTermination()
    } finally AnnIndex.preMergeCrashHook = () => ()
    // nothing landed: the index is exactly the pre-crash state
    def content(): Set[(Long, Long, Seq[Int])] =
      Sources.readVersion(spark, idx).filter(col("b_id") >= 0L)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          r.getSeq[Int](2))).toSet
    def rebuild(df: org.apache.spark.sql.DataFrame) =
      AnnIndex.encode(df, model).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Int](2))).toSet
    assert(content() === rebuild(emb.filter(col("vec_id") < 100)),
      "a pre-merge crash must leave the index untouched (atomicity)")
    // recovery drain: the whole range replays and lands once
    AnnIndex.maintainNetQuery(spark, src, idx, s"$root/ckpt3")
      .awaitTermination()
    assert(content() === rebuild(
      emb.filter(col("vec_id") < 160)
        .withColumn("embedding", when(col("vec_id") === 3,
          reverse(col("embedding"))).otherwise(col("embedding")))))
  }

  test("DedupStore maintainer KILLED before its single atomic merge: " +
    "the store is bitwise untouched and the range replays whole") {
    import graft.streaming.DedupStore
    val root = tmp("netfault-dedup")
    val src = s"$root/docs"
    val store = s"$root/store"
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    Sources.commitVersion(docs.filter(pmod(col("doc_id"), lit(3)) === 0), src)
    DedupStore.maintainQuery(spark, src, store, s"$root/ck1",
      DedupStore.headDigest).awaitTermination()
    def content(): Set[(String, String, Long)] =
      Sources.readVersion(spark, store).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val preCrash = content()
    val vPre = Sources.latestVersion(store)
    // a second range: new docs AND an erasure that takes survivors out
    Sources.commitVersion(docs.filter(pmod(col("doc_id"), lit(3)) === 1), src)
    Sources.deleteWhereDv(spark, src, pmod(col("doc_id"), lit(11)) === 0)
    DedupStore.preMergeCrashHook =
      () => throw new RuntimeException("injected crash")
    try intercept[Exception] {
      DedupStore.maintainQuery(spark, src, store, s"$root/ck2",
        DedupStore.headDigest).awaitTermination()
    } finally DedupStore.preMergeCrashHook = () => ()
    assert(content() === preCrash && Sources.latestVersion(store) === vPre,
      "a pre-merge crash must leave the store bitwise untouched")
    // recovery on a THIRD checkpoint: the crashed range replays whole
    DedupStore.maintainQuery(spark, src, store, s"$root/ck3",
      DedupStore.headDigest).awaitTermination()
    val live = Sources.readVersion(spark, src)
    val want = live
      .groupBy(DedupStore.headDigest(col("text")).as("digest"))
      .agg(min(col("doc_id")).as("survivor_id"))
      .orderBy("digest").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val got = DedupStore.survivors(spark, store).orderBy("digest")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got === want,
      "the recovery drain must land the crashed range exactly once")
  }

  // ---- restart after a crash, and on a fresh checkpoint -----------------
  //
  // One table-driven test per change-feed consumer: drain two source
  // commits, then restart the consumer in (a) the state a crash right
  // after its last commit leaves — the checkpoint's last `commits/N`
  // entry missing, so Spark delivers that batch again — and (b) on a
  // brand-new checkpoint, whose feed replays from version 0. Either
  // way the consumer table must equal a batch recompute from the
  // source head: an append or an additive merge applied twice would
  // double-count.

  /** A consumer under test. `init` makes the source's first commit
    * and the consumer table, `second` the source's second commit,
    * `drain` one AvailableNow run on a checkpoint; `got`/`want` render
    * the consumer table and the batch recompute as sorted rows. */
  private case class RestartCase(name: String,
      init: String => Unit, second: String => Unit,
      drain: (String, String) => Unit,
      got: String => Seq[String], want: String => Seq[String])

  private def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    val cols = df.columns.sorted
    df.select(cols.map(col).toIndexedSeq: _*).collect()
      .map(_.toSeq.mkString("|")).toSeq.sorted
  }

  /** (k, g, v, c): `g` groups, `v` a decimal measure, `c` a small
    * distinct-value domain. */
  private def baseRows(lo: Long, hi: Long): org.apache.spark.sql.DataFrame =
    spark.range(lo, hi).select(col("id").as("k"),
      pmod(col("id"), lit(7L)).as("g"),
      (col("id") * lit(1.25)).cast("decimal(10,2)").as("v"),
      pmod(col("id"), lit(5L)).as("c"))

  private def restartCases: Seq[RestartCase] = {
    import graft.streaming.MaterializedView
    import graft.functions.AnnIndex
    def src(r: String) = s"$r/src"
    def out(r: String) = s"$r/out"
    def dim(r: String) = s"$r/dim"
    def view(r: String) = sortedRows(Sources.readVersion(spark, out(r)))
    def appendBase(lo: Long, hi: Long)(r: String): Unit = {
      Sources.commitVersion(baseRows(lo, hi), src(r)); ()
    }
    def commitDim(r: String): Unit = {
      Sources.commitVersion(spark.range(0, 7).select(col("id").as("g"),
        concat(lit("G"), col("id")).as("gname")), dim(r)); ()
    }
    def star(r: String) = sortedRows(Sources.readVersion(spark, src(r))
      .join(Sources.readVersion(spark, dim(r)), "g"))
    val dec = col("v").cast("decimal(28,4)")
    def aggWant(r: String, full: Boolean) = {
      val base = Sources.readVersion(spark, src(r)).groupBy("g")
      sortedRows(if (!full) base.agg(count(lit(1)).as("n_rows"),
          sum(dec).cast("decimal(28,4)").as("sum_val"))
        else base.agg(count(lit(1)).as("n_rows"),
          sum(dec).cast("decimal(28,4)").as("sum_val"),
          min(dec).as("min_val"), max(dec).as("max_val")))
    }
    def replica(kind: String,
        start: (String, String) => org.apache.spark.sql.streaming.StreamingQuery,
        lineage: Boolean = false) =
      RestartCase(kind,
        r => {
          appendBase(0, 40)(r)
          if (lineage) graft.sources.RowIds.enableRowIds(src(r))
        },
        appendBase(40, 80),
        (r, ck) => start(r, ck).awaitTermination(),
        r => sortedRows(Sources.readVersion(spark, out(r))
          .select("k", "g", "v", "c")),
        r => sortedRows(Sources.readVersion(spark, src(r))
          .select("k", "g", "v", "c")))
    def docs = Tables.documents(spark, sf).select("doc_id", "text", "lang")
      .filter(col("doc_id") < 150)
    def emb = Tables.embeddings(spark, sf)
      .select("vec_id", "embedding", "label")
    Seq(
      RestartCase("mv.fact",
        r => {
          appendBase(0, 40)(r); commitDim(r)
          MaterializedView.init(spark, src(r), dim(r), "g", "k", out(r))
        },
        appendBase(40, 80),
        (r, ck) => MaterializedView.maintainFactQuery(spark, src(r), dim(r),
          "g", out(r), ck).awaitTermination(),
        view, star),
      RestartCase("mv.dim",
        r => {
          appendBase(0, 40)(r); commitDim(r)
          MaterializedView.init(spark, src(r), dim(r), "g", "k", out(r))
          MaterializedView.maintainFactQuery(spark, src(r), dim(r), "g",
            out(r), s"$r/ck-fact").awaitTermination()
        },
        r => {
          Sources.mergeVersion(spark, dim(r), spark.range(1, 3).select(
            col("id").as("g"), concat(lit("X"), col("id")).as("gname"),
            lit("upsert").as("op")), "g"); ()
        },
        (r, ck) => MaterializedView.maintainDimQuery(spark, dim(r), "g", "k",
          out(r), ck).awaitTermination(),
        view, star),
      RestartCase("mv.agg",
        r => {
          appendBase(0, 40)(r)
          MaterializedView.initAgg(spark, src(r), "g", "v", out(r))
        },
        appendBase(40, 80),
        (r, ck) => MaterializedView.maintainAggQuery(spark, src(r), "g", "v",
          out(r), ck).awaitTermination(),
        view, r => aggWant(r, full = false)),
      RestartCase("mv.topk",
        r => {
          appendBase(0, 40)(r)
          MaterializedView.initTopK(spark, src(r), "g", "v", "k", out(r))
        },
        appendBase(40, 80),
        (r, ck) => MaterializedView.maintainTopKQuery(spark, src(r), "g", "v",
          "k", 3, out(r), ck).awaitTermination(),
        view,
        r => sortedRows(Sources.readVersion(spark, src(r))
          .withColumn("rank", row_number().over(
            org.apache.spark.sql.expressions.Window.partitionBy("g")
              .orderBy(dec.desc, col("k").asc)).cast("long"))
          .filter(col("rank") <= 3)
          .select(concat(col("g").cast("string"), lit(":"), col("rank"))
            .as("gk"), col("g"), col("rank"), col("k"), dec.as("val")))),
      RestartCase("mv.distinct",
        r => {
          appendBase(0, 40)(r)
          MaterializedView.initDistinct(spark, src(r), "g", "c", out(r))
        },
        appendBase(40, 80),
        (r, ck) => MaterializedView.maintainDistinctQuery(spark, src(r), "g",
          "c", out(r), ck).awaitTermination(),
        view,
        r => {
          val b = Sources.readVersion(spark, src(r))
          sortedRows(b.groupBy("g", "c").agg(count(lit(1)).as("n"))
            .select(concat(lit("p:"), col("g").cast("string"), lit(":"),
              col("c").cast("string")).as("gk"), col("g"), col("n"))
            .unionByName(b.groupBy("g").agg(countDistinct("c").as("n"))
              .select(concat(lit("g:"), col("g").cast("string")).as("gk"),
                col("g"), col("n"))))
        }),
      RestartCase("mv.aggfull",
        r => {
          appendBase(0, 40)(r)
          MaterializedView.initAggFull(spark, src(r), "g", "v", out(r))
        },
        appendBase(40, 80),
        (r, ck) => MaterializedView.maintainAggFullQuery(spark, src(r), "g",
          "v", out(r), ck).awaitTermination(),
        view, r => aggWant(r, full = true)),
      replica("replicateTable", (r, ck) =>
        StreamingPipeline.replicateTable(spark, src(r), out(r), "k", ck)),
      replica("replicateTableEq", (r, ck) =>
        StreamingPipeline.replicateTableEq(spark, src(r), out(r), "k", ck)),
      replica("replicateTableNet", (r, ck) =>
        StreamingPipeline.replicateTableNet(spark, src(r), out(r), "k", ck),
        lineage = true),
      RestartCase("AnnIndex.maintainQuery",
        r => {
          Sources.commitVersion(emb.filter(col("vec_id") < 60), src(r))
          AnnIndex.init(spark, src(r), out(r))
        },
        r => {
          Sources.commitVersion(
            emb.filter(col("vec_id") >= 60 && col("vec_id") < 100), src(r))
          ()
        },
        (r, ck) => AnnIndex.maintainQuery(spark, src(r), out(r), ck)
          .awaitTermination(),
        view,
        r => sortedRows(AnnIndex.encode(Sources.readVersion(spark, src(r)),
          AnnIndex.loadModel(out(r))))),
      RestartCase("dsir",
        r => {
          Sources.commitVersion(docs.filter(pmod(col("doc_id"), lit(3)) === 0),
            src(r)); ()
        },
        r => {
          Sources.commitVersion(docs.filter(pmod(col("doc_id"), lit(3)) =!= 0),
            src(r)); ()
        },
        (r, ck) => StreamingPipeline.maintainDsirQuery(spark, src(r), out(r),
          ck).awaitTermination(),
        view,
        r => sortedRows(graft.functions.TextOps
          .dsirBuckets(Sources.readVersion(spark, src(r)),
            passthrough = Seq("lang"))
          .groupBy("b").agg(count(lit(1)).as("n_r"),
            count_if(col("lang") === "en").as("n_t"))))
    )
  }

  /** Drain both source commits as two batches; returns the checkpoint. */
  private def drainTwice(c: RestartCase, root: String): String = {
    val ck = s"$root/ck"
    c.init(root)
    c.drain(root, ck)
    c.second(root)
    c.drain(root, ck)
    assert(c.got(root) === c.want(root), s"${c.name}: before the restart")
    ck
  }

  restartCases.foreach { c =>
    test(s"${c.name}: a crash after the last commit re-delivers that " +
      "batch, and the restart applies it once") {
      val root = tmp(s"restart-a-${c.name}")
      val ck = drainTwice(c, root)
      // the crash state: the consumer table holds the batch, the
      // checkpoint does not record it as done
      val commits = java.nio.file.Paths.get(ck, "commits")
      val last = commits.toFile.list().filter(_.forall(_.isDigit))
        .map(_.toLong).max
      assert(last >= 1L, s"${c.name}: expected two drained batches")
      java.nio.file.Files.delete(commits.resolve(last.toString))
      java.nio.file.Files.deleteIfExists(commits.resolve(s".$last.crc"))
      c.drain(root, ck)
      assert(c.got(root) === c.want(root),
        s"${c.name}: the re-delivered batch was applied twice")
    }
    test(s"${c.name}: a restart on a fresh checkpoint replays the whole " +
      "feed and applies none of it twice") {
      val root = tmp(s"restart-b-${c.name}")
      drainTwice(c, root)
      c.drain(root, s"$root/ck-fresh")
      assert(c.got(root) === c.want(root),
        s"${c.name}: the fresh checkpoint's replay was applied twice")
    }
  }
}
