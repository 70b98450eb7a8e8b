package graft

import graft.streaming.StreamingPipeline
import graft.sources.Warehouse
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

class StreamingSpec extends SparkTestBase {

  private def tmp(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(name)
    d.toFile.deleteOnExit(); d.toString
  }

  test("streaming windowed counts replay the events table completely") {
    val q = StreamingPipeline.windowedCounts(
        StreamingPipeline.readEvents(spark, sf))
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("win_counts")
      .option("checkpointLocation", tmp("ckpt-win"))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    // append mode only emits closed windows (watermark), so strictly
    // fewer events than the source can appear — but windows must exist
    val n = spark.table("win_counts").count()
    assert(n > 0)
  }

  test("foreachBatch keyed upsert: one row per user, latest ts wins") {
    val out = tmp("dim-upsert")
    val q = StreamingPipeline.dimUpsertQuery(spark, sf, out)
    q.awaitTermination(120000)
    val dim = spark.read.parquet(s"$out/dim_user")
    val users = Tables.events(spark, sf).select("user_id").distinct().count()
    assert(dim.count() === users)
    // latest-wins: the stored ts per user is the max event ts
    val expect = Tables.events(spark, sf)
      .groupBy("user_id").agg(max("ts").as("max_ts"))
    assert(dim.join(expect, "user_id")
      .filter(col("ts") =!= col("max_ts")).count() === 0)
  }

  test("streaming dedup: replayed source file emits each event_id once") {
    // landing dir with the SAME fixture staged twice = an at-least-once
    // source replaying its batch; maxFilesPerTrigger=1 => two micro-batches
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(s"$sf/events.parquet").schema
    val landing = java.nio.file.Files.createTempDirectory("events-replay")
    landing.toFile.deleteOnExit()
    for (n <- Seq("a", "b"))
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$sf/events.parquet"),
        landing.resolve(s"events-$n.parquet"))
    val src = Tables.tsToNanos(spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(landing.toString))
      .withColumn("tss", timestamp_seconds(expr("ts div 1000000000")))
    val q = StreamingPipeline.dedupStream(src)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("dedup_stream")
      .option("checkpointLocation", tmp("ckpt-dedup"))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val out = spark.table("dedup_stream")
    val distinctIds = Tables.events(spark, sf).select("event_id").distinct().count()
    assert(out.count() === distinctIds) // 2x input rows, 1x output
    assert(out.select("event_id").distinct().count() === distinctIds)
  }

  test("consume-once state: first event per key only (O13 parity)") {
    import spark.implicits._
    val events = Tables.events(spark, sf)
      .selectExpr("event_id", "ts", "user_id", "event_type", "value", "props")
      .as[StreamingPipeline.Event]
    // batch Dataset path exercises the same state logic deterministically
    val once = StreamingPipeline.consumeOncePerKey(events).collect()
    assert(once.map(_.user_id).distinct.length === once.length)
    val firstPerUser = Tables.events(spark, sf)
      .groupBy("user_id").agg(min("ts").as("ts"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    once.foreach(e => assert(e.ts === firstPerUser(e.user_id)))
  }

  test("streaming progress exposes state/watermark/throughput metrics") {
    // the observability contract an operator runs on: every micro-batch
    // publishes input rows, state-store size, and the watermark through
    // StreamingQueryProgress — asserted here on a real stateful query so
    // a regression in our pipeline shapes (e.g. state that never stops
    // growing) is measurable, not anecdotal
    val out = tmp("progress")
    val events = StreamingPipeline.readEvents(spark, sf)
      .withColumn("tss", timestamp_seconds(expr("ts div 1000000000")))
    val q = StreamingPipeline.windowedCounts(events)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("progress_probe")
      .option("checkpointLocation", s"$out/_ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val progs = q.recentProgress
    assert(progs.nonEmpty)
    assert(progs.map(_.numInputRows).sum ===
      Tables.events(spark, sf).count())
    val stateOps = progs.flatMap(p => Option(p.stateOperators).toSeq.flatten)
    assert(stateOps.nonEmpty, "stateful query must report state operators")
    assert(stateOps.exists(_.numRowsTotal > 0))
    // the final batch carries a non-epoch watermark derived from event time
    val wm = progs.flatMap(p => Option(p.eventTime.get("watermark"))).lastOption
    assert(wm.exists(_ > "1970"), s"watermark never advanced: $wm")
  }

  test("transformWithState consume-once (batch path) = flatMapGroupsWithState") {
    import spark.implicits._
    val events = Tables.events(spark, sf)
      .selectExpr("event_id", "ts", "user_id", "event_type", "value", "props")
      .as[StreamingPipeline.Event]
    val old = StreamingPipeline.consumeOncePerKey(events).collect()
      .map(e => e.user_id -> e.event_id).toMap
    val tws = StreamingPipeline.consumeOncePerKeyTws(events).collect()
      .map(e => e.user_id -> e.event_id).toMap
    assert(tws === old)
  }

  test("transformWithState streaming on RocksDB: first event per key") {
    import spark.implicits._
    val out = tmp("tws_once")
    // streaming transformWithState REQUIRES the RocksDB provider — which
    // is also the at-scale answer (off-heap state + changelog checkpoints)
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val src = StreamingPipeline.readEvents(spark, sf)
        .selectExpr("event_id", "ts", "user_id", "event_type", "value", "props")
        .as[StreamingPipeline.Event]
      val q = StreamingPipeline.consumeOncePerKeyTws(src)
        .writeStream
        .outputMode("append")
        .format("memory")
        .queryName("tws_once")
        .option("checkpointLocation", s"$out/_ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(180000)
      val got = spark.table("tws_once").collect()
      assert(got.map(_.getLong(2)).distinct.length === got.length)
      assert(got.length ===
        Tables.events(spark, sf).select("user_id").distinct().count())
    } finally prev match {
      case Some(p) => spark.conf.set(key, p)
      case None => spark.conf.unset(key)
    }
  }

  test("stream-static enrichment join (the HyperJoin, streaming form)") {
    val out = tmp("enrich")
    val master = Tables.customer(spark, sf)
    val q = StreamingPipeline.enrichmentJoin(
        StreamingPipeline.readEvents(spark, sf), master)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("enriched")
      .option("checkpointLocation", s"$out/_ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val got = spark.table("enriched")
    // inner-join semantics: exactly the events whose user exists in master
    val expected = Tables.events(spark, sf)
      .join(master, col("user_id") === col("c_custkey"), "left_semi").count()
    assert(got.count() === expected)
    assert(got.filter(col("enriched_value").isNull).count() === 0)
  }

  test("stream-stream join with watermarks emits same-user pairs") {
    val out = tmp("sspairs")
    val q = StreamingPipeline.streamStreamPairs(spark, sf)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("ss_pairs")
      .option("checkpointLocation", s"$out/_ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(180000)
    val got = spark.table("ss_pairs")
    // all emitted pairs satisfy the join window; completeness within the
    // watermark is checked against the batch formulation (q18)
    assert(got.filter(col("a_user") =!= col("b_user")).count() === 0)
    val batch = graft.operators.TemporalOps.q18.build(spark, sf).count()
    assert(got.count() <= batch)
    assert(got.count() > 0)
  }

  test("stateful sessionize (batch path) = declarative session_window minus open tails") {
    import spark.implicits._
    val events = Tables.events(spark, sf)
      .selectExpr("event_id", "ts", "user_id", "event_type", "value", "props")
      .as[StreamingPipeline.Event]
    // batch mode: every user's events arrive as ONE group, so the state
    // loop closes all sessions except the trailing open one per user —
    // which must match q21's declarative session_window sessions exactly,
    // minus each user's last session
    val got = StreamingPipeline.sessionize(events).collect()
      .map(s => (s.user_id, s.start_es, s.n_events)).toSet
    val q21 = graft.operators.TemporalOps.q21.build(spark, sf)
      .select(col("user_id"),
        unix_timestamp(col("session_start")).as("start_es"),
        col("n_events"),
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy("user_id")
          .orderBy(col("session_start").desc)).as("rev"))
    val expected = q21.filter(col("rev") > 1) // drop each user's last session
      .select("user_id", "start_es", "n_events")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === expected)
    assert(got.nonEmpty)
  }

  test("transformWithState sessionize with event-time timers matches fMGWS/q21") {
    import spark.implicits._
    val events = Tables.events(spark, sf)
      .selectExpr("event_id", "ts", "user_id", "event_type", "value", "props")
      .as[StreamingPipeline.Event]
    val got = StreamingPipeline.sessionizeTws(events, useTimers = false)
      .collect().map(s => (s.user_id, s.start_es, s.n_events)).toSet
    val q21 = graft.operators.TemporalOps.q21.build(spark, sf)
      .select(col("user_id"),
        unix_timestamp(col("session_start")).as("start_es"),
        col("n_events"),
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy("user_id")
          .orderBy(col("session_start").desc)).as("rev"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    val closedOnly = q21.filter(_._4 > 1).map(t => (t._1, t._2, t._3)).toSet
    // batch (no watermark -> no timers): exactly the fMGWS contract —
    // declarative session_window minus each user's trailing open session
    assert(got === closedOnly)
    assert(got.nonEmpty)
    val fm = StreamingPipeline.sessionize(events).collect()
      .map(s => (s.user_id, s.start_es, s.n_events)).toSet
    assert(fm === got)
  }

  test("transformWithState sessionize streaming: timers close watermark-passed tails") {
    import spark.implicits._
    val out = tmp("tws_sess")
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val src = StreamingPipeline.readEvents(spark, sf)
        .selectExpr("event_id", "ts", "user_id", "event_type", "value", "props")
        .as[StreamingPipeline.Event]
      val q = StreamingPipeline.sessionizeTws(src)
        .writeStream
        .outputMode("append")
        .format("memory")
        .queryName("tws_sess")
        .option("checkpointLocation", s"$out/_ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(180000)
      val got = spark.table("tws_sess").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
      val q21 = graft.operators.TemporalOps.q21.build(spark, sf)
        .select(col("user_id"),
          unix_timestamp(col("session_start")).as("start_es"),
          col("n_events"),
          row_number().over(org.apache.spark.sql.expressions.Window
            .partitionBy("user_id")
            .orderBy(col("session_start").desc)).as("rev"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
      val closedOnly = q21.filter(_._4 > 1).map(t => (t._1, t._2, t._3)).toSet
      val allSessions = q21.map(t => (t._1, t._2, t._3)).toSet
      // every emitted row is a true session; all gap-closed sessions are
      // present; timers may additionally close trailing sessions the
      // final watermark passed (end + gap < max event time - delay)
      assert(got.subsetOf(allSessions))
      assert(closedOnly.subsetOf(got))
      assert(got.size > closedOnly.size,
        "expected the event-time timers to close at least one trailing session")
    } finally prev match {
      case Some(p) => spark.conf.set(key, p)
      case None => spark.conf.unset(key)
    }
  }

  test("incremental near-dup dedup across micro-batches = single-shot batch rule") {
    val docs = Tables.documents(spark, sf)
    val store = tmp("dedup-store") + "/bands"
    val half = 250L
    val kept1 = StreamingPipeline.dedupBatchAgainstStore(
      docs.filter(col("doc_id") < half), store)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val kept2 = StreamingPipeline.dedupBatchAgainstStore(
      docs.filter(col("doc_id") >= half), store)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // batch rule on the full corpus: drop b iff some a < b shares a band sig
    val bands = graft.operators.DedupOps.bandsOf(docs)
    val droppedExpect = bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("b.doc_id")).distinct()
      .collect().map(_.getLong(0)).toSet
    val allIds = docs.select("doc_id").collect().map(_.getLong(0)).toSet
    assert((kept1 ++ kept2) === (allIds -- droppedExpect))
    assert(kept1.intersect(kept2).isEmpty)
    assert(droppedExpect.nonEmpty, "fixture should contain near-dups")
  }

  test("incremental dedup streaming query: file replay matches direct batch calls") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val docs = Tables.documents(spark, sf)
    val landing = tmp("dedup-landing")
    val half = 250L
    // two id-ordered landing files = two micro-batches (maxFilesPerTrigger=1)
    docs.filter(col("doc_id") < half).coalesce(1)
      .write.mode("overwrite").parquet(s"$landing/f0")
    docs.filter(col("doc_id") >= half).coalesce(1)
      .write.mode("overwrite").parquet(s"$landing/f1")
    val flat = tmp("dedup-flat")
    for ((f, i) <- Seq("f0", "f1").zipWithIndex) {
      val src = new java.io.File(s"$landing/$f").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = java.nio.file.Paths.get(s"$flat/part-$i.parquet")
      java.nio.file.Files.copy(src.toPath, dst)
      // FileStreamSource orders batches by modification time ONLY; equal
      // mtimes make the two-batch order nondeterministic — pin it
      dst.toFile.setLastModified(1700000000000L + i * 60000L)
    }
    val store = tmp("dedup-store2") + "/bands"
    val out = tmp("dedup-out")
    val q = StreamingPipeline.incrementalDedupQuery(
      spark, flat, docs.schema, store, out)
    q.awaitTermination(180000)
    val kept = spark.read.parquet(s"$out/kept")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val bands = graft.operators.DedupOps.bandsOf(docs)
    val droppedExpect = bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("b.doc_id")).distinct()
      .collect().map(_.getLong(0)).toSet
    val allIds = docs.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === (allIds -- droppedExpect))
  }

  test("incremental CMS store: two-batch merge == single-shot corpus sketch exactly") {
    import org.apache.spark.util.sketch.CountMinSketch
    val docs = Tables.documents(spark, sf)
    val store = tmp("cms-store") + "/sketches.bin"
    StreamingPipeline.mergeHeavyHitterSketches(docs.filter(col("doc_id") < 250), store)
    StreamingPipeline.mergeHeavyHitterSketches(docs.filter(col("doc_id") >= 250), store)
    val merged = StreamingPipeline.readSketchStore(store)
      .map { case (l, b) => l -> CountMinSketch.readFrom(b) }
    val single = graft.functions.TextOps.tokensWithPos(docs)
      .groupBy("lang")
      .agg(count_min_sketch(col("tok"), lit(0.001d), lit(0.99d), lit(42)).as("cms"))
      .collect()
      .map(r => r.getString(0) -> CountMinSketch.readFrom(r.getAs[Array[Byte]](1)))
      .toMap
    assert(merged.keySet === single.keySet)
    // linearity: every top-word estimate identical between the
    // incrementally-merged store and the one-shot corpus sketch
    val words = graft.functions.TextOps.q23.build(spark, sf)
      .select("lang", "word").collect()
      .map(r => (r.getString(0), r.getString(1)))
    words.foreach { case (lang, w) =>
      assert(merged(lang).estimateCount(w) === single(lang).estimateCount(w),
        s"$lang/$w")
    }
  }

  test("stateful streaming funnel (batch path) = q99 stage outcomes exactly") {
    import spark.implicits._
    val events = Tables.events(spark, sf)
      .selectExpr("event_id", "ts", "user_id", "event_type", "value", "props")
      .as[StreamingPipeline.Event]
    // batch mode: each user's full event-time-ordered history in one
    // group call == an in-order replay, so final stages must equal q99's
    val advances = StreamingPipeline.funnelStream(events).collect()
    // each (user, stage) advance at most once, stages contiguous from 1
    val byUser = advances.groupBy(_.user_id)
    byUser.values.foreach { as =>
      val stages = as.map(_.stage).sorted
      assert(stages.distinct.length === stages.length)
      assert(stages.zipWithIndex.forall { case (st, i) => st == i + 1 })
    }
    val gotStageCounts = byUser.view.mapValues(_.map(_.stage).max).values
      .groupBy(identity).map { case (k, v) => (k.toLong, v.size.toLong) }
    val q99 = graft.operators.TemporalOps.q99.build(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotStageCounts === q99)
  }

  test("stream-stream left outer join emits at least the inner matches") {
    val inner = StreamingPipeline.streamStreamPairs(spark, sf)
    val outer = StreamingPipeline.streamStreamPairsOuter(spark, sf)
    def runCount(df: org.apache.spark.sql.DataFrame, name: String): Long = {
      val q = df.writeStream
        .outputMode("append").format("memory").queryName(name)
        .option("checkpointLocation", tmp(s"ckpt-$name"))
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(180000)
      spark.table(name).count()
    }
    val nInner = runCount(inner, "ss_inner_cnt")
    val nOuter = runCount(outer, "ss_outer_cnt")
    assert(nOuter >= nInner)
    assert(nInner > 0)
  }

  test("warehouse build: dims + fact written, FK audit empty") {
    val out = tmp("warehouse")
    val fact = Warehouse.build(spark, sf, out)
    assert(fact.count() > 0)
    val audit = Warehouse.fkAudit(spark, out)
    assert(audit.values.forall(_ === 0L), s"FK audit failed: $audit")
    // fact is partitioned by order month
    assert(new java.io.File(s"$out/fact_sales").listFiles()
      .exists(_.getName.startsWith("order_month=")))

    // dynamic partition pruning: the quarter predicate sits on the tiny
    // month dim, yet the fact scan must receive a runtime pruning
    // subquery in its PartitionFilters — not read every month and
    // post-filter
    // derive the probe quarter from the fixture itself (orders span
    // 1995..2001 at every SF) — a hardcoded year would silently prune
    // everything and make the emptiness assertion vacuous
    val firstMonth = spark.read.parquet(s"$out/dim_order")
      .agg(min(date_format(col("o_orderdate"), "yyyy-MM")))
      .collect()(0).getString(0)
    val qNum = (firstMonth.substring(5).toInt + 2) / 3
    val quarter = s"${firstMonth.substring(0, 4)}Q$qNum"
    val qMonths = (1 to 3).map(i => f"${(qNum - 1) * 3 + i}%02d").toSet
    val q1 = Warehouse.factForQuarter(spark, out, quarter)
    val plan = q1.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"), plan)
    val gotMonths = q1.select("order_month").distinct()
      .collect().map(_.getString(0)).toSet
    assert(gotMonths.nonEmpty)
    assert(gotMonths.forall(m => qMonths.contains(m.substring(5))),
      gotMonths.toString)
  }

  test("stateful per-key throttle (batch path) = declarative rank<=k per user-hour") {
    import spark.implicits._
    val k = 1
    val events = Tables.events(spark, sf)
      .selectExpr("event_id", "ts", "user_id", "event_type", "value", "props")
      .as[StreamingPipeline.Event]
    val got = StreamingPipeline.throttlePerKey(events, k).collect()
      .map(_.event_id).toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"), expr("ts div 1000000000 div 3600"))
      .orderBy(col("ts"), col("event_id"))
    val expect = Tables.events(spark, sf)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(got === expect)

    // synthetic hot key: 10 same-hour events must collapse to exactly k
    val hour0 = 1700000000L * 1000000000L
    val hot = (1 to 10).map(i => StreamingPipeline.Event(
      9000L + i, hour0 + i * 60L * 1000000000L, 42L, "view", 1.0, "{}")).toDS()
    val admitted = StreamingPipeline.throttlePerKey(hot, 3).collect()
    assert(admitted.length === 3)
    assert(admitted.map(_.event_id).toSeq === Seq(9001L, 9002L, 9003L))
  }

  test("transformWithState state survives a query RESTART from the checkpoint") {
    import spark.implicits._
    // batch 1: run the consume-once stream to completion, stop the query;
    // batch 2: land the SAME events again and restart from the same
    // checkpoint — recovered RocksDB state must swallow every replayed
    // event (zero new rows), proving state outlives the query process
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val schema = spark.read.parquet(s"$sf/events.parquet").schema
      val landing = java.nio.file.Files.createTempDirectory("tws-restart")
      landing.toFile.deleteOnExit()
      val ckpt = tmp("tws-restart-ckpt")
      val outDir = tmp("tws-restart-out")
      def runOnce(): Long = {
        // file sink: the one that actually supports checkpoint recovery
        // (memory sink refuses to resume)
        val src = Tables.tsToNanos(
            spark.readStream.schema(schema).parquet(landing.toString))
          .selectExpr("event_id", "ts", "user_id", "event_type", "value", "props")
          .as[StreamingPipeline.Event]
        val q = StreamingPipeline.consumeOncePerKeyTws(src)
          .writeStream
          .outputMode("append")
          .format("parquet")
          .option("path", outDir)
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination(180000)
        spark.read.parquet(outDir).count()
      }
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$sf/events.parquet"),
        landing.resolve("events-a.parquet"))
      val afterFirst = runOnce()
      assert(afterFirst ===
        Tables.events(spark, sf).select("user_id").distinct().count())
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$sf/events.parquet"),
        landing.resolve("events-b.parquet"))
      val afterSecond = runOnce()
      assert(afterSecond === afterFirst,
        "recovered per-key state must swallow every replayed event")
    } finally prev match {
      case Some(p) => spark.conf.set(key, p)
      case None => spark.conf.unset(key)
    }
  }

  test("transformWithState MapState throttle = declarative rule; beats fMGWS on out-of-order") {
    import spark.implicits._
    val k = 1
    val events = Tables.events(spark, sf)
      .selectExpr("event_id", "ts", "user_id", "event_type", "value", "props")
      .as[StreamingPipeline.Event]
    val got = StreamingPipeline.throttlePerKeyTws(events, k).collect()
      .map(_.event_id).toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"), expr("ts div 1000000000 div 3600"))
      .orderBy(col("ts"), col("event_id"))
    val expect = Tables.events(spark, sf)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(got === expect)
    // per-hour budgets: with k=1, a second event in hour0 is dropped
    // even though an hour1 event sits between them in time — each hour's
    // MapState entry is consulted independently
    val hour0 = 1700000000L * 1000000000L
    val mixed = Seq(
      StreamingPipeline.Event(1L, hour0 + 60L * 1000000000L, 7L, "view", 1.0, "{}"),
      StreamingPipeline.Event(2L, hour0 + 3660L * 1000000000L, 7L, "view", 1.0, "{}"),
      StreamingPipeline.Event(3L, hour0 + 120L * 1000000000L, 7L, "view", 1.0, "{}"))
    val admitted = StreamingPipeline
      .throttlePerKeyTws(mixed.toDS(), 1).collect()
      .map(_.event_id).toSet
    assert(admitted === Set(1L, 2L)) // event 3's hour budget already spent
  }

  test("transformWithState ListState sequence match (batch path) = q112 verdicts") {
    import spark.implicits._
    val events = Tables.events(spark, sf)
      .selectExpr("event_id", "ts", "user_id", "event_type", "value", "props")
      .as[StreamingPipeline.Event]
    val got = StreamingPipeline.sequenceMatchStream(events).collect()
      .map(m => m.user_id -> m).toMap
    val q112 = graft.operators.TemporalOps.q112.build(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(2), r.getBoolean(3)))
    assert(got.keySet === q112.filter(_._3).map(_._1).toSet)
    // completion position agrees with a driver-side regex on the same seq
    val rx = java.util.regex.Pattern.compile("v[ce]*c[ce]*p")
    q112.filter(_._3).foreach { case (user, seq, _) =>
      val m = rx.matcher(seq); assert(m.find())
      assert(got(user).n_seen === m.end().toLong, s"user $user")
    }
  }

  test("versioned ingest sink: batches become versions; replayed batch is a no-op") {
    val root = tmp("vingest")
    val table = s"$root/t/events_v"
    val q = StreamingPipeline.versionedIngestQuery(spark, sf, s"$root/t")
    q.awaitTermination(120000)
    import graft.sources.Sources
    val v = Sources.latestVersion(table)
    assert(v >= 1)
    val total = Sources.readVersion(spark, table).count()
    assert(total === Tables.events(spark, sf).count())
    // re-deliver "batch 0" by hand (foreachBatch is at-least-once):
    // the query's ledger entry absorbs it — no new version, no new rows
    val queryId = StreamingPipeline.checkpointQueryId(s"$root/t/_checkpoint")
    assert(Sources.appliedVersion(table, queryId) >= 0L)
    val replay = Tables.events(spark, sf).limit(10)
    val did = StreamingPipeline.commitVersionedBatch(replay, 0L, table,
      queryId)
    assert(!did)
    assert(Sources.latestVersion(table) === v)
    assert(Sources.readVersion(spark, table).count() === total)
    // a NEW batch id commits and is visible
    assert(StreamingPipeline.commitVersionedBatch(replay, 99999L, table,
      queryId))
    assert(Sources.readVersion(spark, table).count() === total + 10)
    // a restart on a fresh checkpoint (a new query id whose batch ids
    // start at 0 again) keeps its own entry and skips nothing
    assert(StreamingPipeline.commitVersionedBatch(replay, 0L, table,
      "fresh-query"))
    assert(Sources.readVersion(spark, table).count() === total + 20)
    assert(Sources.appliedVersion(table, queryId) === 99999L)
  }

  test("streaming quarantine router: clean/DLQ split equals q191's batch classification") {
    val root = tmp("quarantine")
    val q = StreamingPipeline.quarantineQuery(spark, sf, s"$root/t")
    q.awaitTermination(120000)
    import graft.sources.Sources
    val clean = Sources.readVersion(spark, s"$root/t/clean")
    val dlq = Sources.readVersion(spark, s"$root/t/dlq")
    val expect = graft.operators.TemporalOps.q191.build(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(clean.count() === expect("valid"))
    assert(dlq.count() === expect("bad_type") + expect("malformed"))
    // DLQ rows keep their reason, and no event is lost or duplicated
    val dlqStatuses = dlq.select("status").distinct().collect()
      .map(_.getString(0)).toSet
    assert(dlqStatuses === Set("bad_type", "malformed"))
    // the DLQ retains the corrupt payload itself — replayable after the
    // producer is fixed, without re-reading the (possibly expired) source
    assert(dlq.columns.contains("raw"))
    assert(dlq.filter(col("raw").isNull).count() === 0)
    assert(clean.count() + dlq.count() === Tables.events(spark, sf).count())
    assert(clean.select("event_id").distinct().count() === clean.count())
  }

  test("graft-cdf streaming source: commit -> CDF -> incremental rollup " +
    "equals full recompute across four versions, checkpoint-resumed") {
    import graft.sources.Sources
    import org.apache.spark.sql.DataFrame
    import scala.collection.mutable

    val root = tmp("cdfstream")
    val t = s"$root/tbl"
    val ckpt = s"$root/ckpt"
    import spark.implicits._

    def batchDf(rows: Seq[(Long, String, Long)]): DataFrame =
      rows.toDF("k", "grp", "amount")

    // the incrementally-maintained rollup: grp -> (sum, count), updated
    // ONLY from CDF deltas (inserts add, deletes subtract)
    val state = mutable.Map.empty[String, (Long, Long)]
    var rowsSeen = 0L
    def runAvailableNow(): Unit = {
      val q = spark.readStream.format("graft-cdf").option("path", t).load()
        .writeStream
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val delta = batch
            .withColumn("sgn",
              when(col("_change_type") === "insert", 1L).otherwise(-1L))
            .groupBy("grp")
            .agg(sum(col("sgn") * col("amount")).as("ds"),
              sum(col("sgn")).as("dn"),
              count(lit(1)).as("raw"))
            .collect()
          delta.foreach { r =>
            val (s0, n0) = state.getOrElse(r.getString(0), (0L, 0L))
            state(r.getString(0)) = (s0 + r.getLong(1), n0 + r.getLong(2))
            rowsSeen += r.getLong(3)
          }
          ()
        }
        .start()
      q.awaitTermination()
    }
    def fullRecompute(): Map[String, (Long, Long)] =
      Sources.readVersion(spark, t).groupBy("grp")
        .agg(sum("amount").as("s"), count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    def liveState: Map[String, (Long, Long)] =
      state.filter { case (_, (_, n)) => n != 0 }.toMap

    // v1: initial load
    Sources.commitVersion(batchDf(
      (0L until 100L).map(i => (i, s"g${i % 4}", i))), t)
    runAvailableNow()
    assert(liveState === fullRecompute())
    val seenAfterV1 = rowsSeen

    // v2: append — the resumed stream must read ONLY the delta file(s)
    Sources.commitVersion(batchDf(
      (100L until 140L).map(i => (i, s"g${i % 4}", i * 10))), t)
    runAvailableNow()
    assert(liveState === fullRecompute())
    assert(rowsSeen - seenAfterV1 === 40L,
      s"expected the 40-row delta only, read ${rowsSeen - seenAfterV1}")

    // v3: copy-on-write MERGE (upserts + deletes) — rewritten files
    // surface as delete+insert, carried files contribute nothing
    Sources.commitStats(spark, t, Sources.latestVersion(t), Seq("k"))
    val changes = batchDf((0L until 10L).map(i => (i, s"g${i % 4}", 1000L + i)))
      .withColumn("op", lit("upsert"))
      .unionByName(batchDf((90L until 100L).map(i => (i, s"g${i % 4}", 0L)))
        .withColumn("op", lit("delete")))
    Sources.mergeVersion(spark, t, changes, "k")
    runAvailableNow()
    assert(liveState === fullRecompute())

    // v4: a whole group disappears via the COW delete
    Sources.deleteWhere(spark, t, col("grp") === "g3")
    runAvailableNow()
    assert(liveState === fullRecompute())
    assert(!liveState.contains("g3"))

    // a FRESH stream (no checkpoint) replays the whole history to the
    // same end state — the CDF is a complete, replayable log
    val state2 = mutable.Map.empty[String, (Long, Long)]
    val q2 = spark.readStream.format("graft-cdf").option("path", t).load()
      .writeStream.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$root/ckpt2")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.withColumn("sgn",
            when(col("_change_type") === "insert", 1L).otherwise(-1L))
          .groupBy("grp")
          .agg(sum(col("sgn") * col("amount")).as("ds"), sum(col("sgn")).as("dn"))
          .collect()
          .foreach { r =>
            val (s0, n0) = state2.getOrElse(r.getString(0), (0L, 0L))
            state2(r.getString(0)) = (s0 + r.getLong(1), n0 + r.getLong(2))
          }
        ()
      }.start()
    q2.awaitTermination()
    assert(state2.filter(_._2._2 != 0).toMap === fullRecompute())
  }

  test("writeStream.toTable: each epoch is one versioned append commit; " +
    "the cdf source tails it; a replayed epoch commits nothing") {
    import graft.sources.Sources
    val root = tmp("gsink")
    val wh = s"$root/wh"
    spark.conf.set("spark.sql.catalog.gsk", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gsk.warehouse", wh)
    spark.sql("CREATE TABLE gsk.ev (k BIGINT, v DOUBLE) " +
      "TBLPROPERTIES ('stats.columns' = 'k')")
    val dir = s"$wh/ev"

    // landing: three parquet files -> maxFilesPerTrigger=1 -> 3 epochs
    val landing = s"$root/landing"
    (0 until 3).foreach { i =>
      spark.range(i * 100L, i * 100L + 100L)
        .selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
        .coalesce(1).write.mode("append").parquet(landing)
    }
    val schema = spark.read.parquet(landing).schema
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(landing)
      .writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$root/ckpt")
      .toTable("gsk.ev")
    q.awaitTermination()

    // v1 CREATE + one version per epoch
    assert(Sources.latestVersion(dir) === 4,
      s"expected 4 versions, got ${Sources.latestVersion(dir)}")
    assert(spark.sql("SELECT COUNT(*) AS n FROM gsk.ev")
      .collect().head.getLong(0) === 300)
    // stats.columns harvested by the streaming commits too
    assert(Sources.statsOf(dir, 4).nonEmpty)
    // the change feed sees one insert batch per epoch version
    val cdf = spark.read.parquet({
      // drain via the streaming source into a collectable frame
      val out = s"$root/cdfout"
      val qc = spark.readStream.format("graft-cdf").option("path", dir).load()
        .writeStream.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", s"$root/cdfckpt")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.write.mode(org.apache.spark.sql.SaveMode.Append).parquet(out); ()
        }.start()
      qc.awaitTermination()
      out
    })
    assert(cdf.count() === 300)
    assert(cdf.filter(col("_change_type") =!= "insert").count() === 0)
    assert(cdf.select("_commit_version").distinct().count() === 3)

    // exactly-once under RESTART: the replayed epoch arrives through a
    // FRESH GraftStreamingWrite instance (that is what a driver restart
    // constructs) with the same stable streaming query id — the ledger
    // entry must be found across instances, or replays double-commit
    val sw = new graft.sources.GraftStreamingWrite(spark, dir, schema, "q-test")
    val dupe = s"$dir/data/replay-dupe.parquet"
    spark.range(0, 5).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
      .coalesce(1).write.parquet(s"$root/dupe")
    val part = new java.io.File(s"$root/dupe").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    def staged(name: String): String = {
      val f = dupe.replace("replay-dupe", name)
      java.nio.file.Files.copy(part.toPath, java.nio.file.Paths.get(f))
      f
    }
    java.nio.file.Files.copy(part.toPath, java.nio.file.Paths.get(dupe))
    val msg = Array[org.apache.spark.sql.connector.write.WriterCommitMessage](
      graft.sources.GraftWriteMessage(Seq(dupe)))
    val vBefore = Sources.latestVersion(dir)
    sw.commit(7L, msg) // first publish: commits a version + its entry
    assert(Sources.latestVersion(dir) === vBefore + 1)
    assert(Sources.appliedVersion(dir, "q-test") === 7L)
    val swRestarted =
      new graft.sources.GraftStreamingWrite(spark, dir, schema, "q-test")
    val dupe2 = staged("replay-dupe2")
    swRestarted.commit(7L, Array(graft.sources.GraftWriteMessage(Seq(dupe2))))
    assert(Sources.latestVersion(dir) === vBefore + 1,
      "replayed epoch published a duplicate version across restart")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dupe2)),
      "replayed epoch left its duplicate files behind")
    // an OLDER epoch replayed after the restart is covered by the same
    // entry (epochs publish in order)
    val dupeOld = staged("replay-dupe-old")
    swRestarted.commit(6L, Array(graft.sources.GraftWriteMessage(Seq(dupeOld))))
    assert(Sources.latestVersion(dir) === vBefore + 1)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dupeOld)))
    // a DIFFERENT query writing the same table keeps its own entry
    val swOther =
      new graft.sources.GraftStreamingWrite(spark, dir, schema, "q-other")
    val dupe3 = staged("replay-dupe3")
    swOther.commit(7L, Array(graft.sources.GraftWriteMessage(Seq(dupe3))))
    assert(Sources.latestVersion(dir) === vBefore + 2)
    assert(Sources.appliedVersion(dir, "q-other") === 7L)
    assert(Sources.appliedVersion(dir, "q-test") === 7L,
      "a second query's publish must carry the first query's entry")
  }

  test("table-to-table replication off the change feed: replica tracks " +
    "the source through append, merge, and delete, exactly once") {
    import graft.sources.Sources
    val root = tmp("replicate")
    val src = s"$root/src"
    val dst = s"$root/dst"
    val ckpt = s"$root/ckpt"
    import spark.implicits._
    def drain(): Unit = {
      val q = StreamingPipeline.replicateTable(spark, src, dst, "k", ckpt)
      q.awaitTermination()
    }
    def snapshot(t: String): Set[(Long, String, Long)] =
      Sources.readVersion(spark, t)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet

    // v1: initial load
    Sources.commitVersion(
      (0L until 200L).map(i => (i, s"g${i % 3}", i)).toDF("k", "grp", "amount"),
      src)
    drain()
    assert(snapshot(dst) === snapshot(src))

    // v2: append
    Sources.commitVersion(
      (200L until 260L).map(i => (i, "late", i * 2)).toDF("k", "grp", "amount"),
      src)
    drain()
    assert(snapshot(dst) === snapshot(src))

    // v3: file-granular merge on the SOURCE (updates + deletes)
    Sources.commitStats(spark, src, Sources.latestVersion(src), Seq("k"))
    val changes = (0L until 10L).map(i => (i, "upd", 999L))
      .toDF("k", "grp", "amount").withColumn("op", lit("upsert"))
      .unionByName((50L until 60L).map(i => (i, "x", 0L))
        .toDF("k", "grp", "amount").withColumn("op", lit("delete")))
    Sources.mergeVersion(spark, src, changes, "k")
    drain()
    assert(snapshot(dst) === snapshot(src))
    assert(snapshot(dst).exists(_._2 == "upd"))
    assert(!snapshot(dst).exists(t => t._1 >= 50 && t._1 < 60))

    // v4: delete-all then refill — the replica follows through the
    // empty state (exercises the empty-version merge base)
    Sources.deleteWhere(spark, src, col("k") >= 0)
    drain()
    assert(snapshot(dst) === snapshot(src) && snapshot(src).isEmpty)
    Sources.commitVersion(
      Seq((1000L, "re", 1L)).toDF("k", "grp", "amount"), src)
    drain()
    assert(snapshot(dst) === snapshot(src))
    // a re-run with nothing pending is a no-op (no phantom versions)
    val vDst = Sources.latestVersion(dst)
    drain()
    assert(Sources.latestVersion(dst) === vDst)

    // MULTI-VERSION batch: several source commits drain in ONE batch,
    // so the per-key last-change-wins ordering actually discriminates —
    // 1000 is upserted THEN deleted (must vanish), 2000 appears only in
    // the later commit (must land)
    Sources.commitStats(spark, src, Sources.latestVersion(src), Seq("k"))
    Sources.mergeVersion(spark, src,
      Seq((1000L, "re2", 2L)).toDF("k", "grp", "amount")
        .withColumn("op", lit("upsert")), "k")
    Sources.mergeVersion(spark, src,
      Seq((1000L, "re2", 2L)).toDF("k", "grp", "amount")
        .withColumn("op", lit("delete"))
        .unionByName(Seq((2000L, "fresh", 9L)).toDF("k", "grp", "amount")
          .withColumn("op", lit("upsert"))), "k")
    drain()
    assert(snapshot(dst) === snapshot(src))
    assert(!snapshot(dst).exists(_._1 == 1000L))
    assert(snapshot(dst).exists(_._1 == 2000L))
  }

  test("string-keyed merge and replication: the file probe degrades " +
    "safely to string stats / full rewrite") {
    import graft.sources.Sources
    val root = tmp("strkey")
    val src = s"$root/src"
    import spark.implicits._
    Sources.commitVersion(
      (0 until 100).map(i => (f"u_$i%03d", i.toLong)).toDF("uid", "amount")
        .repartitionByRange(4, col("uid")).sortWithinPartitions("uid"), src)
    Sources.commitStats(spark, src, 1, Seq("uid"))
    // string-keyed MERGE: driver probe against the S:-tagged sidecar
    val changes = Seq(("u_005", 999L)).toDF("uid", "amount")
      .withColumn("op", lit("upsert"))
      .unionByName(Seq(("u_050", 0L)).toDF("uid", "amount")
        .withColumn("op", lit("delete")))
    val (v2, rewrote, carried) = Sources.mergeVersion(spark, src, changes, "uid")
    assert(carried > 0, "string stats should carry untouched files")
    val after = Sources.readVersion(spark, src, v2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(after("u_005") === 999L)
    assert(!after.contains("u_050"))
    assert(after.size === 99)

    // and a string-keyed replica tracks it
    val dst = s"$root/dst"
    val q = StreamingPipeline.replicateTable(spark, src, dst, "uid", s"$root/ckpt")
    q.awaitTermination()
    val rep = Sources.readVersion(spark, dst)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rep === after)
  }

  test("cdf-driven incremental dedup: three commits through the change " +
    "feed equal the single-shot batch dedup rule") {
    import graft.sources.Sources
    val root = tmp("cdfdedup")
    val t = s"$root/docs"
    val store = s"$root/store"
    val out = s"$root/out"
    // the fixture documents, committed in three doc_id slices — each
    // commit is one producer write; the dedup pipeline only sees the
    // table's change feed
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text", "lang").cache()
    val n = docs.count()
    val cut1 = n / 3; val cut2 = 2 * n / 3
    def slice(lo: Long, hi: Long) =
      docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
    def drain(): Unit = {
      val q = StreamingPipeline.cdfDedupQuery(spark, t, store, out)
      q.awaitTermination()
    }
    Sources.commitVersion(slice(0, cut1), t); drain()
    Sources.commitVersion(slice(cut1, cut2), t); drain()
    Sources.commitVersion(slice(cut2, Long.MaxValue), t); drain()

    val kept = spark.read.parquet(s"$out/kept")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // single-shot batch rule over the whole corpus: drop b iff some
    // a < b shares a band signature
    val bands = graft.operators.DedupOps.bandsOf(docs)
    val droppedBatch = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("b.doc_id")).distinct()
      .collect().map(_.getLong(0)).toSet
    val allIds = docs.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === (allIds -- droppedBatch))
    assert(droppedBatch.nonEmpty, "fixture has near-dups; empty is vacuous")
  }
}
