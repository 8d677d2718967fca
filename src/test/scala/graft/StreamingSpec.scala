package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.EventStreams
import graft.streaming.EventStreams.Event

/** MemoryStream-driven tests for the streaming pipelines — watermark
  * behavior, late-data drop, stateful dedup, and custom sessionization
  * (none of which the DuckDB oracle can check). Batch/stream parity of
  * the window transforms is covered by the oracle via the batch twins
  * in graft.operators.Streams. */
class StreamingSpec extends AnyFunSuite with SparkSpec {

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 ${minute / 60}%02d:${minute % 60}%02d:00")

  private def ev(id: Long, minute: Int, user: Long = 1L,
                 typ: String = "click", v: Double = 1.0): Event =
    Event(id, ts(minute), user, typ, v)

  /** Run a streaming transform over a MemoryStream in batches,
    * returning the memory-sink table after all batches. */
  private def runBatches(name: String, mode: String,
                         transform: DataFrame => DataFrame,
                         batches: Seq[Seq[Event]]): DataFrame = {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.classic.SQLContext =
      spark.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    val in = MemoryStream[Event]
    val q = transform(in.toDF())
      .writeStream.format("memory").queryName(name).outputMode(mode).start()
    try {
      batches.foreach { b => in.addData(b); q.processAllAvailable() }
    } finally q.stop()
    spark.table(name)
  }

  test("tumbling window append emits only watermark-closed windows and drops late data") {
    val out = runBatches("tumb", "append", EventStreams.tumblingCounts, Seq(
      Seq(ev(1, 5), ev(2, 10), ev(3, 70)),     // windows [0h,1h), [1h,2h)
      Seq(ev(4, 200)),                          // watermark -> 200-60=140min: closes [0h,1h) and [1h,2h)
      Seq(ev(5, 7)),                            // 129min late: dropped entirely
      Seq(ev(6, 400))                           // close remaining
    ))
    val rows = out.select(col("wstart"), col("n"))
      .collect().map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
    assert(rows(ts(0)) == 2L, "first-hour window should hold 2 events (late one dropped)")
    assert(rows(ts(60)) == 1L)
    assert(rows(ts(180)) == 1L)
  }

  test("ranking the watermark-closed aggregate yields the streaming top-k") {
    // the stream_topk shape: append-mode windowed counts, rank applied
    // downstream on the committed rows (here: the sink table)
    val agg = runBatches("topk_agg", "append", EventStreams.tumblingCounts, Seq(
      Seq(ev(1, 5, typ = "a"), ev(2, 10, typ = "a"), ev(3, 20, typ = "b"),
        ev(4, 30, typ = "c"), ev(5, 40, typ = "c"), ev(6, 45, typ = "c"),
        ev(7, 50, typ = "d")),
      Seq(ev(8, 400)) // advance watermark, close [0h,1h)
    ))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("wstart"))
      .orderBy(col("n").desc, col("event_type"))
    val top = agg.withColumn("rk", row_number().over(w))
      .where(col("rk") <= 3 && col("wstart") === ts(0))
      .select(col("event_type"), col("rk")).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toSet
    assert(top == Set("c" -> 1, "a" -> 2, "b" -> 3), s"got $top")
  }

  test("spike alert fires on the committed aggregate after 3 quiet windows") {
    // the stream_spike shape: append-mode windowed per-type counts,
    // the trailing-3 lag rule applied downstream on committed rows
    val agg = runBatches("spike_agg", "append", EventStreams.tumblingCounts, Seq(
      Seq(ev(1, 5, typ = "a"), ev(2, 65, typ = "a"), ev(3, 125, typ = "a"),
        ev(4, 185, typ = "a"), ev(5, 190, typ = "a"), ev(6, 195, typ = "a"),
        ev(7, 200, typ = "a"), ev(8, 205, typ = "a")),
      Seq(ev(9, 600)) // advance watermark, close everything before
    ))
    import org.apache.spark.sql.expressions.Window
    val prev = Window.orderBy(col("wstart")).rowsBetween(-3, -1)
    val out = agg.where(col("event_type") === "a")
      .select(col("wstart"), col("n"))
      .withColumn("prev_n", count(lit(1)).over(prev))
      .withColumn("prev_sum", coalesce(sum(col("n")).over(prev), lit(0L)))
      .withColumn("is_spike",
        col("prev_n") === 3 && col("n") * col("prev_n") > col("prev_sum") * 2)
      .orderBy(col("wstart")).collect()
    // hours 0-2 hold 1 event each (no 3-window history -> never spike);
    // hour 3 holds 5 events vs trailing sum 3: 5*3 > 3*2 -> spike
    assert(out.map(_.getLong(1)).toSeq == Seq(1L, 1L, 1L, 5L))
    assert(out.map(_.getBoolean(4)).toSeq == Seq(false, false, false, true))
  }

  test("transformWithState running totals accumulate across micro-batches") {
    // the new Spark 4 arbitrary-state API; requires the RocksDB state
    // store provider (set per-test, restored after)
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      import spark.implicits._
      implicit val sq: org.apache.spark.sql.classic.SQLContext =
        spark.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
      val in = MemoryStream[EventStreams.Event]
      val q = EventStreams.runningTotals(in.toDS())
        .writeStream.format("memory").queryName("tws_totals")
        .outputMode("update").start()
      try {
        in.addData(Seq(ev(1, 5, user = 7, v = 1.25),
          ev(2, 6, user = 7, v = 2.00), ev(3, 7, user = 9, v = 0.50)))
        q.processAllAvailable()
        in.addData(Seq(ev(4, 8, user = 7, v = 0.75)))
        q.processAllAvailable()
      } finally q.stop()
      val rows = spark.table("tws_totals").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      // update-mode memory sink keeps every emission; the LAST per
      // user is the lifetime state
      val last = rows.zipWithIndex.groupBy(_._1._1).view
        .mapValues(_.maxBy(_._2)._1).toMap
      assert(last(7L) == (7L, 3L, 400L), s"user 7 got ${last(7L)}")
      assert(last(9L) == (9L, 1L, 50L), s"user 9 got ${last(9L)}")
      // state persisted ACROSS batches: batch 1 emitted (7, 2, 325)
      assert(rows.contains((7L, 2L, 325L)), "intermediate state emission")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("sliding windows assign each event to 4 overlapping windows") {
    val out = runBatches("slide", "complete", EventStreams.slidingCounts, Seq(
      Seq(ev(1, 30))))
    val starts = out.select(col("wstart")).collect().map(_.getTimestamp(0)).sortBy(_.getTime)
    // event at 00:30 belongs to windows starting -00:30, -00:15, 00:00, 00:15
    assert(starts.length == 4)
    assert(starts.last == ts(30))
  }

  test("dropDuplicatesWithinWatermark keeps one row per event_id") {
    val out = runBatches("dedup", "append", EventStreams.dedupWithinWatermark, Seq(
      Seq(ev(1, 0), ev(1, 0), ev(2, 1)),
      Seq(ev(1, 2), ev(3, 3))))                 // id 1 again within watermark: dropped
    val ids = out.select(col("event_id")).collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == Seq(1L, 2L, 3L))
  }

  test("flatMapGroupsWithState sessionize matches session_window semantics") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.classic.SQLContext =
      spark.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    val in = MemoryStream[Event]
    val q = EventStreams.sessionize(in.toDS())
      .writeStream.format("memory").queryName("sess").outputMode("append").start()
    try {
      // user 1: events at 0,10min (one session); user 2: at 5min
      in.addData(Seq(ev(1, 0, user = 1), ev(2, 10, user = 1), ev(3, 5, user = 2)))
      q.processAllAvailable()
      // advance event time far enough to time out both sessions
      // (watermark = max ts - 1h; 40+30=70min session deadline → need > 190min)
      in.addData(Seq(ev(4, 300, user = 3)))
      q.processAllAvailable()
      in.addData(Seq(ev(5, 301, user = 3))) // extra batch so new watermark fires timeouts
      q.processAllAvailable()
      val sessions = spark.table("sess")
        .select(col("user_id"), col("sstart"), col("send"), col("n_events"))
        .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3)))
        .sortBy(_._1)
      assert(sessions.length == 2, s"got ${sessions.toSeq}")
      assert(sessions(0) == ((1L, ts(0), ts(40), 2L)))   // end = last(10min) + 30min gap
      assert(sessions(1) == ((2L, ts(5), ts(35), 1L)))
    } finally q.stop()
  }

  test("stream-static enrichment joins the broadcast dimension per micro-batch") {
    import spark.implicits._
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val out = runBatches("enrich", "append",
      df => EventStreams.enriched(df, dim),
      Seq(Seq(ev(1, 0, user = 1), ev(2, 0, user = 3))))
    val rows = out.select(col("event_id"), col("tier")).collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(rows(1L).contains("gold"))
    assert(rows(2L).isEmpty) // left outer: unknown user kept, tier null
  }

  test("stream-stream interval join attributes purchases to prior signups") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.classic.SQLContext =
      spark.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    val signups = MemoryStream[Event]
    val purchases = MemoryStream[Event]
    val joined = EventStreams.purchaseAttribution(
      signups.toDF(), purchases.toDF())
    val q = joined.writeStream.format("memory")
      .queryName("attrib").outputMode("append").start()
    try {
      signups.addData(ev(1, 0, user = 1), ev(2, 0, user = 2))
      q.processAllAvailable()
      purchases.addData(
        ev(10, 30, user = 1, v = 9.0),   // 30 min after signup -> match
        ev(11, 30, user = 3, v = 5.0))   // no signup -> dropped (inner)
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("attrib")
      .select(col("p_user"), col("p_value")).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(rows.toSeq == Seq((1L, 9.0)))
  }

  test("foreachBatch maintains a keyed upsert table across micro-batches") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.classic.SQLContext =
      spark.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    val state = new java.util.concurrent.ConcurrentHashMap[String, Long]()
    val in = MemoryStream[Event]
    val q = in.toDF()
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .writeStream
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // the upsert sink pattern: each micro-batch merges changed keys
        batch.collect().foreach(r => state.put(r.getString(0), r.getLong(1)))
        ()
      }
      .start()
    try {
      in.addData(Seq(ev(1, 0, typ = "a"), ev(2, 1, typ = "b")))
      q.processAllAvailable()
      in.addData(Seq(ev(3, 2, typ = "a")))
      q.processAllAvailable()
      assert(state.get("a") == 2L && state.get("b") == 1L)
    } finally q.stop()
  }

  test("observe() exposes per-batch data-quality metrics") {
    import spark.implicits._
    val observed = graft.core.Tables.lineitem(spark, sfDir)
      .observe("dq", count(lit(1)).as("rows"),
        sum(when(col("l_quantity") <= 0, 1).otherwise(0)).as("nonpositive_qty"))
    observed.collect()
    val metrics = observed.queryExecution.observedMetrics("dq")
    assert(metrics.getAs[Long]("rows") > 0)
    assert(metrics.getAs[Long]("nonpositive_qty") == 0L)
  }

  test("file-sink checkpoint recovery: two starts, each window exactly once") {
    // VERDICT r8 #5: stream_file_sink runs one AvailableNow pass per
    // invocation; nothing proved the checkpoint dir RESUMES correctly
    // across separate starts — the exactly-once property a production
    // sink rests on. Drive the same query twice over a growing source
    // dir sharing one checkpoint: pass 1 sees the first half of the
    // events and emits whatever its watermark closes; pass 2 sees the
    // appended second half (plus the far-future sentinel that closes
    // everything) and must emit each REMAINING window exactly once —
    // no re-emission of pass-1 windows (duplicates), no holes.
    import graft.core.{Det, Tables}
    val uuid = java.util.UUID.randomUUID().toString
    val tmpRoot = sys.props("java.io.tmpdir")
    val (src, out, ck) = (s"$tmpRoot/graft_ckrec_src_$uuid",
      s"$tmpRoot/graft_ckrec_out_$uuid", s"$tmpRoot/graft_ckrec_ck_$uuid")
    try {
      val e = Tables.events(spark, sfDir)
        .select(col("event_id"), col("ts"), col("event_type"), col("value"))
      val cut = e.agg(percentile_approx(Det.epochUs(col("ts")),
        lit(0.5), lit(1000))).head.getLong(0)
      val half1 = e.where(Det.epochUs(col("ts")) <= cut)
      val half2 = e.where(Det.epochUs(col("ts")) > cut)
      val sentinel = e.agg(max(col("ts")).as("mx"))
        .select(lit(-1L).as("event_id"),
          expr("mx + INTERVAL 48 HOURS").as("ts"),
          lit("zz_sentinel").as("event_type"), lit(0.0d).as("value"))
      // the file stream source watches FLAT files in src (no recursion):
      // write each slice to a dot-hidden scratch dir (ignored by the
      // source) and move its part file up as <name>.parquet
      def addSlice(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
        val tmp = new java.io.File(s"$src/.w_$name")
        df.coalesce(1).write.parquet(tmp.toString)
        val part = Option(tmp.listFiles()).toSeq.flatten
          .find(f => f.getName.startsWith("part-") &&
            f.getName.endsWith(".parquet")).get
        java.nio.file.Files.move(part.toPath,
          new java.io.File(src, s"$name.parquet").toPath)
        graft.core.Fixtures.deleteRecursively(tmp)
      }
      addSlice(half1, "slice1")
      graft.operators.Streams.runFileSinkPass(spark, src, out, ck)
      val afterPass1 = spark.read.parquet(out).count()
      assert(afterPass1 > 0, "pass 1 closed no windows — cut too early")
      // append the rest mid-stream, then RESTART from the checkpoint
      addSlice(half2.unionAll(sentinel), "slice2")
      graft.operators.Streams.runFileSinkPass(spark, src, out, ck)
      val sink = spark.read.parquet(out)
        .where(col("event_type") =!= "zz_sentinel")
      assert(sink.count() > afterPass1, "pass 2 emitted nothing")
      // exactly-once: no (window, type) key appears twice across passes
      val dups = sink.groupBy(col("wstart"), col("event_type"))
        .count().where(col("count") > 1).count()
      assert(dups == 0, "restart re-emitted an already-committed window")
      // and the union of both passes equals the single-run batch truth
      val got = sink.select(col("wstart").cast("timestamp"),
          col("event_type"), col("n"), col("sum_cents"))
        .collect().map(r => (r.getTimestamp(0), r.getString(1),
          r.getLong(2), r.getLong(3))).toSet
      val want = e
        .select(window(col("ts").cast("timestamp"), "6 hours")
          .getField("start").as("wstart"),
          col("event_type"), Det.cents(col("value")).as("cents"))
        .groupBy(col("wstart"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
        .collect().map(r => (r.getTimestamp(0), r.getString(1),
          r.getLong(2), r.getLong(3))).toSet
      assert(got == want,
        s"sink diverged from batch truth: missing=${(want -- got).take(3)} " +
          s"extra=${(got -- want).take(3)}")
    } finally {
      for (d <- Seq(src, out, ck))
        graft.core.Fixtures.deleteRecursively(new java.io.File(d))
    }
  }

  test("txn sink restart: no-data restart commits nothing, late file once") {
    // the transactional half of stream_txn_sink, isolated: a restart
    // over an UNCHANGED source must leave the table version untouched
    // (checkpoint restore alone — no spurious empty commits), and a
    // file arriving after that restart must land as exactly one new
    // commit whose table tip equals the batch truth.
    import graft.sources.TxnLog
    import spark.implicits._
    val uuid = java.util.UUID.randomUUID().toString
    val tmpRoot = sys.props("java.io.tmpdir")
    val (src, root, ck) = (s"$tmpRoot/graft_txnrec_src_$uuid",
      s"$tmpRoot/graft_txnrec_tbl_$uuid", s"$tmpRoot/graft_txnrec_ck_$uuid")
    def addSlice(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = new java.io.File(s"$src/.w_$name")
      df.coalesce(1).write.parquet(tmp.toString)
      val part = Option(tmp.listFiles()).toSeq.flatten
        .find(f => f.getName.startsWith("part-") &&
          f.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        new java.io.File(src, s"$name.parquet").toPath)
      graft.core.Fixtures.deleteRecursively(tmp)
    }
    try {
      new java.io.File(src).mkdirs(); new java.io.File(root).mkdirs()
      addSlice(Seq((1L, "a", 1.0), (2L, "b", 2.0))
        .toDF("event_id", "event_type", "value"), "s1")
      graft.operators.Streams.runTxnSinkPass(spark, src, root, ck)
      val v1 = TxnLog.latestVersion(root)
      assert(v1 >= 1, "pass 1 committed nothing")
      // restart with NOTHING new: the version must not move
      graft.operators.Streams.runTxnSinkPass(spark, src, root, ck)
      assert(TxnLog.latestVersion(root) == v1,
        "a no-data restart advanced the table version")
      // a file arriving after the restart lands exactly once
      addSlice(Seq((3L, "c", 3.0)).toDF("event_id", "event_type", "value"),
        "s2")
      graft.operators.Streams.runTxnSinkPass(spark, src, root, ck)
      val got = TxnLog.read(spark, root)
        .select(col("event_id"), col("event_type"), col("value"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
        .toSet
      assert(got == Set((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0)),
        s"table tip diverged from batch truth: $got")
      // r10: streamed adds carry write-time event_id stats, so a
      // streamed table prunes like any other — the s2 slice (id 3)
      // must be skippable when the range misses it
      val tip = TxnLog.latestVersion(root)
      val st = TxnLog.stateAt(root, tip)
      assert(st.live.forall(f => st.stats.contains(f)),
        s"streamed files missing stats: ${st.live.filterNot(st.stats.contains)}")
      val (scanned, pruned) = TxnLog.prune(root, tip, "event_id", "1", "2")
      assert(pruned.nonEmpty && scanned.size < st.live.size,
        s"streamed stats did not prune: scanned=$scanned pruned=$pruned")
    } finally {
      for (d <- Seq(src, root, ck))
        graft.core.Fixtures.deleteRecursively(new java.io.File(d))
    }
  }

  test("session state splits on in-data gap") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.classic.SQLContext =
      spark.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    val in = MemoryStream[Event]
    val q = EventStreams.sessionize(in.toDS())
      .writeStream.format("memory").queryName("sess2").outputMode("append").start()
    try {
      in.addData(Seq(ev(1, 0, user = 1)))
      q.processAllAvailable()
      in.addData(Seq(ev(2, 100, user = 1))) // 100min later: new session, old emitted
      q.processAllAvailable()
      val rows = spark.table("sess2").collect()
      assert(rows.length == 1)
      assert(rows(0).getAs[Timestamp]("sstart") == ts(0))
      assert(rows(0).getAs[Timestamp]("send") == ts(30))
    } finally q.stop()
  }

  // ------------------------------- r11: txn-log table as a SOURCE

  private def txnTailPass(root: String, out: String, ck: String,
                          options: Map[String, String] = Map.empty)
  : Unit = {
    val reader = spark.readStream
      .format(classOf[graft.streaming.TxnLogSourceProvider].getName)
      .option("path", root)
    val q = options.foldLeft(reader) { case (r, (k, v)) => r.option(k, v) }
      .load()
      .writeStream.format("parquet")
      .option("checkpointLocation", ck)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start(out)
    q.awaitTermination()
  }

  test("txn-log streaming source: version-offset tail survives a restart") {
    import spark.implicits._
    import graft.sources.TxnLog
    val uuid = java.util.UUID.randomUUID().toString
    val tmpRoot = sys.props("java.io.tmpdir")
    val (root, out, ck) = (s"$tmpRoot/graft_txnsrc_$uuid",
      s"$tmpRoot/graft_txnsrc_out_$uuid", s"$tmpRoot/graft_txnsrc_ck_$uuid")
    try {
      Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v")
        .coalesce(1).write.parquet(s"$root/f0")
      assert(TxnLog.commitNext(root, Seq(TxnLog.add("f0")), "s") == 1)
      // pass 1: the whole committed history is the first batch
      txnTailPass(root, out, ck)
      assert(spark.read.parquet(out).count() == 2)
      // two commits while the stream is DOWN; the checkpointed version
      // offset must resume at exactly v2 — new rows once, no replay
      Seq((3L, 30.0)).toDF("k", "v").coalesce(1).write.parquet(s"$root/f1")
      assert(TxnLog.commitNext(root, Seq(TxnLog.add("f1")), "s") == 2)
      Seq((4L, 40.0)).toDF("k", "v").coalesce(1).write.parquet(s"$root/f2")
      assert(TxnLog.commitNext(root, Seq(TxnLog.add("f2")), "s") == 3)
      txnTailPass(root, out, ck)
      val got = spark.read.parquet(out).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq.sorted
      assert(got == Seq((1L, 10.0), (2L, 20.0), (3L, 30.0), (4L, 40.0)),
        s"restart re-delivered or dropped rows: $got")
      // a rewrite commit is NOT an append: the tail fails loudly…
      assert(TxnLog.mergeUpsert(spark, root,
        Seq((2L, 21.0)).toDF("k", "v"), "k", "m").contains(4))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
        txnTailPass(root, out, ck))
      assert(e.getMessage.contains("rewrites files") ||
        Option(e.getCause).exists(_.getMessage.contains("rewrites files")),
        s"wrong failure: ${e.getMessage}")
    } finally {
      for (d <- Seq(root, out, ck))
        graft.core.Fixtures.deleteRecursively(new java.io.File(d))
    }
  }

  test("txn-log streaming source: maxVersionsPerTrigger paces a catch-up") {
    import spark.implicits._
    import graft.sources.TxnLog
    val uuid = java.util.UUID.randomUUID().toString
    val tmpRoot = sys.props("java.io.tmpdir")
    val (root, out, ck) = (s"$tmpRoot/graft_txnrate_$uuid",
      s"$tmpRoot/graft_txnrate_out_$uuid", s"$tmpRoot/graft_txnrate_ck_$uuid")
    try {
      for (i <- 1 to 3) {
        Seq((i.toLong, i * 10.0)).toDF("k", "v")
          .coalesce(1).write.parquet(s"$root/f$i")
        assert(TxnLog.commitNext(root, Seq(TxnLog.add(s"f$i")), "s") == i)
      }
      // one AvailableNow pass, capped at one commit per micro-batch:
      // the 3-version catch-up must drain as 3 checkpointed batches
      val q = spark.readStream
        .format(classOf[graft.streaming.TxnLogSourceProvider].getName)
        .option("path", root)
        .option("maxVersionsPerTrigger", "1")
        .load()
        .writeStream.format("parquet")
        .option("checkpointLocation", ck)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start(out)
      q.awaitTermination()
      val got = spark.read.parquet(out).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq.sorted
      assert(got == Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)),
        s"paced catch-up lost or duplicated rows: $got")
      // 3 committed batches in the checkpoint (offsets 0,1,2)
      val batches = Option(new java.io.File(s"$ck/commits").listFiles())
        .toSeq.flatten.map(_.getName).filterNot(_.startsWith("."))
        .filterNot(_.endsWith(".crc")).sorted
      assert(batches == Seq("0", "1", "2"),
        s"expected one batch per commit, got $batches")
    } finally {
      for (d <- Seq(root, out, ck))
        graft.core.Fixtures.deleteRecursively(new java.io.File(d))
    }
  }

  test("txn-log streaming source: change-feed mode streams exact rewrite diffs") {
    import spark.implicits._
    import graft.sources.TxnLog
    val uuid = java.util.UUID.randomUUID().toString
    val tmpRoot = sys.props("java.io.tmpdir")
    val (root, out, ck) = (s"$tmpRoot/graft_txncdf_$uuid",
      s"$tmpRoot/graft_txncdf_out_$uuid", s"$tmpRoot/graft_txncdf_ck_$uuid")
    try {
      Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v")
        .coalesce(1).write.parquet(s"$root/f0")
      assert(TxnLog.commitNext(root, Seq(TxnLog.add("f0")), "s") == 1)
      // v2 rewrites k=2 (MERGE): CDF mode must deliver the exact
      // delete/insert pair, not re-deliver the copied k=1 row
      assert(TxnLog.mergeUpsert(spark, root,
        Seq((2L, 21.0)).toDF("k", "v"), "k", "m").contains(2))
      txnTailPass(root, out, ck, Map("readChangeFeed" -> "true"))
      val got = spark.read.parquet(out)
        .select(col("_commit_version"), col("_change_type"), col("k"),
          col("v"))
        .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2),
          r.getDouble(3))).toSet
      assert(got == Set(
        (1, "insert", 1L, 10.0), (1, "insert", 2L, 20.0),
        (2, "delete", 2L, 20.0), (2, "insert", 2L, 21.0)),
        s"change feed wrong: $got")
      // tail continues from the checkpoint: an append delivers only
      // its own inserts
      Seq((9L, 90.0)).toDF("k", "v").coalesce(1).write.parquet(s"$root/f9")
      assert(TxnLog.commitNext(root, Seq(TxnLog.add("f9")), "s") == 3)
      txnTailPass(root, out, ck, Map("readChangeFeed" -> "true"))
      val v3 = spark.read.parquet(out)
        .where(col("_commit_version") === 3)
        .collect().map(r => (r.getAs[String]("_change_type"),
          r.getAs[Long]("k"))).toSet
      assert(v3 == Set(("insert", 9L)), s"tail after restart: $v3")
      assert(spark.read.parquet(out).count() == 5)
    } finally {
      for (d <- Seq(root, out, ck))
        graft.core.Fixtures.deleteRecursively(new java.io.File(d))
    }
  }

  test("drainStreamingState bounds per-invocation growth: terminated " +
    "queries' state-store providers unload (r15, VERDICT r14 #4)") {
    import spark.implicits._
    def loadedProviders: scala.collection.mutable.HashMap[_, _] = {
      val obj = org.apache.spark.sql.execution.streaming.state.StateStore
      val f = obj.getClass.getDeclaredField("loadedProviders")
      f.setAccessible(true)
      f.get(obj).asInstanceOf[scala.collection.mutable.HashMap[_, _]]
    }
    val scratch = java.nio.file.Files
      .createTempDirectory("graft_drain_").toString
    try {
      val src = s"$scratch/src"
      (1L to 50L).map(i => (i, ts(i.toInt), "click", 1.0))
        .toDF("event_id", "ts", "event_type", "value")
        .coalesce(1).write.parquet(src)
      // a stateful AvailableNow pass loads aggregate state providers
      // and leaves them resident after termination (the r14 growth
      // vector: one set per invocation × checkpoint dir, reclaimed
      // only by the 60 s maintenance cycle)
      graft.operators.Streams.runFileSinkPass(spark, src,
        s"$scratch/out", s"$scratch/ck")
      assert(loadedProviders.nonEmpty,
        "expected the terminated pass to leave providers loaded " +
          "(the growth vector this test pins)")
      org.apache.spark.sql.graft.StreamingShim.drainStreamingState(spark)
      assert(loadedProviders.isEmpty,
        "drainStreamingState must unload every provider")
      // a SECOND pass over a fresh checkpoint reruns clean — the
      // teardown never breaks a later query (providers rebuild from
      // their checkpoints on demand)
      graft.operators.Streams.runFileSinkPass(spark, src,
        s"$scratch/out2", s"$scratch/ck2")
      org.apache.spark.sql.graft.StreamingShim.drainStreamingState(spark)
      assert(loadedProviders.isEmpty)
    } finally graft.core.Fixtures.deleteRecursively(
      new java.io.File(scratch))
  }

  test("concurrent jobs keep their shuffles: sink operators never sweep, " +
    "and the harness sweep skips while a job is live") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    import graft.core.{Det, Tables}
    val fetchFailures = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.reason.isInstanceOf[org.apache.spark.FetchFailed])
          fetchFailures.incrementAndGet()
    }
    // every row crosses a hash exchange before the keyed aggregate
    val (n, keys) = (2000000L, 1000L)
    def aggregate(): Map[Long, Long] = spark.range(0L, n, 1L, 8)
      .repartition(16, col("id"))
      .groupBy((col("id") % keys).as("k")).agg(sum(col("id")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val perKey = n / keys
    val expected = (0L until keys)
      .map(k => k -> (perKey * k + keys * perKey * (perKey - 1) / 2)).toMap
    spark.sparkContext.addSparkListener(listener)
    try {
      val sink = Future(
        graft.operators.Streams.streamUpdateSink(spark, sfDir).collect().toSeq)
      // at least three aggregates, and aggregates until the sink's
      // teardown is over: the teardown is where a JVM-wide sweep would
      // hit the aggregate's in-flight shuffles
      var runs = 0
      while (runs < 3 || (!sink.isCompleted && runs < 50)) {
        assert(aggregate() == expected, s"aggregate run $runs")
        runs += 1
      }
      val streamed = Await.result(sink, 5.minutes)
      val batch = Tables.events(spark, sfDir).groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(Det.cents(col("value"))).as("sum_cents"))
        .orderBy(col("event_type")).collect().toSeq
      assert(streamed == batch)
      // Caches.release called under a live job must not sweep its
      // shuffles: the job's middle stage holds the session busy
      val slow = Future(spark.sparkContext.parallelize(1 to 1000, 4)
        .map(i => (i % 10, i)).reduceByKey(_ + _)
        .mapPartitions { it => Thread.sleep(3000); it }
        .reduceByKey(_ + _).collect().toMap)
      while (spark.sparkContext.statusTracker.getActiveJobIds().isEmpty)
        Thread.sleep(20)
      graft.core.Caches.release(spark)
      assert(Await.result(slow, 5.minutes) ==
        (1 to 1000).groupBy(_ % 10).map { case (k, v) => k -> v.sum })
      assert(org.apache.spark.sql.graft.StreamingShim.listenersSettled(spark))
      assert(fetchFailures.get == 0, s"$fetchFailures fetch failures")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("txn-log streaming source: a deletion-vector commit is a change, not an append") {
    import spark.implicits._
    import graft.sources.TxnLog
    val uuid = java.util.UUID.randomUUID().toString
    val tmpRoot = sys.props("java.io.tmpdir")
    val (root, out, ck, out2, ck2) = (s"$tmpRoot/graft_txndv_$uuid",
      s"$tmpRoot/graft_txndv_out_$uuid", s"$tmpRoot/graft_txndv_ck_$uuid",
      s"$tmpRoot/graft_txndv_out2_$uuid", s"$tmpRoot/graft_txndv_ck2_$uuid")
    try {
      (1L to 6L).map(k => (k, k * 10.0)).toDF("k", "v")
        .coalesce(1).write.parquet(s"$root/f0")
      assert(TxnLog.commitNext(root, Seq(TxnLog.add("f0")), "s") == 1)
      txnTailPass(root, out, ck)
      // v2: a merge-on-read delete — no file is removed, but rows
      // are gone; the append tail must refuse (re-delivery hazard)
      assert(TxnLog.deleteRangeDV(spark, root, "k", "2", "3", "s")
        .contains(2))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
        txnTailPass(root, out, ck))
      assert(e.getMessage.contains("deletes rows") ||
        Option(e.getCause).exists(_.getMessage.contains("deletes rows")),
        s"wrong failure: ${e.getMessage}")
      // change-feed mode delivers the exact vector delta as deletes
      txnTailPass(root, out2, ck2, Map("readChangeFeed" -> "true"))
      val got = spark.read.parquet(out2)
        .where(col("_commit_version") === 2)
        .collect().map(r => (r.getAs[String]("_change_type"),
          r.getAs[Long]("k"))).toSet
      assert(got == Set(("delete", 2L), ("delete", 3L)),
        s"dv commit change feed wrong: $got")
    } finally {
      for (d <- Seq(root, out, ck, out2, ck2))
        graft.core.Fixtures.deleteRecursively(new java.io.File(d))
    }
  }
}
