package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.streaming.{EventStreams, IndexLifecycle}
import graft.operators.Similarity

/** Watermark semantics across micro-batches: data later than the
  * watermark horizon is DROPPED from append-mode aggregates, and
  * windows the watermark hasn't passed stay buffered in state — the
  * behavior that bounds streaming state at 100 TB. (The st* contract
  * queries run the whole file in one batch, which can't show eviction;
  * this spec forces ordered micro-batches.)
  *
  * Note Spark's two-watermark model (SPARK-40925): batch N filters late
  * rows with the watermark of batch N-1 but evicts with batch N's — so
  * the late arrival lands two batches after the data that advanced the
  * watermark past it.
  */
class StreamingSpec extends SparkSpec {

  private def us(min: Long): Long = min * 60L * 1000000L // minutes → micros

  test("append tumbling agg: late data dropped, open windows held back") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-late").toString

    def writeBatch(path: String, mtime: Long, rows: Seq[(Long, Long)]): Unit = {
      rows.map { case (id, tsUs) => (id, tsUs * 1000L, 1L, "view", 1.0, "{}") }
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.parquet(path)
      new java.io.File(path).listFiles().foreach(_.setLastModified(mtime))
    }

    // b1: three events in [10:00,10:05) + one at 11:00 — advances the
    //     watermark (10-min delay) to 10:50 once the batch completes
    writeBatch(s"$dir/b1", 1000000L, Seq((1L, us(600)), (2L, us(601)), (3L, us(602)), (4L, us(660))))
    // b2: innocuous 11:01 event; during this batch the [10:00,10:05)
    //     window is evicted and emitted with its 3 on-time events
    writeBatch(s"$dir/b2", 2000000L, Seq((5L, us(661))))
    // b3: a late arrival back at 10:03 — beyond the 10:50 late-filter
    //     watermark now in effect ⇒ dropped, no duplicate emission
    writeBatch(s"$dir/b3", 3000000L, Seq((6L, us(603))))

    val src = spark.readStream.schema(EventStreams.rawSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/*")
      .withColumn("ts", timestamp_micros(expr("ts div 1000")))
    val q = EventStreams.tumbling(src, width = "5 minutes", watermark = "10 minutes")
      .writeStream.format("memory").queryName("late_mem").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()

    val emitted = spark.table("late_mem")
      .select(col("w_start_us"), col("n_events")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq

    // exactly ONE emission of the 10:00 window, with only on-time rows:
    // the late id-6 row neither updated it nor re-emitted it
    assert(emitted.filter(_._1 == us(600)) == Seq((us(600), 3L)), s"got $emitted")
    // windows at/after 10:55 are still open state — never emitted
    assert(emitted.forall(_._1 == us(600)), s"got $emitted")
  }

  test("left-outer interval join: expired view emits null, young view held back") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-louter").toString

    def writeBatch(path: String, mtime: Long,
                   rows: Seq[(Long, Long, Long, String)]): Unit = {
      rows.map { case (id, tsUs, user, typ) => (id, tsUs * 1000L, user, typ, 1.0, "{}") }
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.parquet(path)
      new java.io.File(path).listFiles().foreach(_.setLastModified(mtime))
    }

    // b1: u1 view+click (a match), u2 view with no click ever
    writeBatch(s"$dir/b1", 1000000L, Seq(
      (1L, us(600), 1L, "view"), (2L, us(602), 1L, "click"),
      (3L, us(600), 2L, "view")))
    // b2: both sides jump to 11:00 → watermark (after b2) = 10:50
    writeBatch(s"$dir/b2", 2000000L, Seq(
      (4L, us(660), 3L, "view"), (5L, us(660), 9L, "click")))
    // b3: anything — the batch that RUNS with wm 10:50 evicts u2's view
    // (window end 10:05 < 10:50) and emits it null-padded
    writeBatch(s"$dir/b3", 3000000L, Seq((6L, us(661), 8L, "click")))

    val src = spark.readStream.schema(EventStreams.rawSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/*")
      .withColumn("ts", timestamp_micros(expr("ts div 1000")))
    val views = src.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("event_id").as("view_id"),
        col("ts").as("v_ts"))
      .withWatermark("v_ts", "10 minutes")
    val clicks = src.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "10 minutes")
    val joined = views.join(clicks,
      col("v_user") === col("c_user") &&
        col("c_ts") >= col("v_ts") &&
        col("c_ts") <= col("v_ts") + expr("INTERVAL 5 MINUTES"),
      "leftOuter")
      .select(col("view_id"), col("click_id"))
    val q = joined.writeStream.format("memory").queryName("louter_mem")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()

    val got = spark.table("louter_mem").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
    // u1's pair, u2's watermark-expired null row — and NOT u3's view
    // (11:00 + 5min is ahead of the final 10:50 watermark: held back)
    assert(got == Set((1L, 2L), (3L, -1L)), s"got $got")
  }

  test("full-outer interval join: expired unmatched click emits null-view before an equally-old view would") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-fouter").toString

    def writeBatch(path: String, mtime: Long,
                   rows: Seq[(Long, Long, Long, String)]): Unit = {
      rows.map { case (id, tsUs, user, typ) => (id, tsUs * 1000L, user, typ, 1.0, "{}") }
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.parquet(path)
      new java.io.File(path).listFiles().foreach(_.setLastModified(mtime))
    }

    // b1: u1 matched pair; u2 lone view at 10:00; u4 lone click at 10:04
    writeBatch(s"$dir/b1", 1000000L, Seq(
      (1L, us(600), 1L, "view"), (2L, us(602), 1L, "click"),
      (3L, us(600), 2L, "view"), (4L, us(604), 4L, "click")))
    // b2: both sides jump to 10:12 → watermark 10:02. The asymmetric
    // eviction: u2's VIEW (window end 10:05 ≥ 10:02) is held back, but
    // an unmatched CLICK evicts at c_ts < wm — u4's click at 10:04 is
    // NOT yet evictable either. Advance to 10:16 → wm 10:06: now BOTH
    // u2's view (10:05 < 10:06) and u4's click (10:04 < 10:06) emit.
    writeBatch(s"$dir/b2", 2000000L, Seq(
      (5L, us(612), 3L, "view"), (6L, us(612), 9L, "click")))
    writeBatch(s"$dir/b3", 3000000L, Seq(
      (7L, us(616), 8L, "view"), (8L, us(616), 7L, "click")))
    writeBatch(s"$dir/b4", 4000000L, Seq((9L, us(617), 6L, "click")))

    val src = spark.readStream.schema(EventStreams.rawSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/*")
      .withColumn("ts", timestamp_micros(expr("ts div 1000")))
    val views = src.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("event_id").as("view_id"),
        col("ts").as("v_ts"))
      .withWatermark("v_ts", "10 minutes")
    val clicks = src.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "10 minutes")
    val joined = views.join(clicks,
      col("v_user") === col("c_user") &&
        col("c_ts") >= col("v_ts") &&
        col("c_ts") <= col("v_ts") + expr("INTERVAL 5 MINUTES"),
      "fullOuter")
      .select(col("view_id"), col("click_id"))
    val q = joined.writeStream.format("memory").queryName("fouter_mem")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()

    val got = spark.table("fouter_mem").collect()
      .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0),
                 if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
    // u1's pair; u2's null-click view; u4's null-view click. Views and
    // clicks from 10:12+ are inside the final horizon: held back.
    assert(got == Set((1L, 2L), (3L, -1L), (-1L, 4L)), s"got $got")
  }

  test("custom-state sessions: one session spanning micro-batches merges in state") {
    import spark.implicits._
    import graft.streaming.StatefulSessionStream
    val dir = Files.createTempDirectory("graft-sess-mb").toString

    def writeBatch(path: String, mtime: Long, rows: Seq[(Long, Long)]): Unit = {
      rows.map { case (id, tsUs) => (id, tsUs * 1000L, 7L, "view", 1.0, "{}") }
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.parquet(path)
      new java.io.File(path).listFiles().foreach(_.setLastModified(mtime))
    }
    // batch 1: events at 10:00 and 10:10; batch 2 continues the SAME
    // session at 10:20 (gap 30 min), then a far event at 20:00 both
    // closes it and advances the watermark so it flushes
    writeBatch(s"$dir/b1", 1000000L, Seq((1L, us(600)), (2L, us(610))))
    writeBatch(s"$dir/b2", 2000000L, Seq((3L, us(620)), (4L, us(1200))))

    val result = EventStreams.runBounded(spark, "sess_mb_mem", scoped => {
      val src = scoped.readStream.schema(EventStreams.rawSchema)
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$dir/*")
        .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      StatefulSessionStream.sessionizeStream(src).toDF()
    }, "append", noDataBatches = true)

    val got = result.select("session_seq", "session_start_us", "n_events")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    // ONE merged 3-event session (not two fragments) — the open run
    // buffered in state across the batch boundary before closing
    assert(got == Seq((0L, us(600), 3L)), s"got $got")
  }

  test("custom-state sessions run on the RocksDB provider (st06/st12 default)") {
    import spark.implicits._
    import graft.streaming.{EventStreams, StatefulSessionStream}
    val dir = Files.createTempDirectory("graft-sess-rocks").toString
    val rows = Seq((1L, us(600)), (2L, us(601)), (3L, us(660)), (4L, us(1200)))
      .map { case (id, tsUs) => (id, tsUs * 1000L, 7L, "view", 1.0, "{}") }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(s"$dir/b1")

    var sawRocksDb = false
    val result = EventStreams.runBounded(spark, "sess_rocks_mem", scoped => {
      val src = scoped.readStream.schema(EventStreams.rawSchema)
        .parquet(s"$dir/*")
        .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      StatefulSessionStream.sessionizeStream(src).toDF()
    }, "append", noDataBatches = true,
      extraConf = EventStreams.RocksDbConf,
      onFinish = q => {
        // the provider advertises itself through rocksdb* custom metrics
        // on the stateful operator — absent under the default HDFS store
        sawRocksDb = q.recentProgress.exists(_.stateOperators.exists(
          _.customMetrics.keySet.asScala.exists(_.startsWith("rocksdb"))))
      })
    assert(sawRocksDb, "no rocksdb custom metrics on the stateful operator")
    // and the provider swap must not change the answer
    val got = result.select("session_seq", "session_start_us", "n_events")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(got == Seq((0L, us(600), 2L), (1L, us(660), 1L)), s"got $got")
  }

  test("custom-state sessions: data-closed emit, timeout flush, young holdback") {
    import spark.implicits._
    import graft.streaming.StatefulSessionStream
    val dir = Files.createTempDirectory("graft-sess").toString

    // one user, three gap-separated sessions (gap = 30 min):
    //   s0 at 10:00-10:01  — closed by s1's first event ⇒ emits on data
    //   s1 at 11:00        — closed by s2, emits on data
    //   s2 at 20:00        — trailing open session; watermark reaches
    //                        19:50, which is < 20:30 ⇒ HELD BACK
    val rows = Seq((1L, us(600)), (2L, us(601)), (3L, us(660)), (4L, us(1200)))
      .map { case (id, tsUs) => (id, tsUs * 1000L, 7L, "view", 1.0, "{}") }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(s"$dir/b1")

    // runBounded owns the scoped session, checkpoint, and the
    // wait-for-the-watermark-only-batch polling (noDataBatches = true)
    val result = EventStreams.runBounded(spark, "sess_mem", scoped => {
      val src = scoped.readStream.schema(EventStreams.rawSchema)
        .parquet(s"$dir/*")
        .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      StatefulSessionStream.sessionizeStream(src).toDF()
    }, "append", noDataBatches = true)

    val got = result
      .select("session_seq", "session_start_us", "n_events")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    // s0 (2 events) and s1 (1 event, flushed by event-time timeout when
    // the watermark passed 11:30); s2 held open — exactly two sessions
    assert(got == Seq((0L, us(600), 2L), (1L, us(660), 1L)), s"got $got")
  }

  test("ordered fold: cross-batch sealing folds in event-time order") {
    import spark.implicits._
    import graft.streaming.OrderedFoldStream
    val dir = Files.createTempDirectory("graft-fold-mb").toString
    def writeBatch(path: String, mtime: Long, rows: Seq[(Long, Long, Double)]): Unit = {
      rows.map { case (id, tsUs, v) => (id, tsUs * 1000L, 7L, "view", v, "{}") }
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.parquet(path)
      new java.io.File(path).listFiles().foreach(_.setLastModified(mtime))
    }
    // batch 1 buffers 10:00/10:05 (wm still 0); batch 2 adds 11:00 and
    // 12:00 — the final watermark (12:00 − 10 min) seals the first
    // THREE across the batch boundary, holds the 12:00 event
    writeBatch(s"$dir/b1", 1000000L, Seq((1L, us(600), 1.0), (2L, us(605), 2.0)))
    writeBatch(s"$dir/b2", 2000000L, Seq((3L, us(660), 3.0), (4L, us(720), 4.0)))
    val result = EventStreams.runBounded(spark, "fold_mb_mem", scoped => {
      val src = scoped.readStream.schema(EventStreams.rawSchema)
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$dir/*")
        .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      OrderedFoldStream.ewmaStream(src).toDF()
    }, "update", noDataBatches = true)
    val fin = result.groupBy(col("user_id"))
      .agg(max(struct(col("n_done"), col("ewma_q"))).as("p"))
      .select(col("p.n_done"), col("p.ewma_q"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // fold over vq = 10000, 20000, 30000:
    //   s = 10000 → (85·10000+15·20000)/100 = 11500 → (85·11500+15·30000)/100 = 14275
    assert(fin == Seq((3L, 14275L)), s"got $fin")
  }

  test("initial-state bootstrap: snapshot-only, tail-only and mixed users all reconcile") {
    import spark.implicits._
    import graft.streaming.BootstrapProfileStream
    // a fixture where all three handoff paths occur: user 1 has ONLY
    // history (even ids — must surface via the snapshot union, never
    // emitting from the stream), user 2 both halves (handleInitialState
    // + handleInputRows), user 3 only tail (default zero state)
    val dir = Files.createTempDirectory("graft-boot").toString
    val tmp = s"$dir/w"
    Seq(
      (2L, us(600), 1L, 2.0), (4L, us(601), 1L, 3.0),          // user 1: history only
      (6L, us(602), 2L, 5.0), (7L, us(603), 2L, 7.0),          // user 2: both
      (9L, us(604), 3L, 11.0))                                 // user 3: tail only
      .map { case (id, ts, u, v) => (id, ts * 1000L, u, "view", v, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    Files.move(part.toPath, java.nio.file.Paths.get(s"$dir/events.parquet"))
    val fin = BootstrapProfileStream.runFinalProfiles(spark, dir)
      .orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(fin == Seq((1L, 2L, 50000L), (2L, 2L, 120000L), (3L, 1L, 110000L)),
      s"got $fin")
  }

  test("checkpoint restart: aggregate state recovers exactly-once across stop/start") {
    import spark.implicits._
    // the fault-tolerance contract a 100 TB stream lives on: a NEW query
    // started on the SAME checkpoint must (a) recover the aggregation
    // state store and (b) not re-read source files already committed —
    // the final counts expose either failure (state lost → view=1;
    // double-read would double b1's contribution). Both providers: the
    // default HDFS-backed store and RocksDB (the disk-spilling backend
    // every stateful-heavy catalog stream runs on)
    val providers = Seq(
      "default" -> Map.empty[String, String],
      "rocksdb" -> Map("spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))
    for ((name, conf) <- providers) {
      val dir = Files.createTempDirectory(s"graft-restart-src-$name").toString
      val out = Files.createTempDirectory(s"graft-restart-out-$name").toString
      val ckpt = Files.createTempDirectory(s"graft-restart-ckpt-$name").toString

      def writeBatch(path: String, mtime: Long, rows: Seq[(Long, String)]): Unit = {
        rows.map { case (id, tpe) => (id, us(600) * 1000L, 1L, tpe, 1.0, "{}") }
          .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
          .coalesce(1).write.parquet(path)
        new java.io.File(path).listFiles().foreach(_.setLastModified(mtime))
      }
      def runOnce(): Unit = {
        val scoped = spark.newSession()
        scoped.conf.set("spark.sql.shuffle.partitions", "4")
        conf.foreach { case (k, v) => scoped.conf.set(k, v) }
        val src = scoped.readStream.schema(EventStreams.rawSchema)
          .parquet(s"$dir/*")
          .withColumn("ts", timestamp_micros(expr("ts div 1000")))
        val q = src.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
          .writeStream.outputMode("complete")
          .foreachBatch { (b: org.apache.spark.sql.Dataset[Row], _: Long) =>
            b.write.mode("overwrite").parquet(out)
          }
          .option("checkpointLocation", ckpt).start()
        try q.processAllAvailable() finally q.stop()
      }
      def snapshot(): Map[String, Long] = spark.read.parquet(out)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

      writeBatch(s"$dir/b1", 1000000L, Seq((1L, "view"), (2L, "view"), (3L, "click")))
      runOnce()
      assert(snapshot() == Map("view" -> 2L, "click" -> 1L), s"provider $name")

      writeBatch(s"$dir/b2", 2000000L, Seq((4L, "view"), (5L, "purchase")))
      runOnce() // fresh query object, same checkpoint: only b2 is new
      assert(snapshot() == Map("view" -> 3L, "click" -> 1L, "purchase" -> 1L),
        s"provider $name: restarted query lost state or re-read committed files")
    }
  }

  test("ann serve: union over micro-batched query arrival equals the batch answer") {
    // the st21 invariant made visible: the catalog replay runs the one
    // staged file in one batch, so force TWO micro-batches (query set
    // split by vec_id parity across two files, maxFilesPerTrigger=1)
    // and pin that per-batch serving against the static index composes
    // to exactly the batch ADC top-k
    val emb = graft.sources.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val root = Files.createTempDirectory("graft-annstream").toString
    Similarity.buildPqIndex(emb, s"$root/idx")
    val queryMod = 100 // denser query set than the catalog's 400
    val queries = emb.filter(col("vec_id") % queryMod === 0)
    queries.filter(col("vec_id") % 200 === 0)
      .coalesce(1).write.parquet(s"$root/src/b1")
    queries.filter(col("vec_id") % 200 =!= 0)
      .coalesce(1).write.parquet(s"$root/src/b2")

    val scoped = spark.newSession()
    scoped.conf.set("spark.sql.shuffle.partitions", "8")
    val cb = scoped.read.parquet(s"$root/idx/codebooks")
    val codes = scoped.read.parquet(s"$root/idx/codes")
    val schema = scoped.read.parquet(s"$root/src/b1").schema
    val served = new java.util.concurrent.atomic.AtomicInteger(0)
    val ckpt = Files.createTempDirectory("graft-annstream-ckpt")
    val q = scoped.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$root/src/*")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], batchId: Long) =>
        if (!batch.isEmpty) served.incrementAndGet()
        Similarity.adcServeQueries(batch.toDF(), cb, codes, topK = 5)
          .write.mode("append").parquet(s"$root/out")
      }
      .option("checkpointLocation", ckpt.toString).start()
    try q.processAllAvailable() finally q.stop()

    assert(served.get() >= 2, s"expected >= 2 non-empty serving batches, got ${served.get()}")
    val got = scoped.read.parquet(s"$root/out")
      .orderBy("q_id", "rk").collect().toSeq
    val want = Similarity.pqAdcTopK(emb, topK = 5, queryMod = queryMod)
      .orderBy("q_id", "rk").collect().toSeq
    assert(got == want, s"streamed serve diverged from batch: $got vs $want")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    org.apache.commons.io.FileUtils.deleteQuietly(ckpt.toFile)
  }

  test("bm25 serve: union over micro-batched query arrival equals the batch answer") {
    // the st24 invariant made visible (the ann-serve pin applied to
    // text): force TWO micro-batches of query docs and pin that
    // per-batch serving against the static inverted index composes to
    // exactly the batch retrieval
    val docs = graft.sources.Tables(spark, "/root/testdata/sf0.001", "documents")
    val root = Files.createTempDirectory("graft-bm25stream").toString
    graft.operators.TextAnalysis.buildBm25Index(docs, s"$root/idx")
    val queries = docs.filter(col("doc_id") % 50 === 0)
    queries.filter(col("doc_id") % 100 === 0)
      .coalesce(1).write.parquet(s"$root/src/b1")
    queries.filter(col("doc_id") % 100 =!= 0)
      .coalesce(1).write.parquet(s"$root/src/b2")

    val scoped = spark.newSession()
    scoped.conf.set("spark.sql.shuffle.partitions", "8")
    val schema = scoped.read.parquet(s"$root/src/b1").schema
    val served = new java.util.concurrent.atomic.AtomicInteger(0)
    val ckpt = Files.createTempDirectory("graft-bm25stream-ckpt")
    val q = scoped.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$root/src/*")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], batchId: Long) =>
        if (!batch.isEmpty) served.incrementAndGet()
        graft.operators.TextAnalysis.bm25RetrieveFromIndex(scoped, s"$root/idx",
            graft.operators.TextAnalysis.bm25QueryWorkload(batch.toDF()))
          .write.mode("append").parquet(s"$root/out")
      }
      .option("checkpointLocation", ckpt.toString).start()
    try q.processAllAvailable() finally q.stop()

    assert(served.get() >= 2, s"expected >= 2 non-empty serving batches, got ${served.get()}")
    val got = scoped.read.parquet(s"$root/out")
      .orderBy("q_id", "rk").collect().toSeq
    val want = graft.operators.TextAnalysis.bm25Retrieve(docs)
      .orderBy("q_id", "rk").collect().toSeq
    assert(got.nonEmpty && got == want,
      s"streamed bm25 serve diverged from batch (${got.size} vs ${want.size} rows)")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    org.apache.commons.io.FileUtils.deleteQuietly(ckpt.toFile)
  }

  test("ann ingest: reader racing the manifested commits always sees complete code sets; final serve == batch upsert") {
    val sf = "/root/testdata/sf0.001"
    val emb = graft.sources.Tables(spark, sf, "embeddings")
    val codesDir = IndexLifecycle.Ann.tableDir("codes", sf)
    // reader thread: from the moment the codes table exists, every
    // resolved snapshot must be COMPLETE — every visible vector carries
    // exactly m=8 subspace codes (a partially-written batch visible
    // through the manifest would surface as a vec_id with < 8 rows),
    // and whole snapshots only ever grow (commits append, never tear)
    @volatile var stop = false
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val sizes = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val reader = new Thread(() => {
      while (!stop) {
        if (graft.operators.Warehouse.snapshots(codesDir).nonEmpty) {
          try {
            val snap = graft.operators.Warehouse
              .withManifested(spark, codesDir) { df =>
                df.groupBy(col("vec_id")).count()
                  .agg(count(lit(1)).as("n_vec"),
                    sum(when(col("count") =!= 8, 1).otherwise(0)).as("n_partial"))
                  .head()
              }
            if (snap.getLong(1) != 0L)
              failures.add(s"${snap.getLong(1)} vectors with partial code sets")
            sizes.add(snap.getLong(0))
          } catch { case e: Throwable =>
            // capture ground truth for the flake postmortem (r18
            // judge run hit one failure here): what the dir REALLY
            // held at failure time names the mechanism
            val ls = Option(new java.io.File(codesDir).list())
              .map(_.sorted.mkString(",")).getOrElse("<dir absent>")
            failures.add(s"read failed: ${e.getClass.getName}: " +
              s"${e.getMessage} [dir: $ls]")
          }
        }
      }
    })
    reader.start()
    val got = try IndexLifecycle.ingest(spark, sf, IndexLifecycle.Ann)
      .orderBy("q_id", "rk").collect().toSeq
    finally { stop = true; reader.join(30000) }
    assert(failures.isEmpty, s"racing reader hit: ${failures.asScala.toSeq.take(3)}")
    assert(!sizes.isEmpty, "reader never resolved a snapshot during the run")
    // snapshots grow monotonically in arrival order (append-only commits)
    val seen = sizes.asScala.toSeq
    assert(seen.zip(seen.tail).forall { case (a, b) => b >= a },
      s"snapshot sizes regressed: $seen")
    // the final post-commit serve is EXACTLY the batch s17 answer
    val want = Similarity.pqIndexUpsertFromBase(emb,
        Similarity.cachedIndex("pqbase", sf)(d =>
          Similarity.buildPqIndex(emb.filter(col("vec_id") % 10 =!= 0), d)))
      .orderBy("q_id", "rk").collect().toSeq
    assert(got == want, s"streamed ingest diverged from batch upsert")
    checkCompaction(IndexLifecycle.Ann, sf, got)
  }

  test("bm25 ingest: postings and doclens list 3 generations, 1 after compaction; compacted serve == ingest serve") {
    val sf = "/root/testdata/sf0.001"
    val got = IndexLifecycle.ingest(spark, sf, IndexLifecycle.Bm25)
      .orderBy("q_id", "rk").collect().toSeq
    assert(got.nonEmpty, "streamed bm25 ingest served nothing")
    checkCompaction(IndexLifecycle.Bm25, sf, got)
  }

  /** Maintenance (st23/st26), after an ingest that served `ingested`:
    * every grown relation's manifest lists one generation per commit
    * (base seed + 2 batches), compaction folds each to ONE, and the
    * compacted serve returns exactly what the ingest served. */
  private def checkCompaction(ix: IndexLifecycle.Index, sf: String,
                              ingested: Seq[Row]): Unit = {
    // generation lines only — `#stats:`/`#txn:` lines are manifest
    // METADATA, not generations (the format contract)
    def gensListed(rel: String) = {
      val dir = ix.tableDir(rel, sf)
      Files.readString(java.nio.file.Paths.get(dir,
        s"_manifest-${graft.operators.Warehouse.snapshots(dir).last}"))
        .trim.split("\n").count(!_.startsWith("#"))
    }
    for (rel <- ix.grown)
      assert(gensListed(rel) == 3, s"$rel: expected 3 listed generations, got ${gensListed(rel)}")
    val compacted = IndexLifecycle.compactedServe(spark, sf, ix)
      .orderBy("q_id", "rk").collect().toSeq
    for (rel <- ix.grown)
      assert(gensListed(rel) == 1,
        s"$rel: compaction should leave one listed generation, got ${gensListed(rel)}")
    assert(compacted == ingested, "compaction changed served results")
  }

  /** Names in `dir` starting with `prefix`. */
  private def entries(dir: java.nio.file.Path, prefix: String): Set[String] = {
    val ls = Files.list(dir)
    try ls.iterator().asScala.map(_.getFileName.toString).filter(_.startsWith(prefix)).toSet
    finally ls.close()
  }

  test("runner error path: a throwing foreachBatch body propagates, stops the query, deletes its checkpoint") {
    val ckptsBefore = entries(EventStreams.scratchBase, "graft_ckpt")
    val boom = new IllegalStateException("foreachBatch body failed")
    val scoped = EventStreams.scopedSession(spark)
    val e = intercept[Exception] {
      EventStreams.runForeachBatch(
        EventStreams.readEventStream(scoped, "/root/testdata/sf0.001")) { (_, _) => throw boom }
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).exists(_ eq boom),
      s"the body's exception is not in the cause chain of $e")
    assert(scoped.streams.active.isEmpty && spark.streams.active.isEmpty,
      "a failed run left a query active")
    val leaked = entries(EventStreams.scratchBase, "graft_ckpt") -- ckptsBefore
    assert(leaked.isEmpty, s"a failed run left checkpoints behind: $leaked")
  }

  test("readEventStream re-stages a same-basename sf dir holding different events") {
    import spark.implicits._
    val roots = Seq.fill(2)(Files.createTempDirectory("graft-stage-spec"))
    def sfDir(root: java.nio.file.Path, ids: Seq[Long]): String = {
      val tmp = root.resolve("w").toString
      ids.map(id => (id, (1700000000000000L + id) * 1000L, 1L, "view", 1.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
      val sf = Files.createDirectories(root.resolve("sf_same"))
      Files.move(part.toPath, sf.resolve("events.parquet"))
      sf.toString
    }
    def streamedIds(dir: String, name: String): Seq[Long] =
      EventStreams.runBounded(spark, name,
        s => EventStreams.readEventStream(s, dir).select(col("event_id")), "append")
        .collect().map(_.getLong(0)).toSeq.sorted
    try {
      val first = sfDir(roots(0), Seq(1L, 2L, 3L))
      val second = sfDir(roots(1), Seq(10L, 11L))
      assert(streamedIds(first, "stage_spec_first") == Seq(1L, 2L, 3L))
      assert(streamedIds(second, "stage_spec_second") == Seq(10L, 11L),
        "the second sf dir streamed the first one's staged events")
    } finally roots.foreach(r => org.apache.commons.io.FileUtils.deleteQuietly(r.toFile))
  }

  test("st07 leaves no graft_st07 root in java.io.tmpdir") {
    val tmp = java.nio.file.Paths.get(sys.props("java.io.tmpdir"))
    val before = entries(tmp, "graft_st07")
    val rows = graft.streaming.StreamingQueries.queries("st07_stream_sink_parquet")(
      spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    val leaked = entries(tmp, "graft_st07") -- before
    assert(leaked.isEmpty, s"st07 left its root behind: $leaked")
  }

  test("CDC apply: final state invariant under batch split and order") {
    import graft.streaming.CdcApply
    val events = graft.sources.Tables(spark, "/root/testdata/sf0.001", "events")
    def finalState(parts: Seq[org.apache.spark.sql.DataFrame]): Seq[Row] = {
      val dir = Files.createTempDirectory("graft_cdc_spec").resolve("st").toString
      parts.foreach(CdcApply.applyBatch(_, dir))
      CdcApply.readState(spark, dir).orderBy("user_id").collect().toSeq
    }
    val oneShot = finalState(Seq(events))
    // split by event-id parity, applied in BOTH orders: the LWW register
    // must land on the same table regardless of batch partitioning
    val odd = events.filter(col("event_id") % 2 === 1)
    val even = events.filter(col("event_id") % 2 === 0)
    assert(finalState(Seq(odd, even)) == oneShot)
    assert(finalState(Seq(even, odd)) == oneShot)
  }

  test("CDC onto the manifested table: same final state as the dir-swap loop, any batch split") {
    // the r13 state-table upgrade must be INVISIBLE in the result:
    // atomic MERGE commits (and a mid-sequence compaction) land on
    // exactly the rows the st11 dir-swap loop produces
    import graft.streaming.CdcApply
    val W = graft.operators.Warehouse
    val events = graft.sources.Tables(spark, "/root/testdata/sf0.001", "events")
    def finalState(parts: Seq[org.apache.spark.sql.DataFrame]): Seq[Row] = {
      val dir = Files.createTempDirectory("graft_cdcm_spec").resolve("t").toString
      parts.zipWithIndex.foreach { case (p, i) =>
        val vBefore = W.snapshots(dir).lastOption.getOrElse(0L)
        CdcApply.applyBatchManifested(p, dir)
        // ATOMICITY pin (r14): each batch is exactly ONE manifest
        // version — the v10 single-pointer-swap artifact, now under
        // the stream. A delete+append pair would commit two and
        // expose the deleted-but-not-reinserted middle between them.
        assert(W.snapshots(dir).last == vBefore + 1,
          s"batch $i committed ${W.snapshots(dir).last - vBefore} versions, want 1")
        // a compaction BETWEEN batches must not change the state
        if (i == 0 && parts.length > 1)
          W.compactManifested(spark, dir, targetFileBytes = 1L << 30)
      }
      W.readManifested(spark, dir)
        .select(col("user_id"), col("s.ts_us"), col("s.event_id"),
          col("s.event_type"), col("s.value_q"))
        .orderBy("user_id").collect().toSeq
    }
    def dirSwap(parts: Seq[org.apache.spark.sql.DataFrame]): Seq[Row] = {
      val dir = Files.createTempDirectory("graft_cdcm_ref").resolve("st").toString
      parts.foreach(CdcApply.applyBatch(_, dir))
      CdcApply.readState(spark, dir).orderBy("user_id").collect().toSeq
    }
    val want = dirSwap(Seq(events))
    val odd = events.filter(col("event_id") % 2 === 1)
    val even = events.filter(col("event_id") % 2 === 0)
    assert(finalState(Seq(events)) == want)
    assert(finalState(Seq(odd, even)) == want)
    assert(finalState(Seq(even, odd)) == want)
    // CHECKPOINT-REPLAY idempotence (r14): a foreachBatch re-fired
    // after a crash re-applies its batch against the committed
    // post-batch state. With the atomic one-commit merge the retry
    // re-reads COMPLETE state (never a tombstoned middle), so
    // greatest(s, s) = s re-appends byte-identical rows — the replayed
    // sequence must land on exactly the non-replayed table
    assert(finalState(Seq(odd, even, even)) == want,
      "a replayed batch changed the table content")
    // EXACTLY-ONCE (r14): with txn versions (the streaming loop passes
    // its checkpoint-tracked batchId) the replay is a true NO-OP — not
    // just content-idempotent: the version count is unchanged, so a
    // restart storm can never bloat the manifest trail
    val xdir = Files.createTempDirectory("graft_cdcx_spec").resolve("t").toString
    CdcApply.applyBatchManifested(odd, xdir, Some(0L))
    CdcApply.applyBatchManifested(even, xdir, Some(1L))
    val vs = W.snapshots(xdir)
    CdcApply.applyBatchManifested(even, xdir, Some(1L)) // the replay
    assert(W.snapshots(xdir) == vs, "a replayed txn batch committed a version")
    assert(W.readManifested(spark, xdir)
      .select(col("user_id"), col("s.ts_us"), col("s.event_id"),
        col("s.event_type"), col("s.value_q"))
      .orderBy("user_id").collect().toSeq == want)
  }

  test("CDC onto the SHARDED manifested root: same final state, root version maps, exactly-once replay") {
    // the third state mechanism under the one LWW contract: state
    // hash-sharded into shard=<k> leaves, every batch one lockstep
    // upsertManifestedPartitioned commit under the batchId txn marker
    import graft.streaming.CdcApply
    val W = graft.operators.Warehouse
    val events = graft.sources.Tables(spark, "/root/testdata/sf0.001", "events")
    val want = {
      val dir = Files.createTempDirectory("graft_cdcs_ref").resolve("st").toString
      CdcApply.applyBatch(events, dir)
      CdcApply.readState(spark, dir).orderBy("user_id").collect().toSeq
    }
    val odd = events.filter(col("event_id") % 2 === 1)
    val even = events.filter(col("event_id") % 2 === 0)
    val root = Files.createTempDirectory("graft_cdcs_spec").resolve("t").toString
    CdcApply.applyBatchManifestedPartitioned(odd, root, nShards = 4, Some(0L))
    CdcApply.applyBatchManifestedPartitioned(even, root, nShards = 4, Some(1L))
    def flat() = W.readManifestedPartitioned(spark, root)
      .select(col("user_id"), col("s.ts_us"), col("s.event_id"),
        col("s.event_type"), col("s.value_q"))
      .orderBy("user_id").collect().toSeq
    assert(flat() == want, "sharded state diverged from the LWW contract")
    // all 4 shards exist (empty ones bootstrapped too) and every ROOT
    // snapshot's version map covers all of them — the r16 contract
    // (only touched shards commit; the map records the rest)
    val leaves = new java.io.File(root).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("shard=")).map(_.getName)
    assert(leaves.sorted.toSeq == (0 until 4).map(k => s"shard=$k"))
    assert(W.rootSnapshots(root).nonEmpty)
    // a replayed batch no-ops EVERYWHERE: no leaf version moves and no
    // root snapshot is published
    val versions = leaves.map(l => s"$l" -> W.snapshots(s"$root/$l").last).toMap
    val rvs = W.rootSnapshots(root)
    CdcApply.applyBatchManifestedPartitioned(even, root, nShards = 4, Some(1L))
    assert(leaves.map(l => s"$l" -> W.snapshots(s"$root/$l").last).toMap == versions,
      "a replayed sharded batch committed somewhere")
    assert(W.rootSnapshots(root) == rvs,
      "a replayed sharded batch published a root snapshot")
    assert(flat() == want)
    // per-root-version time travel resolves through the maps: v1 = the
    // migration anchor (the empty bootstrap), v2 = the odd batch's
    // merge — untouched shards resolve at their recorded prior head
    assert(W.readManifestedPartitionedAt(spark, root, 1L).count() == 0L)
    assert(W.readManifestedPartitionedAt(spark, root, 2L).count() ==
      odd.select(col("user_id")).distinct().count())
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(root).getParentFile)
  }

  test("sharded CDC bootstrap: crash mid-bootstrap replays idempotently; remote-scheme roots detect state") {
    import graft.streaming.CdcApply
    val W = graft.operators.Warehouse
    val events = graft.sources.Tables(spark, "/root/testdata/sf0.001", "events")
    val want = {
      val dir = Files.createTempDirectory("graft_cdcb_ref").resolve("st").toString
      CdcApply.applyBatch(events, dir)
      CdcApply.readState(spark, dir).orderBy("user_id").collect().toSeq
    }
    val odd = events.filter(col("event_id") % 2 === 1)
    val even = events.filter(col("event_id") % 2 === 0)

    // (1) crash mid-bootstrap: only shard=0 was created before the
    // process died (simulated by hand-bootstrapping one leaf). The
    // replay must create exactly the missing leaves and route batch 0
    // through the marker-gated upsert — r14 took the upsert path on
    // shard=0-exists and died on the missing leaves.
    val root = Files.createTempDirectory("graft_cdcb_spec").resolve("t").toString
    W.appendManifested(spark, s"$root/shard=0",
      odd.limit(0).select(col("user_id"),
        org.apache.spark.sql.functions.struct(
          unix_micros(col("ts")).as("ts_us"), col("event_id"),
          col("event_type"), lit(0L).as("value_q")).as("s"))
        .repartition(1), genId = Some(0L))
    CdcApply.applyBatchManifestedPartitioned(odd, root, nShards = 4, Some(0L))
    CdcApply.applyBatchManifestedPartitioned(even, root, nShards = 4, Some(1L))
    def flat(r: String) = W.readManifestedPartitioned(spark, r)
      .select(col("user_id"), col("s.ts_us"), col("s.event_id"),
        col("s.event_type"), col("s.value_q"))
      .orderBy("user_id").collect().toSeq
    assert(flat(root) == want, "crash-mid-bootstrap replay diverged")
    // every shard is committed and the root publishes version maps
    (0 until 4).foreach(k => assert(W.snapshots(s"$root/shard=$k").nonEmpty))
    assert(W.rootSnapshots(root).nonEmpty)
    // a bootstrapped shard's first manifest inventories its `.gen-0`
    // files as `#file:` lines, so a range read of a fresh shard plans
    // without listing the generation
    (1 until 4).foreach { k =>
      val leaf = java.nio.file.Paths.get(root, s"shard=$k")
      val inventory = java.nio.file.Files.readString(leaf.resolve("_manifest-1"))
        .split("\n").filter(_.startsWith("#file:.gen-0/"))
        .map(_.stripPrefix("#file:.gen-0/")).toSet
      val onDisk = leaf.resolve(".gen-0").toFile.listFiles()
        .map(_.getName).filter(_.endsWith(".parquet")).toSet
      assert(inventory.nonEmpty && inventory == onDisk,
        s"shard=$k: manifest lists $inventory, .gen-0 holds $onDisk")
    }

    // (2) the r14 bootstrap probe ran java.nio on the LOCAL fs — on any
    // non-local scheme it was always false, so EVERY batch re-appended
    // (duplicate keys, no tombstones). On the hdfslike scheme the fixed
    // probe resolves through the Hadoop FS: batch 2 must SEE batch 1's
    // state and merge, not append beside it.
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.hdfslike.impl", classOf[HdfsLikeFileSystem].getName)
    val local = Files.createTempDirectory("graft_cdcb_remote")
    val rroot = s"hdfslike://$local/t"
    CdcApply.applyBatchManifestedPartitioned(odd, rroot, nShards = 4, Some(0L))
    CdcApply.applyBatchManifestedPartitioned(even, rroot, nShards = 4, Some(1L))
    assert(flat(rroot) == want, "remote-scheme root re-bootstrapped per batch")
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(root).getParentFile)
    org.apache.commons.io.FileUtils.deleteQuietly(local.toFile)
  }

  test("per-batch marker retirement: the moving horizon seals and shrinks mid-stream; a violated lag re-exposes exactly as documented") {
    import graft.streaming.CdcApply
    val W = graft.operators.Warehouse
    val sp = spark; import sp.implicits._
    def batch(rows: (Long, Long, Long, String, Double)*) =
      rows.toSeq.toDF("event_id", "tus", "user_id", "event_type", "value")
        .withColumn("ts", timestamp_micros(col("tus"))).drop("tus")
    val dir = Files.createTempDirectory("graft_cdcwm").resolve("t").toString
    // batch 0: DELETE k1@10, upsert k2@20
    CdcApply.applyBatchManifested(
      batch((100L, 10L, 1L, "error", 0.0), (101L, 20L, 2L, "view", 1.0)),
      dir, Some(0L))
    // per-batch retirement at horizon 15 (= watermark after batch 0
    // under a suitable lag): the k1 marker (ts 10 < 15) is sealed and
    // retires mid-stream — state PHYSICALLY shrinks under the live
    // stream, not only at end-of-stream
    assert(CdcApply.retireDeleteMarkers(spark, dir, Set("error"), Some(15L)) == 1L)
    W.compactManifested(spark, dir, targetFileBytes = 1L << 30)
    assert(W.readManifested(spark, dir).count() == 1L,
      "mid-stream retirement did not shrink the state")
    // the documented re-exposure: an upsert BELOW the horizon arriving
    // AFTER retirement (the lag promise was violated by the feed)
    // finds no marker and re-inserts — the caller-owned retention
    // contract, same as every log-compacted store
    CdcApply.applyBatchManifested(batch((99L, 5L, 1L, "view", 2.0)),
      dir, Some(1L))
    assert(CdcApply.readLiveState(spark, dir, Set("error"))
      .select("user_id").as[Long].collect().toSet == Set(1L, 2L),
      "a retired marker must re-expose its key (the documented contract)")
    // an UNSEALED marker (ts above the horizon) survives retirement
    // and still beats a late earlier-ts upsert
    CdcApply.applyBatchManifested(batch((102L, 40L, 2L, "error", 0.0)),
      dir, Some(2L))
    assert(CdcApply.retireDeleteMarkers(spark, dir, Set("error"), Some(30L)) == 0L)
    CdcApply.applyBatchManifested(batch((98L, 35L, 2L, "view", 3.0)),
      dir, Some(3L))
    assert(CdcApply.readLiveState(spark, dir, Set("error"))
      .select("user_id").as[Long].collect().toSet == Set(1L),
      "an unsealed marker must keep suppressing late upserts")
    // the full loop with the per-batch hook wired (one-file source =
    // one batch; the hook must not disturb the end-of-stream contract)
    val want = {
      val d2 = Files.createTempDirectory("graft_cdcwm_ref").resolve("st").toString
      val events = graft.sources.Tables(spark, "/root/testdata/sf0.001", "events")
      CdcApply.applyBatch(events, d2)
      CdcApply.readState(spark, d2).filter(col("event_type") =!= "error")
        .orderBy("user_id").collect().toSeq
    }
    val table = Files.createTempDirectory("graft_cdcwm_loop").resolve("t").toString
    val got = CdcApply.runCdcApplyManifestedDeletes(spark,
      "/root/testdata/sf0.001", table, Set("error"), sealLagUs = 0L)
      .orderBy("user_id").collect().toSeq
    assert(got == want, "per-batch retirement diverged from the st29 contract")
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(dir).getParentFile)
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(table).getParentFile)
  }

  test("sharded CDC: a shard whose trail was folded past v1 is never re-bootstrapped into an empty shard") {
    // the ADVICE-high window: compaction (retainSnapshots=1) GC'd
    // _manifest-1 of shard=0. The r15 bootstrap probe keyed off a
    // pointer file's existence; a leaf it saw as 'missing' had its
    // empty .gen-0 commit WIN putIfAbsent on the GC'd _manifest-1,
    // silently resetting the shard's LWW state. The committed-head
    // probe reads the trail, which still holds the folded head.
    import graft.streaming.CdcApply
    val W = graft.operators.Warehouse
    val events = graft.sources.Tables(spark, "/root/testdata/sf0.001", "events")
    val odd = events.filter(col("event_id") % 2 === 1)
    val even = events.filter(col("event_id") % 2 === 0)
    // one tiny batch 2: it must NOT be able to rebuild shard=0's state
    // by itself — survival of the other keys proves no reset
    val tiny = events.orderBy(col("event_id")).limit(1)
    val want = {
      val dir = Files.createTempDirectory("graft_cdcr_ref").resolve("st").toString
      CdcApply.applyBatch(events, dir)
      CdcApply.readState(spark, dir).orderBy("user_id").collect().toSeq
    }
    val root = Files.createTempDirectory("graft_cdcr_spec").resolve("t").toString
    CdcApply.applyBatchManifestedPartitioned(odd, root, nShards = 4, Some(0L))
    CdcApply.applyBatchManifestedPartitioned(even, root, nShards = 4, Some(1L))
    // fold: retention GCs the early per-leaf manifests (incl. v1)
    W.compactManifestedPartitioned(spark, root, targetFileBytes = 1L << 30)
    val leaf = java.nio.file.Paths.get(root, "shard=0")
    assert(!java.nio.file.Files.exists(leaf.resolve("_manifest-1")),
      "precondition: _manifest-1 must be GC'd for the window to exist")
    assert(W.snapshots(leaf.toString).nonEmpty, "precondition: shard=0 has a trail")
    CdcApply.applyBatchManifestedPartitioned(tiny, root, nShards = 4, Some(2L))
    val got = W.readManifestedPartitioned(spark, root)
      .select(col("user_id"), col("s.ts_us"), col("s.event_id"),
        col("s.event_type"), col("s.value_q"))
      .orderBy("user_id").collect().toSeq
    assert(got == want,
      "shard state was reset by a re-bootstrap")
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(root).getParentFile)
  }

  test("CDC deletes: markers beat out-of-order upserts, later re-upserts re-insert, retirement physically shrinks state") {
    import graft.streaming.CdcApply
    val W = graft.operators.Warehouse
    val sp = spark; import sp.implicits._
    def batch(rows: (Long, Long, Long, String, Double)*) =
      rows.toSeq.toDF("event_id", "tus", "user_id", "event_type", "value")
        .withColumn("ts", timestamp_micros(col("tus"))).drop("tus")
    def live(dir: String) = CdcApply.readLiveState(spark, dir, Set("error"))
      .select("user_id").as[Long].collect().toSet
    val dir = Files.createTempDirectory("graft_cdcdel").resolve("t").toString

    // batch 0: DELETE k1@10 (an 'error' event), upsert k2@10
    CdcApply.applyBatchManifested(
      batch((100L, 10L, 1L, "error", 0.0), (101L, 10L, 2L, "view", 1.0)),
      dir, Some(0L))
    assert(live(dir) == Set(2L), "marker visible in the live view")
    // batch 1 — OUT OF ORDER: an EARLIER-ts upsert of k1 arrives in a
    // LATER batch. A per-batch tombstone route would have dropped the
    // delete from state and resurrected the key; the retained marker
    // wins the max-struct merge instead.
    CdcApply.applyBatchManifested(batch((99L, 5L, 1L, "view", 2.0)),
      dir, Some(1L))
    assert(live(dir) == Set(2L),
      "out-of-order earlier-ts upsert resurrected a deleted key")
    // batch 2: a LATER-ts re-upsert genuinely re-inserts k1
    CdcApply.applyBatchManifested(batch((102L, 20L, 1L, "purchase", 3.0)),
      dir, Some(2L))
    assert(live(dir) == Set(1L, 2L))
    // batch 3: DELETE k2@30 — its marker is now the winner
    CdcApply.applyBatchManifested(batch((103L, 30L, 2L, "error", 0.0)),
      dir, Some(3L))
    assert(live(dir) == Set(1L))
    assert(W.readManifested(spark, dir).count() == 2L,
      "the unsealed marker must stay IN state (retention)")

    // retirement honors the sealed horizon: the k2 marker (ts 30) is
    // not sealed below 25 — nothing retires
    assert(CdcApply.retireDeleteMarkers(spark, dir, Set("error"), Some(25L)) == 0L)
    assert(W.readManifested(spark, dir).count() == 2L)
    // full horizon: the marker retires to the tombstone side; the
    // compaction materializes the shrink — state is PHYSICALLY smaller
    assert(CdcApply.retireDeleteMarkers(spark, dir, Set("error")) == 1L)
    W.compactManifested(spark, dir, targetFileBytes = 1L << 30)
    val finalRows = W.readManifested(spark, dir)
      .select(col("user_id"), col("s.event_id").as("eid"))
      .as[(Long, Long)].collect().toSet
    assert(finalRows == Set((1L, 102L)),
      s"unfiltered state after retirement: $finalRows")
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(dir).getParentFile)
  }

  test("CDF mirror: feed consumer replicates the table; replayed windows no-op; fold windows commit nothing; deletes propagate") {
    import graft.streaming.{CdcApply, ChangeFeedStream}
    val W = graft.operators.Warehouse
    val sp = spark; import sp.implicits._
    val root = Files.createTempDirectory("graft_cdfm")
    val src = root.resolve("src").toString
    val mirror = root.resolve("mirror").toString
    def stateOf(dir: String) = W.readManifested(spark, dir)
      .select(col("user_id"), col("s.ts_us"), col("s.event_id"),
        col("s.event_type"), col("s.value_q"))
      .as[(Long, Long, Long, String, Long)].collect().toSet
    def batch(rows: (Long, Long, Long, String, Double)*) =
      rows.toSeq.toDF("event_id", "tus", "user_id", "event_type", "value")
        .withColumn("ts", timestamp_micros(col("tus"))).drop("tus")

    // the full loop: writer + zero-lag tailing consumer
    ChangeFeedStream.runCdfMirror(spark, "/root/testdata/sf0.001", src, mirror)
    assert(stateOf(mirror) == stateOf(src),
      "mirror diverged from the table it follows")
    val head1 = W.snapshots(src).last

    // a follow-up source commit: one UPDATE of an existing key (huge
    // ts wins LWW) + one brand-new INSERT key
    val existing = stateOf(src).head._1
    CdcApply.applyBatchManifested(
      batch((900000L, 9_000_000_000_000_000L, existing, "view", 5.0),
        (900001L, 9_000_000_000_000_000L, 999999L, "view", 7.0)),
      src, Some(1000L))
    val head2 = W.snapshots(src).last
    val applied = ChangeFeedStream.consumeWindow(
      spark, src, mirror, "user_id", head1, head2)
    assert(applied == 2L, s"expected the update + insert, applied $applied")
    assert(stateOf(mirror) == stateOf(src))
    val mv = W.snapshots(mirror).last

    // EXACTLY-ONCE: the crash-replayed window no-ops — content AND
    // version-for-version (the markers gate both commits)
    ChangeFeedStream.consumeWindow(spark, src, mirror, "user_id", head1, head2)
    assert(W.snapshots(mirror).last == mv,
      "a replayed window committed again instead of no-opping")
    assert(stateOf(mirror) == stateOf(src))

    // NET DELETE propagation (the CDC writer loop never nets one —
    // this path needs its own pin)
    W.deleteManifested(spark, src, Seq(999999L).toDF("user_id"))
    val head3 = W.snapshots(src).last
    ChangeFeedStream.consumeWindow(spark, src, mirror, "user_id", head2, head3)
    assert(stateOf(mirror) == stateOf(src),
      "the delete did not propagate to the mirror")
    assert(!stateOf(mirror).exists(_._1 == 999999L))

    // a skipped-window delete against an EMPTY mirror refuses loudly
    // instead of silently dropping the retraction (before the fold —
    // its GC retires _manifest-head2)
    val mirror2 = root.resolve("mirror2").toString
    val e = intercept[IllegalArgumentException] {
      ChangeFeedStream.consumeWindow(spark, src, mirror2, "user_id", head2, head3)
    }
    assert(e.getMessage.contains("skipped earlier windows"))

    // a FOLD-ONLY window nets zero rows and commits NOTHING — the
    // mirror's version history advances only when data changed
    val mv3 = W.snapshots(mirror).last
    W.compactManifested(spark, src, targetFileBytes = 1L << 30)
    val head4 = W.snapshots(src).last
    assert(head4 > head3, "precondition: the fold must commit a version")
    assert(ChangeFeedStream.consumeWindow(
      spark, src, mirror, "user_id", head3, head4) == 0L)
    assert(W.snapshots(mirror).last == mv3,
      "a fold-only window committed downstream")
    assert(stateOf(mirror) == stateOf(src))
    org.apache.commons.io.FileUtils.deleteQuietly(root.toFile)
  }

  test("partitioned CDF mirror: clone-then-tail replication; exactly-once; adopted partitions propagate; fold windows commit nothing") {
    import graft.streaming.{CdcApply, ChangeFeedStream}
    val W = graft.operators.Warehouse
    val sp = spark; import sp.implicits._
    val root = Files.createTempDirectory("graft_cdfmp")
    val src = root.resolve("src").toString
    val mirror = root.resolve("mirror").toString
    def stateOf(dir: String) = W.readManifestedPartitioned(spark, dir)
      .select(col("user_id"), col("s.ts_us"), col("s.event_id"),
        col("s.event_type"), col("s.value_q"))
      .as[(Long, Long, Long, String, Long)].collect().toSet
    def batch(rows: (Long, Long, Long, String, Double)*) =
      rows.toSeq.toDF("event_id", "tus", "user_id", "event_type", "value")
        .withColumn("ts", timestamp_micros(col("tus"))).drop("tus")

    // full loop: sharded writer + partitioned tailing consumer
    ChangeFeedStream.runCdfMirrorPartitioned(spark, "/root/testdata/sf0.001",
      src, mirror)
    assert(stateOf(mirror) == stateOf(src),
      "mirror diverged from the sharded table it follows")
    val h1 = W.rootSnapshots(src).last

    // incremental window: update an existing key + insert a new one
    val existing = stateOf(src).head._1
    CdcApply.applyBatchManifestedPartitioned(
      batch((910000L, 9_000_000_000_000_000L, existing, "view", 5.0),
        (910001L, 9_000_000_000_000_000L, 888888L, "view", 7.0)),
      src, nShards = 4, Some(1000L))
    val h2 = W.rootSnapshots(src).last
    assert(ChangeFeedStream.consumeWindowPartitioned(
      spark, src, mirror, "user_id", h1, h2) == 2L)
    assert(stateOf(mirror) == stateOf(src))
    val mv = W.rootSnapshots(mirror).last

    // exactly-once: a replayed window spends no mirror root version
    ChangeFeedStream.consumeWindowPartitioned(
      spark, src, mirror, "user_id", h1, h2)
    assert(W.rootSnapshots(mirror).last == mv,
      "a replayed window committed again instead of no-opping")
    assert(stateOf(mirror) == stateOf(src))

    // ADOPTION propagates: a brand-new partition appears at the source
    // inside the window; the feed delivers it as whole-snapshot
    // inserts and the mirror's upsert adopts the leaf itself
    val newPart = Seq((777777L, 9_000_000_000_000_000L, 920000L, "view", 9L))
      .toDF("user_id", "ts_us", "event_id", "event_type", "value_q")
      .select(col("user_id"),
        struct(col("ts_us"), col("event_id"), col("event_type"),
          col("value_q")).as("s"))
      .withColumn("shard", lit(9L))
    W.upsertManifestedPartitioned(spark, src, newPart, "user_id")
    val h3 = W.rootSnapshots(src).last
    ChangeFeedStream.consumeWindowPartitioned(
      spark, src, mirror, "user_id", h2, h3)
    assert(stateOf(mirror) == stateOf(src),
      "the adopted partition did not propagate")
    assert(java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(mirror, "shard=9")),
      "the mirror did not adopt the new leaf")

    // net delete propagates through the all-leaf tombstone commit
    W.deleteManifestedPartitioned(spark, src, Seq(888888L).toDF("user_id"))
    val h4 = W.rootSnapshots(src).last
    ChangeFeedStream.consumeWindowPartitioned(
      spark, src, mirror, "user_id", h3, h4)
    assert(stateOf(mirror) == stateOf(src))
    assert(!stateOf(mirror).exists(_._1 == 888888L))

    // fold-only window: nets zero rows, commits nothing downstream
    val mv4 = W.rootSnapshots(mirror).last
    W.compactManifestedPartitioned(spark, src, targetFileBytes = 1L << 30)
    val h5 = W.rootSnapshots(src).last
    assert(h5 > h4, "precondition: the fold must commit a root version")
    assert(ChangeFeedStream.consumeWindowPartitioned(
      spark, src, mirror, "user_id", h4, h5) == 0L)
    assert(W.rootSnapshots(mirror).last == mv4,
      "a fold-only window committed downstream")
    assert(stateOf(mirror) == stateOf(src))
    org.apache.commons.io.FileUtils.deleteQuietly(root.toFile)
  }

  test("standalone CDF consumer: late start, crash, restart from the mirror's durable cursor") {
    import spark.implicits._
    val W = graft.operators.Warehouse
    val CF = graft.streaming.ChangeFeedStream
    val base = Files.createTempDirectory("graft_cdfc")
    val src = base.resolve("src").toString
    val mir = base.resolve("mirror").toString
    def df(rows: (Long, String)*) = rows.toSeq.toDF("user_id", "s")
    def state(d: String) = W.readManifested(spark, d)
      .select(col("user_id"), col("s")).as[(Long, String)].collect().toSet
    def awaitCursor(target: Long): Unit = {
      val deadline = System.nanoTime() + 60_000_000_000L
      while (CF.cdfCursor(mir) < target && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(CF.cdfCursor(mir) >= target,
        s"consumer never caught up to $target (cursor ${CF.cdfCursor(mir)})")
    }

    // several writer commits BEFORE any consumer process exists —
    // including a delete, which the late catch-up must still reflect
    W.appendManifested(spark, src, df((1L, "a"), (2L, "b")))
    W.upsertManifested(spark, src, df((2L, "b2"), (3L, "c")), "user_id")
    W.deleteManifested(spark, src, Seq(1L).toDF("user_id"))
    val h1 = W.snapshots(src).last

    // consumer starts LATE, with its own polling trigger, catches up
    // in one accumulated window
    val c1 = CF.startCdfConsumer(spark, src, mir, "user_id",
      pollIntervalMs = 25)
    awaitCursor(h1)
    assert(state(mir) == state(src))
    assert(state(mir) == Set((2L, "b2"), (3L, "c")))

    // CRASH (no drain, in-memory cursor lost); the writer keeps going
    c1.crash()
    W.upsertManifested(spark, src, df((3L, "c2"), (4L, "d")), "user_id")
    W.deleteManifested(spark, src, Seq(2L).toDF("user_id"))
    val h2 = W.snapshots(src).last

    // RESTART: a fresh consumer resumes from the mirror's #txn:
    // markers (the durable cursor) and converges — replay-safe,
    // skip-free
    val c2 = CF.startCdfConsumer(spark, src, mir, "user_id",
      pollIntervalMs = 25)
    awaitCursor(h2)
    c2.stop()
    assert(c2.failed.isEmpty, s"consumer error: ${c2.failed}")
    assert(state(mir) == state(src))
    assert(state(mir) == Set((3L, "c2"), (4L, "d")))

    // a third restart with nothing new to consume applies nothing:
    // the mirror's version history is untouched
    val mv = W.snapshots(mir).last
    val c3 = CF.startCdfConsumer(spark, src, mir, "user_id",
      pollIntervalMs = 25)
    Thread.sleep(400)
    c3.stop()
    assert(c3.failed.isEmpty)
    assert(W.snapshots(mir).last == mv,
      "an idle consumer committed to the mirror")
    org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
  }

  test("change-feed window guards: empty first window spends no mirror version; partitioned skip refuses loudly") {
    import spark.implicits._
    val W = graft.operators.Warehouse
    val CF = graft.streaming.ChangeFeedStream
    val base = Files.createTempDirectory("graft_cfguard")
    def df(rows: (Long, String)*) = rows.toSeq.toDF("user_id", "s")

    // LEAF: a fold-only window consumed by a FRESH mirror must commit
    // nothing at all (r20 ADVICE — the first-contact schema append
    // used to spend a version on a zero-row window)
    val src = base.resolve("src").toString
    val mir = base.resolve("mirror").toString
    W.appendManifested(spark, src, df((1L, "a")))
    val v1 = W.snapshots(src).last
    W.compactManifested(spark, src, targetFileBytes = 1L << 30,
      retainSnapshots = 10)
    val v2 = W.snapshots(src).last
    assert(CF.consumeWindow(spark, src, mir, "user_id", v1, v2) == 0L)
    assert(W.snapshots(mir).isEmpty,
      "a zero-row window spent a mirror version on first contact")
    // the next real window still lands exactly-once from version 1
    W.appendManifested(spark, src, df((2L, "b")))
    val v3 = W.snapshots(src).last
    assert(CF.consumeWindow(spark, src, mir, "user_id", v2, v3) == 1L)
    assert(W.readManifested(spark, mir).count() == 1L)

    // PARTITIONED: a delete-bearing window against a never-synced
    // mirror refuses loudly instead of silently no-oping the
    // retraction (r20 ADVICE — the guard the non-partitioned twin had)
    val proot = base.resolve("p").toString
    val pmir = base.resolve("pmirror").toString
    Seq((1L, "en", 1.0), (2L, "de", 2.0)).toDF("user_id", "lang", "x")
      .write.partitionBy("lang").parquet(proot)
    graft.operators.Warehouse.compactManifestedPartitioned(spark, proot,
      targetFileBytes = 1L << 30)
    val p1 = W.rootSnapshots(proot).last
    W.deleteManifestedPartitioned(spark, proot, Seq(1L).toDF("user_id"))
    val p2 = W.rootSnapshots(proot).last
    val e = intercept[IllegalArgumentException] {
      CF.consumeWindowPartitioned(spark, proot, pmir, "user_id", p1, p2)
    }
    assert(e.getMessage.contains("skipped the initial sync"))
    org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
  }
}
