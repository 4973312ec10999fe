package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery}
import org.apache.spark.sql.types._
import graft.operators.dsum

/** Structured Streaming surface over the events table: watermarked
  * tumbling/sliding windows, session windows, keyed dedup with state.
  *
  * Batch/stream parity: each transform here is the streaming twin of a
  * batch operator in `graft.operators.Events`, and the test suite runs
  * the stream over the same parquet (file source, `processAllAvailable`)
  * and asserts agreement with the batch result — the unified-API
  * guarantee Spark gives when the transform is expressible in both.
  *
  * Scale: watermarks bound state; windowed aggregates shuffle by
  * (window, key) exactly like their batch forms; `dropDuplicates` state
  * is bounded by the watermark horizon.
  */
object EventStreams {

  /** Parquet schema of events as written (ts = nanos int64). */
  val rawSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", LongType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** File-source stream over a scale-factor dir (ts normalized to the
    * engine's microsecond TimestampType, as in graft.sources.Tables).
    * The testdata ships `events.parquet` as a single FILE, so it is
    * read through [[stagedTable]].
    *
    * The testdata's ts column has shipped under two parquet
    * annotations across driver generations — TIMESTAMP(NANOS) (reads
    * as int64 nanos under the legacy conf) and TIMESTAMP(MICROS)
    * (reads as TIMESTAMP_NTZ) — so take the source file's inferred
    * schema from `Tables`' schema cache (the staged copy has the same
    * bytes; a cache hit starts no job) and parameterize the stream's
    * explicit schema + normalization accordingly; both paths land on
    * identical micros-truncated instants (session timezone pinned UTC). */
  def readEventStream(spark: SparkSession, dir: String): DataFrame = {
    val staged = stagedTable(dir, "events.parquet")
    graft.sources.Tables.schema(spark, s"$dir/events.parquet")("ts").dataType match {
      case LongType =>
        spark.readStream
          .schema(rawSchema)
          .parquet(staged)
          .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case tsType =>
        val sch = StructType(rawSchema.map(f =>
          if (f.name == "ts") f.copy(dataType = tsType) else f))
        spark.readStream
          .schema(sch)
          .parquet(staged)
          .withColumn("ts", col("ts").cast(TimestampType))
    }
  }

  /** Stages the single-file table `fileName` of scale-factor dir `dir`
    * into a directory the file stream source can monitor (Spark's
    * FileStreamSource only monitors directories; in production the
    * source would already be a directory of files) and returns that
    * directory. The file is hard-linked, or copied where a link fails.
    *
    * Staleness guard: the staged copy is reused only while its size AND
    * mtime still match the source (`Tables.Stamp.sameContent`, the
    * guard of the schema cache too). The staging dir is keyed by the sf
    * dir's basename, so testdata regenerated in place (a hard link to
    * the old inode would keep serving deleted data) and a second sf dir
    * with the same basename both re-stage on their next use. */
  private[streaming] def stagedTable(dir: String, fileName: String): String = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val src = Paths.get(dir, fileName)
    val staged = Paths.get(sys.props("java.io.tmpdir"),
      s"graft_stage_${fileName.stripSuffix(".parquet")}",
      Paths.get(dir).getFileName.toString)
    Files.createDirectories(staged)
    val dst = staged.resolve(fileName)
    val fresh = graft.sources.Tables.stamp(src).exists(s =>
      graft.sources.Tables.stamp(dst).exists(_.sameContent(s)))
    if (!fresh) {
      Files.deleteIfExists(dst)
      try Files.createLink(dst, src)
      catch { case _: Exception =>
        Files.copy(src, dst, StandardCopyOption.REPLACE_EXISTING,
          StandardCopyOption.COPY_ATTRIBUTES) }
    }
    staged.toString
  }

  /** Count–Min sketch as a STREAMING aggregate: the token stream folds
    * into one depth×width counter grid held in the state store — the
    * mergeable-summary property (element-wise-add merge) is exactly
    * what lets a sketch run under micro-batched, arbitrarily-partitioned
    * arrival and still equal the batch sketch bit-for-bit (the st20
    * contract; the batch t17 twin carries the full grid oracle). Token =
    * event_type ⊕ user_id mod 97 — a few hundred distinct keys, while
    * the state stays ONE grid row however large the stream. */
  def cmsTokenSketch(events: DataFrame,
                     depth: Int = graft.operators.TextAnalysis.CmsDepth,
                     width: Int = graft.operators.TextAnalysis.CmsWidth): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(concat(col("event_type"), lit(":"),
        (col("user_id") % 97).cast("string")).as("w")).as[String]
      .groupByKey(_ => 1)
      .agg(new graft.functions.CountMinAgg(depth, width).toColumn.name("cms"))
      .toDF("g", "cms")
      .select(col("cms"))
  }

  /** Watermarked tumbling-window aggregate (append-mode capable). */
  def tumbling(events: DataFrame, width: String = "5 minutes",
               watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), width).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("total_value"))
      .select(unix_micros(col("w.start")).as("w_start_us"), col("event_type"),
        col("n_events"), col("total_value"))

  /** Streaming data-quality drift monitor: per tumbling window, the
    * event-type mix as ONE conditional-count aggregation (five typed
    * counters in a single groupBy — a per-type row shape would need a
    * second windowed aggregation for the window total, which streaming
    * disallows chained), plus the exact-integer total-variation
    * numerator against the uniform expectation: drift_num =
    * Σ_type |5·n_type − N_window| (the v05 arithmetic, windowed — no
    * floats, so the oracle hash-matches). The online twin of the batch
    * publish gates: alert when a window's mix skews. */
  def typeMixDrift(events: DataFrame, width: String = "1 hour",
                   watermark: String = "10 minutes"): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val cnts = types.map(tp =>
      sum(when(col("event_type") === tp, 1L).otherwise(0L)).as(s"n_$tp"))
    val total = types.map(tp => col(s"n_$tp")).reduce(_ + _)
    val drift = types.map(tp => abs(col(s"n_$tp") * types.length - col("n_total")))
      .reduce(_ + _)
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), width).as("w"))
      .agg(cnts.head, cnts.tail: _*)
      .withColumn("n_total", total)
      .withColumn("drift_num", drift)
      .select(unix_micros(col("w.start")).as("w_start_us"),
        col("n_click"), col("n_error"), col("n_purchase"),
        col("n_signup"), col("n_view"), col("n_total"), col("drift_num"))
  }

  /** Stream-static enrichment join — the most common streaming job
    * shape of all (events enriched with dimension attributes before a
    * windowed rollup), absent from the stream-stream matrix because its
    * state story is DIFFERENT: the static side is a plain batch
    * relation, the join is STATELESS (re-planned per micro-batch,
    * broadcast at this dimension size), and only the downstream window
    * aggregate holds state. At 100 TB the dimension either broadcasts
    * or the join becomes a per-batch shuffle join — either way no join
    * state accumulates across batches. */
  def staticEnrichRollup(scoped: SparkSession, dir: String,
                         width: String = "1 hour",
                         watermark: String = "10 minutes"): DataFrame = {
    val dim = graft.sources.Tables(scoped, dir, "customer")
      .select(col("c_custkey").as("user_id"), col("c_mktsegment").as("segment"))
    readEventStream(scoped, dir)
      .withWatermark("ts", watermark)
      .join(broadcast(dim), Seq("user_id"))
      .groupBy(window(col("ts"), width).as("w"), col("segment"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("total_value"))
      .select(unix_micros(col("w.start")).as("w_start_us"), col("segment"),
        col("n_events"), col("total_value"))
  }

  /** Watermarked sliding-window aggregate. */
  def sliding(events: DataFrame, width: String = "10 minutes",
              slide: String = "5 minutes", watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), width, slide).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(unix_micros(col("w.start")).as("w_start_us"), col("event_type"), col("n_events"))

  /** Native session windows (gap-based, stateful). */
  def sessionWindows(events: DataFrame, gap: String = "30 minutes",
                     watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("total_value"))
      .select(col("user_id"), unix_micros(col("w.start")).as("session_start_us"),
        unix_micros(col("w.end")).as("session_end_us"), col("n_events"), col("total_value"))

  /** Stateful keyed dedup: first event per (user_id, event_type) within
    * the watermark horizon. */
  def dedupKeyed(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicates(Seq("user_id", "event_type"))
      .select(col("user_id"), col("event_type"), col("event_id"))

  /** Keyed dedup via `dropDuplicatesWithinWatermark` (Spark 3.5+): same
    * first-event-wins answer on this bounded replay, but the state
    * eviction contract differs from `dropDuplicates` in a way that
    * matters for an unbounded 100 TB stream — each key's state expires
    * `watermark` after the FIRST sighting (duplicates are only promised
    * to be dropped if they arrive within the delay window), instead of
    * living for the full watermark-vs-event-time horizon. That makes
    * state strictly time-bounded per key even for keys that keep
    * recurring forever — the right eviction for "suppress retries /
    * at-least-once upstream" dedup, where a re-sighting a day later is
    * legitimately a NEW event. */
  def dedupWithinWatermark(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(Seq("user_id", "event_type"))
      .select(col("user_id"), col("event_type"), col("event_id"))

  /** Stream-stream interval join: each view joined to the same user's
    * clicks within the following 5 minutes. Watermarks on BOTH sides
    * bound the join state (Spark evicts a buffered row once the other
    * side's watermark passes its interval) — the required shape for an
    * unbounded 100 TB event stream. */
  def viewClickJoin(spark: SparkSession, dir: String,
                    watermark: String = "10 minutes"): DataFrame = {
    val views = readEventStream(spark, dir)
      .filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("event_id").as("view_id"),
        col("ts").as("v_ts"))
      .withWatermark("v_ts", watermark)
    val clicks = readEventStream(spark, dir)
      .filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", watermark)
    views.join(clicks,
      col("v_user") === col("c_user") &&
        col("c_ts") >= col("v_ts") &&
        col("c_ts") <= col("v_ts") + expr("INTERVAL 5 MINUTES"))
      .select(col("v_user").as("user_id"), col("view_id"), col("click_id"),
        (unix_micros(col("c_ts")) - unix_micros(col("v_ts"))).as("lag_us"))
  }

  /** Stream-stream LEFT OUTER interval join: like [[viewClickJoin]],
    * but views with no click in their 5-minute window still emit — with
    * a null click — once the global watermark proves no matching click
    * can arrive (v_ts + 5min behind the watermark). The state contract
    * is the same as the inner join's; the only addition is the
    * watermark-triggered null-padded emission on eviction, which is why
    * the bounded run needs the trailing no-data micro-batch (outer
    * results materialize in the batch AFTER the last data batch
    * advances the watermark). Views still inside the final watermark
    * horizon are held back, never emitted — the oracle models exactly
    * that holdback. */
  def viewClickLeftJoin(spark: SparkSession, dir: String,
                        watermark: String = "10 minutes"): DataFrame =
    viewClickOuterJoin(spark, dir, "leftOuter", watermark)

  /** Stream-stream FULL OUTER interval join: [[viewClickLeftJoin]]'s
    * null-padded views PLUS clicks that matched no view in their
    * 5-minute look-back, null-padded on the view side. The clicks-side
    * eviction predicate differs from the views side because the
    * interval is one-sided: a click at c_ts can match views with
    * v_ts ∈ [c_ts − 5min, c_ts], and the view watermark only promises
    * future views arrive with v_ts ≥ wm — so the click is provably
    * unmatched once c_ts < wm (its whole look-back is behind the
    * watermark), while a view must wait for v_ts + 5min < wm. Both
    * predicates are modeled by the st14 oracle; rows inside the final
    * horizon are held back on their own side exactly as in st08. */
  def viewClickFullJoin(spark: SparkSession, dir: String,
                        watermark: String = "10 minutes"): DataFrame =
    viewClickOuterJoin(spark, dir, "fullOuter", watermark)

  private def viewClickOuterJoin(spark: SparkSession, dir: String,
                                 joinType: String, watermark: String): DataFrame = {
    val views = readEventStream(spark, dir)
      .filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("event_id").as("view_id"),
        col("ts").as("v_ts"))
      .withWatermark("v_ts", watermark)
    val clicks = readEventStream(spark, dir)
      .filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", watermark)
    views.join(clicks,
      col("v_user") === col("c_user") &&
        col("c_ts") >= col("v_ts") &&
        col("c_ts") <= col("v_ts") + expr("INTERVAL 5 MINUTES"),
      joinType)
      .select(coalesce(col("v_user"), col("c_user")).as("user_id"),
        col("view_id"), col("click_id"),
        (unix_micros(col("c_ts")) - unix_micros(col("v_ts"))).as("lag_us"))
  }

  /** Fastest disk visible to this JVM for checkpoint/state I/O: tmpfs
    * when present (HDFSBackedStateStore delta+commit files become
    * memory writes), else java.io.tmpdir. A long-running production
    * stream would checkpoint to durable storage instead — this path is
    * for bounded run-to-completion queries whose state dies with them. */
  private[graft] def scratchBase: java.nio.file.Path = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    if (java.nio.file.Files.isWritable(shm)) shm
    else java.nio.file.Paths.get(sys.props("java.io.tmpdir"))
  }

  private def scratchDir(): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory(scratchBase, "graft_ckpt")

  /** The RocksDB state-store provider conf — the 100 TB default for any
    * stateful query (state spills off-heap/disk instead of growing the
    * executor heap with active keys). */
  private[graft] val RocksDbConf = Map(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    // Changelog checkpointing: each commit uploads the batch's change
    // set instead of a full snapshot zip PER STORE PER BATCH (snapshots
    // move to background maintenance). With 8 shuffle partitions × up
    // to 4 join state stores, per-batch snapshot commits dominated the
    // r6 wall times of st06/st08/st14 — and on a real cluster this is
    // the recommended RocksDB production setting for exactly the same
    // reason (commit latency decoupled from state size).
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true",
    // Background maintenance (snapshot consolidation + old-version GC)
    // competes with the micro-batches for the same cores; changelog
    // commits alone carry correctness for these bounded runs. The
    // maintenance INTERVAL itself lives in GraftSession (it is pinned
    // per-JVM by the first stateful query, so a per-query conf here
    // could silently not apply); the per-store snapshot threshold does
    // honor per-query conf and is raised here.
    "spark.sql.streaming.stateStore.minDeltasForSnapshot" -> "1000",
    // per-commit exact row counting walks every store on every commit —
    // telemetry, not correctness; the recommended production setting for
    // commit-latency-sensitive jobs is to disable it (numRows metrics
    // then report -1). With 4 stores × partitions per batch in the
    // stream-stream joins this is pure fixed cost.
    "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows" -> "false")

  /** The session every bounded stream is planned on: a CLONE of `spark`
    * (`newSession()` — same SparkContext, isolated runtime conf), so the
    * streaming-specific conf below never leaks into concurrently-planned
    * batch queries on the caller's session. The clone shares compiled
    * code with its parent: with artifact isolation off (`GraftSession`)
    * every session uses the same classloader, so a stream row run again
    * finds its generated classes in the JVM's codegen cache instead of
    * recompiling them on each run. The clone's own conf:
    * - `noDataMicroBatches=false` skips the trailing watermark-only
    *   micro-batch — safe exactly when the sink does not rely on
    *   watermark-triggered emission: complete-mode aggregates (every
    *   batch rewrites the full result), append-mode operators that
    *   emit on arrival (dropDuplicates, inner stream-stream join) and
    *   every `foreachBatch` loop. Timeout-driven and outer-join
    *   emission pass `noDataBatches = true`.
    * - AQE is disabled for stateful workloads, so streaming gets no
    *   runtime partition coalescing: size state partitions to the batch
    *   volume by hand (what AQE would have picked). The state-partition
    *   count is pinned into the checkpoint, which is throwaway here; a
    *   durable 100 TB stream would pick this once, at provisioning time. */
  private[graft] def scopedSession(spark: SparkSession, noDataBatches: Boolean = false,
      extraConf: Map[String, String] = Map.empty): SparkSession = {
    val scoped = spark.newSession()
    scoped.conf.set("spark.sql.streaming.noDataMicroBatches.enabled",
      noDataBatches.toString)
    scoped.conf.set("spark.sql.shuffle.partitions", "8")
    extraConf.foreach { case (k, v) => scoped.conf.set(k, v) }
    scoped
  }

  /** The one run-to-completion loop: starts the configured stream on a
    * throwaway [[scratchDir]] checkpoint, processes everything available
    * (plus, with `noDataBatches`, the trailing watermark-only batch),
    * runs `onFinish` on the live query, stops it, and deletes the
    * checkpoint. The stop and the delete also run when the stream or
    * `onFinish` throws; the failure propagates. */
  private[graft] def runToCompletion(writer: DataStreamWriter[Row],
      noDataBatches: Boolean = false,
      onFinish: StreamingQuery => Unit = _ => ()): Unit = {
    val ckpt = scratchDir()
    try {
      val q = writer.option("checkpointLocation", ckpt.toString).start()
      try {
        q.processAllAvailable()
        if (noDataBatches) awaitWatermarkFlush(q)
        onFinish(q)
      } finally q.stop()
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(ckpt.toFile)
    }
  }

  /** Timeout-driven/outer-join emission happens in the watermark-only
    * batch AFTER the last data batch (the watermark computed at the END
    * of batch N only takes effect in batch N+1); processAllAvailable
    * only promises the data batches. Waits for one COMMITTED zero-input
    * batch strictly after the last batch that carried rows, read
    * straight off the progress log — a driver-side array, no per-poll
    * count jobs (the r6 form re-counted the memory sink every 100 ms and
    * additionally required count stability, costing seconds per query).
    * Progress is reported post-commit, so once the entry exists the sink
    * already holds the flushed rows. Deadline-bounded; one no-data batch
    * suffices — with no further data the watermark is final, so that
    * batch fires every due timer and eviction. */
  private def awaitWatermarkFlush(q: StreamingQuery): Unit = {
    def flushed: Boolean = {
      val ps = q.recentProgress
      val lastData = ps.filter(_.numInputRows > 0L).map(_.batchId)
        .maxOption.getOrElse(-1L)
      ps.exists(p => p.numInputRows == 0L && p.batchId > lastData)
    }
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    // rethrow a failure in the watermark-only batch immediately — a
    // dead query can never flush, and spinning to the deadline would
    // surface as a row-count mismatch with the real stream exception
    // swallowed. Exponential backoff (5 → 160 ms): on a loaded host a
    // fixed fine-grained poll steals scheduler time from the very
    // micro-batch it is waiting on; backoff keeps the fast path fast
    // (first checks within ~15 ms) and the slow path cheap (≤ ~7
    // wakeups/s once the batch is slow).
    var napMs = 5L
    while (!flushed && System.nanoTime() < deadline) {
      q.exception.foreach(e => throw e)
      Thread.sleep(napMs)
      napMs = math.min(napMs * 2, 160L)
    }
    q.exception.foreach(e => throw e)
  }

  /** [[runToCompletion]] with a `foreachBatch` sink: `body` gets each
    * micro-batch and its id. */
  private[graft] def runForeachBatch(stream: DataFrame, outputMode: String = "append")
                                    (body: (DataFrame, Long) => Unit): Unit =
    runToCompletion(stream.writeStream.outputMode(outputMode)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) => body(batch.toDF(), batchId) })

  /** Build the stream with `build` on a [[scopedSession]], run it to
    * completion into a memory sink named `name`, and return the sink's
    * table. */
  private[graft] def runBounded(spark: SparkSession, name: String,
      build: SparkSession => DataFrame, outputMode: String,
      noDataBatches: Boolean = false,
      extraConf: Map[String, String] = Map.empty,
      onFinish: StreamingQuery => Unit = _ => ()): DataFrame = {
    val scoped = scopedSession(spark, noDataBatches, extraConf)
    runToCompletion(build(scoped).writeStream.format("memory").queryName(name)
      .outputMode(outputMode), noDataBatches, onFinish)
    // the memory sink registers its view in the scoped session's catalog
    scoped.table(name)
  }

  /** Run a streaming transform over the (bounded) file source to
    * completion into a memory sink; returns the materialized result.
    * outputMode "complete" for aggregates, "append" for row streams. */
  def runToBatch(spark: SparkSession, dir: String, name: String,
                 outputMode: String)(transform: DataFrame => DataFrame): DataFrame =
    runBounded(spark, name, s => transform(readEventStream(s, dir)), outputMode)

  /** foreachBatch parquet sink: every micro-batch atomically replaces
    * the output directory with the aggregate's current snapshot — the
    * file-based production sink for complete-mode results (micro-batch
    * id available for idempotence bookkeeping). Returns the final
    * snapshot read back from disk. */
  def runToParquet(spark: SparkSession, dir: String, outDir: String)
                  (transform: DataFrame => DataFrame): DataFrame = {
    val scoped = scopedSession(spark)
    runForeachBatch(transform(readEventStream(scoped, dir)), "complete") { (batch, _) =>
      batch.write.mode("overwrite").parquet(outDir)
    }
    scoped.read.parquet(outDir)
  }
}
