package zhbench

import java.io.File
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.types._
import graft.functions.Zh
import graft.model.TableClassifier
import graft.operators.{ZhEnrich, ZhModifier}
import graft.sinks.JdbcUpdateSink
import graft.sources.Jdbc

/** Per-layer metrics of the traced run.
  *
  * Every traced run reports every layer. A layer group the workload's
  * own loop crosses is measured at the workload's size; the other
  * groups run a small probe of their own, so each metric has one
  * definition on every workload:
  *
  *  - "jdbc": discover, bounds query, scan, derive and write-back over
  *    Derby, plus the sink's writer sweep;
  *  - "registry": classify, enrichAll planning, enriched rows and the
  *    parquet write;
  *  - "catalog": table open, build, plan and execute of catalog rows
  *    (streaming micro-batch phases come from their stream row).
  *
  * The ICU functions are always timed directly, one thread, per call.
  */
object Layers {

  var counters: Option[SparkCounters] = None

  /** Listener counts now, once the bus has drained (traced run only). */
  def opCounters(): Option[Map[String, Double]] = counters.map { c =>
    org.apache.spark.zhbench.SparkBus.drain(org.apache.spark.SparkContext.getOrCreate())
    c.snapshot()
  }

  /** Listener counts of the workload's loop, as `spark.*` metrics. */
  def listenerDiff(ctx: Main.Ctx, c: SparkCounters, before: Map[String, Double],
                   wallS: Double): Unit =
    if (ctx.trace) {
      org.apache.spark.zhbench.SparkBus.drain(ctx.spark.sparkContext)
      val d = SparkCounters.diff(c.snapshot(), before)
      d.foreach { case (k, v) => ctx.res.metric(k, v, unitOf(k)) }
      ctx.res.metric("spark.cpu_util", d("spark.executor_cpu_s") / (wallS * 4), "ratio")
    }

  private def unitOf(k: String): String =
    if (k.endsWith("_s")) "s" else if (k.endsWith("_bytes")) "bytes" else "count"

  // ---- functions: direct calls over the generated names

  def functions(ctx: Main.Ctx): Unit = {
    val names = Gen.table(ctx.seed, "osm_poi_point", 20000).rows
      .flatMap(r => Seq(r.name, r.zh)).filter(_ != null)
    def nsPerCall(f: String => Any): Double =
      (0 until 3).map { _ =>
        val t0 = System.nanoTime()
        var i = 0
        while (i < names.length) { f(names(i)); i += 1 }
        (System.nanoTime() - t0).toDouble / names.length
      }.min
    Trace.span("functions.Zh.toSimplified") {
      ctx.res.metric("functions.to_hans_ns", nsPerCall(Zh.toSimplified), "ns") }
    Trace.span("functions.Zh.toTraditional") {
      ctx.res.metric("functions.to_hant_ns", nsPerCall(Zh.toTraditional), "ns") }
    Trace.span("functions.Zh.hasHan") {
      ctx.res.metric("functions.has_han_ns", nsPerCall(Zh.hasHan), "ns") }
  }

  // ---- jdbc group

  def jdbc(ctx: Main.Ctx, ts: Seq[Gen.Table], sweep: Gen.Table): Unit = Trace.span("probe.jdbc") {
    val spark = ctx.spark
    val url = "jdbc:derby:memory:zhb_probe"
    ZhJdbc.load(url, ts)
    val byName = ts.map(t => t.name.toUpperCase -> t).toMap
    val (found, discoverS) = Main.timed(Trace.span("sources.Jdbc.discoverTables") {
      Jdbc.discoverTables(url)
    })
    var boundsS, scanS, deriveS, writeS = 0.0
    var scanned, updated, batches, writers = 0L
    for (name <- found.sorted; t <- byName.get(name)) {
      val (df, b) = Main.timed(Trace.span("sources.Jdbc.readPartitioned") {
        Jdbc.readPartitioned(spark, url, name, "ID", 4)
      })
      boundsS += b
      scanS += Main.timed(df.write.format("noop").mode("overwrite").save())._2
      scanned += t.rows.length
      val updates = ZhEnrich.zhEnrich(ZhJdbc.withTags(df), "ID")
      deriveS += Main.timed(Trace.span("operators.derive") {
        updates.write.format("noop").mode("overwrite").save()
      })._2
      CountingJdbc.reset()
      writeS += Main.timed(Trace.span("sinks.JdbcUpdateSink.applyUpdates") {
        JdbcUpdateSink.applyUpdates(updates, CountingJdbc.url(url), name, "ID", Seq("HANS", "HANT"))
      })._2
      ctx.res.check(s"probe update $name") { CountingJdbc.rowsUpdated.get == t.toUpdate }
      updated += CountingJdbc.rowsUpdated.get
      batches += CountingJdbc.batches.get
      writers += CountingJdbc.connections.get
    }
    ZhJdbc.drop(url)
    val m = ctx.res.metric _
    m("sources.discover_s", discoverS, "s")
    m("sources.bounds_s", boundsS, "s")
    m("sources.scan_rows_per_s", scanned / scanS, "1/s")
    m("operators.derive_s", deriveS, "s")
    m("operators.derived_rows", updated.toDouble, "count")
    m("sinks.writeback_s", writeS, "s")
    m("sinks.rows_per_s", updated / writeS, "1/s")
    m("sinks.batches", batches.toDouble, "count")
    m("sinks.writers", writers.toDouble, "count")
    // writer sweep: the same derived rows written by 1..4 connections
    val schema = StructType(Seq(StructField("id", LongType), StructField("hans", StringType),
      StructField("hant", StringType)))
    val rows = ZhEnrich.zhEnrich(ZhJdbc.localFrame(spark, sweep), "ID").collect().toSeq
    for (w <- 1 to 4) {
      val u = s"jdbc:derby:memory:zhb_sweep$w"
      ZhJdbc.load(u, Seq(sweep))
      val updates = spark.createDataFrame(spark.sparkContext.parallelize(rows, w), schema)
      CountingJdbc.reset()
      val s = Main.timed(Trace.span(s"sinks.sweep.w$w") {
        JdbcUpdateSink.applyUpdates(updates, CountingJdbc.url(u), sweep.name, "ID",
          Seq("HANS", "HANT"))
      })._2
      ctx.res.check(s"sweep w$w") { CountingJdbc.rowsUpdated.get == sweep.toUpdate }
      m(s"sinks.rows_per_s_w$w", CountingJdbc.rowsUpdated.get / s, "1/s")
      ZhJdbc.drop(u)
    }
  }

  // ---- registry group

  def registry(ctx: Main.Ctx, specs: Seq[ZhRegistry.Spec]): Unit = Trace.span("probe.registry") {
    val spark = ctx.spark
    val in = ctx.scratch("probe_in")
    val out = ctx.scratch("probe_out")
    val reg = ZhRegistry.write(spark, ctx.seed, specs, in)
    val inputs = ZhRegistry.open(spark, reg)
    val (report, classifyS) = Main.timed(Trace.span("model.TableClassifier.classifyAll") {
      TableClassifier.classifyAll(inputs)
    })
    val ((enriched, enrichable, _), planS) = Main.timed(Trace.span("operators.enrich_plan") {
      val r = ZhModifier.enrichAll(inputs)
      r._1.values.foreach(_.queryExecution.executedPlan)
      r
    })
    ctx.res.check("probe classify") { report._1 == enrichable }
    val enrichS = Main.timed(Trace.span("operators.enrich_noop") {
      enrichable.keys.foreach(n => enriched(n).write.format("noop").mode("overwrite").save())
    })._2
    val enrichRows = specs.filter(s => enrichable.contains(s.name)).map(_.rows).sum
    val writeS = Main.timed(Trace.span("operators.write") {
      enriched.foreach { case (n, df) =>
        df.write.mode("overwrite").parquet(new File(out, n + ".parquet").getPath) }
    })._2
    FileUtils.deleteQuietly(in)
    FileUtils.deleteQuietly(out)
    val m = ctx.res.metric _
    m("model.classify_s", classifyS, "s")
    m("operators.enrich_plan_s", planS, "s")
    m("operators.enrich_rows_per_s", enrichRows / enrichS, "1/s")
    m("operators.write_s", writeS, "s")
  }

  // ---- catalog group (a small pass when the workload has none)

  def catalog(ctx: Main.Ctx): Unit = Trace.span("probe.catalog") {
    Catalog.openTables(ctx.spark, ctx.data)
    for ((name, fn) <- Catalog.resolve(Catalog.ProbeRows))
      ctx.res.check(s"probe $name") { Catalog.runRow(ctx.spark, ctx.data, name, fn); true }
  }

  /** Probe sizes for groups the workload does not cross. */
  private val SmallJdbc = Seq("osm_poi_point" -> 8000, "osm_place_point" -> 4000)
  private val SmallRegistry = ZhRegistry.Layout.map(s => s.copy(rows = s.rows / 10))

  def probeAll(ctx: Main.Ctx, w: Workload): Unit = {
    functions(ctx)
    val big = w.crosses("jdbc")
    val ts = ZhJdbc.tables(ctx.seed, if (big) ZhJdbc.Layout else SmallJdbc)
    jdbc(ctx, ts, ts.head)
    registry(ctx, if (w.crosses("registry")) ZhRegistry.Layout else SmallRegistry)
    if (!w.crosses("catalog")) catalog(ctx)
  }

  def report(ctx: Main.Ctx, c: SparkCounters): Unit = {
    org.apache.spark.zhbench.SparkBus.drain(ctx.spark.sparkContext)
    Seq("sources.table_open_s", "operators.build_s", "plans.plan_s", "operators.exec_s")
      .foreach(k => ctx.res.metric(k, Catalog.layerS.getOrElse(k, Double.NaN), "s"))
    ctx.res.detail("catalog_layers_s") = Json.obj(Catalog.layerS.map { case (k, v) =>
      k -> Json.num(v) })
    ctx.res.metric("streaming.batches", c.batches.get.toDouble, "count")
    ctx.res.metric("streaming.query_planning_s", c.planningMs.get / 1e3, "s")
    ctx.res.metric("streaming.add_batch_s", c.addBatchMs.get / 1e3, "s")
    ctx.res.metric("streaming.wal_commit_s", c.walMs.get / 1e3, "s")
  }
}
