package zhbench

import java.sql.{DriverManager, SQLException}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.ZhEnrich
import graft.sinks.JdbcUpdateSink
import graft.sources.Jdbc

/** zh_jdbc — the reference job over embedded in-memory Derby.
  *
  * Each iteration loads a fresh database of OSM-shaped tables (set-up),
  * then times the cold pass (discover → partitioned scan → derive →
  * batched UPDATE write-back, per table) and the idempotent re-run of
  * the same pass over its own output, which must update nothing.
  */
object ZhJdbc extends Workload {

  /** OSM layer tables and their row counts. Equal sizes keep the
    * per-table operations one population, so their median and tail
    * are not set by which table a rank falls on. */
  val Layout: Seq[(String, Int)] = Seq(
    "osm_poi_point" -> 16000, "osm_place_point" -> 16000,
    "osm_water_name" -> 16000, "osm_transportation_name" -> 16000)

  val crosses: Set[String] = Set("jdbc")

  def tables(seed: Long, layout: Seq[(String, Int)]): Seq[Gen.Table] =
    layout.map { case (n, rows) => Gen.table(seed, n, rows) }

  def load(url: String, ts: Seq[Gen.Table]): Unit =
    ts.foreach(t => Gen.createDerby(url + ";create=true", t))

  def drop(url: String): Unit =
    try DriverManager.getConnection(url + ";drop=true").close()
    catch { case _: SQLException => } // Derby reports a dropped database as an exception

  /** The flat columns as the `tags` map the derive step reads. */
  def withTags(df: DataFrame): DataFrame =
    df.withColumn("tags", map(
      lit("name:zh"), col("ZH"), lit("name:zh-Hans"), col("HANS"),
      lit("name:zh-Hant"), col("HANT")))

  /** One table through the reference job; rows the database updated. */
  def enrichTable(spark: SparkSession, url: String, table: String): Long = {
    CountingJdbc.reset()
    val df = Trace.span("sources.Jdbc.readPartitioned") {
      Jdbc.readPartitioned(spark, url, table, "ID", 4)
    }
    val updates = Trace.span("operators.ZhEnrich.zhEnrich") {
      ZhEnrich.zhEnrich(withTags(df), "ID")
    }
    Trace.span("sinks.JdbcUpdateSink.applyUpdates") {
      JdbcUpdateSink.applyUpdates(updates, CountingJdbc.url(url), table, "ID",
        Seq("HANS", "HANT"))
    }
    CountingJdbc.rowsUpdated.get
  }

  /** A whole pass: discover, then each table as one checked operation.
    * `want` gives the rows each table must update; `keep` whether the
    * per-table times are query samples. Returns the pass's seconds when
    * every table passed its check. */
  def pass(ctx: Main.Ctx, url: String, ts: Seq[Gen.Table], kind: String,
           want: Gen.Table => Long, keep: Boolean): Option[Double] =
    Trace.span(s"zh_jdbc.$kind") {
      val byName = ts.map(t => t.name.toUpperCase -> t).toMap
      val t0 = System.nanoTime()
      var ok = true
      val found = Trace.span("sources.Jdbc.discoverTables") { Jdbc.discoverTables(url) }
      if (found.toSet != byName.keySet) {
        ok = false
        ctx.res.check(s"$kind discover") { false }
      }
      for (name <- found.sorted if byName.contains(name)) {
        val t = byName(name)
        val s = ctx.res.op(s"$kind $name") {
          enrichTable(ctx.spark, url, name) == want(t) && CountingJdbc.connections.get <= 4
        }
        if (keep) s.foreach(ctx.res.add("op", _))
        ok &&= s.nonEmpty
      }
      val total = (System.nanoTime() - t0) / 1e9
      if (ok) Some(total) else None
    }

  /** The generated rows as the Derby table reads them, without Derby:
    * flat columns, `tags` assembled the same way. */
  def localFrame(spark: SparkSession, t: Gen.Table): DataFrame = {
    val schema = StructType(Seq("ID" -> LongType, "NAME" -> StringType, "ZH" -> StringType,
      "HANS" -> StringType, "HANT" -> StringType).map { case (n, ty) => StructField(n, ty) })
    withTags(spark.createDataFrame(spark.sparkContext.parallelize(
      t.rows.toSeq.map(r => Row(r.id, r.name, r.zh, r.hans, r.hant)), 4), schema))
  }

  /** Values read back from Derby equal the zhEnrich result computed
    * over the generated rows; rows it does not select are unchanged. */
  def valuesMatch(spark: SparkSession, url: String, t: Gen.Table): Boolean = {
    val expected = ZhEnrich.zhEnrich(localFrame(spark, t), "ID").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getString(2)))).toMap
    val stored = Gen.readTargets(url, t.name)
    expected.size == t.toUpdate && stored.size == t.rows.length &&
      t.rows.forall(r => stored(r.id) == expected.getOrElse(r.id, (r.hans, r.hant)))
  }

  /** Untimed iterations before the timed ones: the same work, so the
    * JIT and Derby reach their steady state first (set-up time). */
  val WarmIterations = 1

  def run(ctx: Main.Ctx, counters: SparkCounters): Double = {
    val spark = ctx.spark
    val (ts, genS) = Main.timed(tables(ctx.seed, Layout))
    val loads = scala.collection.mutable.ArrayBuffer[Double]()
    var warmS = 0.0
    var valuesOk = true
    var before = counters.snapshot()
    var t0 = System.nanoTime()
    val n = iterations(ctx.seconds, 7.0, 3)
    for (i <- 0 until WarmIterations + n) {
      val timedIter = i >= WarmIterations
      if (i == WarmIterations) { before = counters.snapshot(); t0 = System.nanoTime() }
      val url = s"jdbc:derby:memory:zhb_$i"
      loads += Main.timed(load(url, ts))._2
      val (cold, coldS) = Main.timed(pass(ctx, url, ts, "cold", _.toUpdate, keep = timedIter))
      if (i == 0) valuesOk = ts.forall(t =>
        ctx.res.check(s"values ${t.name}") { valuesMatch(spark, url, t) })
      val (rerun, rerunS) = Main.timed(pass(ctx, url, ts, "rerun", _ => 0L, keep = false))
      if (timedIter) {
        if (valuesOk) cold.foreach(ctx.res.add("job", _))
        rerun.foreach(ctx.res.add("rerun", _))
      } else warmS += coldS + rerunS
      drop(url)
    }
    ctx.res.add("records", ts.map(_.toUpdate).sum.toDouble)
    Layers.listenerDiff(ctx, counters, before, (System.nanoTime() - t0) / 1e9)
    ctx.res.detail("load_s") = loads.map(Json.num).mkString("[", ",", "]")
    ctx.res.detail("warm_s") = Json.num(warmS)
    ctx.res.detail("rows_to_update") = ts.map(_.toUpdate).sum.toString
    genS + warmS + Main.median(loads.toSeq)
  }
}
