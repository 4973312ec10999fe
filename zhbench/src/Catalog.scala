package zhbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.security.MessageDigest
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import graft.SparkEntry
import graft.sources.Tables

/** catalog_mix — a fixed list of catalog rows over the checked-in
  * sf0.01 tables, each materialized through the noop sink.
  *
  * Set-up opens every table (repeated; the median is kept) and warms up
  * with a check pass that collects each row's output and compares its
  * order-insensitive digest with `digests/sf0.01.json`. The timed loop
  * then runs passes over the list, each in a seed-shuffled order; they
  * alternate between the job and its re-run.
  */
object Catalog extends Workload {

  /** Catalog row prefixes; the full names come from `SparkEntry.queries`. */
  val Rows: Seq[String] = Seq(
    "q01", "q27", "st11", "v10", "t13", "t25", "z01", "z02", "z04")

  /** The catalog rows run by the small catalog probe of other workloads. */
  val ProbeRows: Seq[String] = Seq("z01", "z02", "st11")

  val crosses: Set[String] = Set("catalog")

  def resolve(prefixes: Seq[String]): Seq[(String, (SparkSession, String) => DataFrame)] = {
    val all = SparkEntry.queries
    prefixes.map(p => all.find(_._1.startsWith(p + "_")).getOrElse(
      throw new IllegalArgumentException(s"no catalog row $p")))
  }

  /** Seconds spent per catalog layer step, in the traced run:
    * "sources.table_open_s", "operators.build_s", "plans.plan_s" and
    * "operators.exec_s", each also per family prefix ("…/st"). */
  val layerS = scala.collection.mutable.LinkedHashMap[String, Double]()

  private def step[T](metric: String, family: String, span: String)(body: => T): T = {
    val (r, s) = Main.timed(Trace.span(span)(body))
    if (Trace.enabled) Seq(metric, s"$metric/$family").foreach(k =>
      layerS(k) = layerS.getOrElse(k, 0.0) + s)
    r
  }

  private def family(name: String): String = name.takeWhile(_.isLetter)

  /** Open every table of the directory (schema and footer reads). */
  def openTables(spark: SparkSession, dir: String): Unit =
    Tables.names.foreach(n =>
      step("sources.table_open_s", "tables", "sources.Tables.apply") { Tables(spark, dir, n) })

  /** One catalog row: build, plan and run it through the noop sink. */
  def runRow(spark: SparkSession, dir: String, name: String,
             fn: (SparkSession, String) => DataFrame): Unit = {
    val f = family(name)
    val df = step("operators.build_s", f, s"operators.catalog.build:$name") { fn(spark, dir) }
    if (Trace.enabled) step("plans.plan_s", f, "plans.executedPlan") {
      df.queryExecution.executedPlan
    }
    step("operators.exec_s", f, "operators.catalog.exec") {
      df.write.format("noop").mode("overwrite").save()
    }
  }

  // ---- order-insensitive output digest (tools/check_oracle.py `canon`:
  // columns sorted by name, every value as text, rows sorted)

  private def text(v: Any): String = v match {
    case null => "None"
    case r: Row => r.toSeq.map(text).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => text(k) + ":" + text(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(text).mkString("[", ",", "]")
    case a: Array[Byte] => a.map("%02x".format(_)).mkString
    case t: java.sql.Timestamp => (t.getTime * 1000 + (t.getNanos / 1000) % 1000).toString
    case t: java.time.Instant => (t.getEpochSecond * 1000000 + t.getNano / 1000).toString
    case d: java.math.BigDecimal => d.stripTrailingZeros.toPlainString
    case x => x.toString
  }

  /** (rows, digest) of a DataFrame's collected output. */
  def digest(df: DataFrame): (Long, String) = {
    val fields = df.schema.fields.map(_.name).zipWithIndex.sortBy(_._1)
    val lines = df.collect().map(r => fields.map { case (_, i) => text(r.get(i)) }
      .mkString("\u0001")).sorted
    val md = MessageDigest.getInstance("SHA-256")
    md.update(fields.map(_._1).mkString(",").getBytes(UTF_8))
    lines.foreach { l => md.update(l.getBytes(UTF_8)); md.update(Array[Byte](10)) }
    (lines.length.toLong, md.digest().map("%02x".format(_)).mkString)
  }

  /** name → (rows, digest or null when only the row count is checked) */
  def readDigests(file: String): Map[String, (Long, String)] = {
    val line = """"([^"]+)":\{"rows":(\d+),"digest":(null|"[0-9a-f]+")\}""".r
    line.findAllMatchIn(new String(Files.readAllBytes(Paths.get(file)), UTF_8)).map { m =>
      m.group(1) -> ((m.group(2).toLong,
        if (m.group(3) == "null") null else m.group(3).stripPrefix("\"").stripSuffix("\"")))
    }.toMap
  }

  /** Record digests of every row of [[Rows]] twice; a row whose two
    * digests differ is recorded with its row count only. */
  def writeDigests(ctx: Main.Ctx, file: String): Unit = {
    val rows = resolve(Rows)
    val a = rows.map { case (n, fn) => n -> digest(fn(ctx.spark, ctx.data)) }.toMap
    val b = rows.map { case (n, fn) => n -> digest(fn(ctx.spark, ctx.data)) }.toMap
    val body = rows.map(_._1).sorted.map { n =>
      val d = if (a(n) == b(n)) "\"" + a(n)._2 + "\"" else "null"
      s"""  "$n":{"rows":${a(n)._1},"digest":$d}"""
    }.mkString("{\n", ",\n", "\n}\n")
    Files.write(Paths.get(file), body.getBytes(UTF_8))
  }

  def run(ctx: Main.Ctx, counters: SparkCounters): Double = {
    val spark = ctx.spark
    val dir = ctx.data
    val rows = resolve(Rows)
    val want = readDigests(ctx.digests)
    // set-up: open every table (repeated, median kept), then the
    // warm-up, which is the check pass: each row runs once and its
    // collected output is compared with the digest file. A row that
    // fails it is not timed.
    val opens = (0 until 3).map(_ => Main.timed(openTables(spark, dir))._2)
    val (checked, warmS) = Main.timed(rows.filter { case (n, fn) =>
      ctx.res.check(s"digest $n") {
        val (cnt, dg) = digest(fn(spark, dir))
        want.get(n).exists { case (wc, wd) => wc == cnt && (wd == null || wd == dg) }
      }
    })
    ctx.res.add("records", want.filter(w => checked.exists(_._1 == w._1)).values.map(_._1).sum.toDouble)
    ctx.res.detail("rows_only") = want.filter(_._2._2 == null).keys.toSeq.sorted
      .map(n => "\"" + n + "\"").mkString("[", ",", "]")
    layerS.clear() // the layer split covers the timed loop only
    val rnd = new scala.util.Random(ctx.seed)
    val before = counters.snapshot()
    val t0 = System.nanoTime()
    // passes alternate job, re-run, job, …: the re-run repeats the job
    val passes = iterations(ctx.seconds, 7.0, 2)
    for (p <- 0 until passes; kind = if (p % 2 == 0) "job" else "rerun")
      Trace.span(s"catalog.$kind") {
        var ok = checked.size == rows.size
        if (ctx.trace) openTables(spark, dir)
        val passT0 = System.nanoTime()
        for ((name, fn) <- rnd.shuffle(checked)) {
          val s = ctx.res.op(s"$kind $name") { runRow(spark, dir, name, fn); true }
          s.foreach(ctx.res.add("op", _))
          ok &&= s.nonEmpty
        }
        if (ok) ctx.res.add(kind, (System.nanoTime() - passT0) / 1e9)
      }
    Layers.listenerDiff(ctx, counters, before, (System.nanoTime() - t0) / 1e9)
    ctx.res.detail("warm_s") = Json.num(warmS)
    ctx.res.detail("open_s") = opens.map(Json.num).mkString("[", ",", "]")
    warmS + Main.median(opens)
  }
}
