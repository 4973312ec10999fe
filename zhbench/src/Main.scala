package zhbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** Benchmark entry point (normally started by `run.py`, which builds the
  * classes first).
  *
  *   --workload zh_jdbc|zh_registry|catalog_mix  --seed N  --seconds S
  *   --trace 0|1  --out DIR  --data DIR  --digests FILE
  *
  * Writes the result object to `DIR/result.json`; with `--trace 1` also
  * the spans to `DIR/spans.jsonl` and per-phase listener counts to
  * `DIR/detail.json`. The `digests` mode (`--write-digests FILE`)
  * records the catalog digests instead of checking them.
  */
object Main {

  final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
                  val trace: Boolean, val out: File, val data: String,
                  val digests: String) {
    val res = new Result
    val work: File = new File(out, "work")
    def scratch(name: String): File = {
      val d = new File(work, name); d.mkdirs(); d
    }
  }

  /** Operations attempted and failed, timed samples by kind, metrics. */
  final class Result {
    var attempted = 0
    var failed = 0
    val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
    val metrics = mutable.LinkedHashMap[String, (Double, String)]()
    val detail = mutable.LinkedHashMap[String, String]()
    /** listener counts per operation, traced run only */
    val perOp = mutable.ArrayBuffer[String]()

    def add(kind: String, s: Double): Unit =
      samples.getOrElseUpdate(kind, mutable.ArrayBuffer()) += s
    def of(kind: String): Seq[Double] = samples.getOrElse(kind, Nil).toSeq
    def metric(name: String, v: Double, unit: String): Unit = metrics(name) = (v, unit)

    /** One checked operation: times `body`, which returns whether its
      * result was correct. A throw or a failed check counts as failed
      * and its time is not kept. Returns the seconds, or None. */
    def op(what: String)(body: => Boolean): Option[Double] = {
      attempted += 1
      val before = Layers.opCounters()
      val t0 = System.nanoTime()
      val ok = try body catch {
        case e: Throwable =>
          System.err.println(s"[zhbench] $what threw: $e"); false
      }
      val s = (System.nanoTime() - t0) / 1e9
      before.foreach(b => perOp += Json.obj(Seq("op" -> ("\"" + Json.esc(what) + "\""),
        "s" -> Json.num(s)) ++ Layers.opCounters().get.map { case (k, v) =>
          k -> Json.num(v - b(k)) }))
      if (!ok) { failed += 1; System.err.println(s"[zhbench] $what FAILED"); None }
      else Some(s)
    }

    /** A correctness check that is not timed. */
    def check(what: String)(body: => Boolean): Boolean = op(what)(body).nonEmpty
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile with at least ten samples above it: the
    * value and its percentile. With ten samples or fewer, the maximum. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    if (s.size <= 10) (s.last, 100.0)
    else (s(s.size - 11), 100.0 * (s.size - 10) / s.size)
  }

  /** Peak resident set of this JVM (VmHWM), MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN) finally src.close()
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val out = new File(opts("out"))
    out.mkdirs()
    System.setProperty("derby.stream.error.file", new File(out, "derby.log").getPath)
    val trace = opts.getOrElse("trace", "0") == "1"
    Trace.enabled = trace
    Trace.runId = s"$workload-${opts("seed")}-${ProcessHandle.current().pid()}"

    val (spark, sessionS) = timed {
      val s = graft.GraftSession.builder("4")
        .config("spark.local.dir", new File(out, "spark-local").getPath)
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }
    val ctx = new Ctx(spark, opts("seed").toLong, opts("seconds").toInt, trace, out,
      opts.getOrElse("data", ""), opts.getOrElse("digests", ""))
    ctx.res.detail("session_s") = Json.num(sessionS)
    val counters = new SparkCounters
    if (trace) {
      spark.sparkContext.addSparkListener(counters)
      Layers.counters = Some(counters)
    }

    try {
      opts.get("write-digests") match {
        case Some(f) => Catalog.writeDigests(ctx, f); return
        case None =>
      }
      val w: Workload = workload match {
        case "zh_jdbc" => ZhJdbc
        case "zh_registry" => ZhRegistry
        case "catalog_mix" => Catalog
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      val setupS = sessionS + w.run(ctx, counters)
      val r = ctx.res
      if (!trace) {
        val ops = r.of("op")
        val (tv, tp) = if (ops.nonEmpty) tail(ops) else (Double.NaN, Double.NaN)
        r.metric("setup_s", setupS, "s")
        r.metric("job_s", median(r.of("job")), "s")
        r.metric("rerun_s", median(r.of("rerun")), "s")
        r.metric("records_updated_per_s", r.of("records").headOption.getOrElse(Double.NaN) /
          median(r.of("job")), "1/s")
        r.metric("query_p50_s", median(ops), "s")
        r.metric("query_tail_s", tv, "s")
        r.metric("peak_rss_mb", peakRssMb(), "MB")
        r.detail("query_tail_pct") = Json.num(tp)
        r.detail("query_samples") = ops.size.toString
      } else {
        Layers.probeAll(ctx, w)
        Layers.report(ctx, counters)
        r.metric("trace.job_s", median(r.of("job")), "s")
        r.metric("trace.rerun_s", median(r.of("rerun")), "s")
        Files.write(new File(out, "spans.jsonl").toPath, Trace.spansJson().getBytes(UTF_8))
      }
      r.detail("ops") = r.perOp.mkString("[", ",", "]")
      r.detail("samples") = Json.obj(r.samples.map { case (k, v) =>
        k -> v.map(Json.num).mkString("[", ",", "]") })
      val metrics = Json.obj(r.metrics.map { case (k, (v, u)) =>
        k -> s"""{"value":${Json.num(v)},"unit":"${Json.esc(u)}"}""" })
      val bad = r.metrics.exists { case (_, (v, _)) => v.isNaN || v.isInfinite }
      val result = s"""{"correct":${r.failed == 0 && !bad},"attempted":${r.attempted},""" +
        s""""failed":${r.failed},"metrics":$metrics}"""
      Files.write(new File(out, "detail.json").toPath, Json.obj(r.detail).getBytes(UTF_8))
      Files.write(new File(out, "result.json").toPath, result.getBytes(UTF_8))
    } finally {
      try spark.stop() catch { case _: Throwable => }
    }
  }
}

/** A workload runs its set-up, its timed loop and its checks, and
  * returns its set-up seconds (session start is added by the caller).
  * Timed samples go to `ctx.res` under the kinds "job", "rerun" and
  * "op" (one table or one query); "records" holds the job's output
  * record count. */
trait Workload {
  def run(ctx: Main.Ctx, counters: SparkCounters): Double
  /** the layer groups its own loop crosses (see [[Layers]]) */
  def crosses: Set[String]
  /** iterations for a run of `seconds`, from its nominal iteration time */
  def iterations(seconds: Int, nominalS: Double, min: Int): Int =
    math.max(min, math.round(seconds / nominalS).toInt)
}
