package zhbench

import java.io.File
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{ZhEnrich, ZhModifier}
import graft.sources.Tables

/** zh_registry — the Spark-native form of the job.
  *
  * Each iteration writes a fresh parquet registry (set-up): a table keyed
  * by `id`, one keyed by `osm_id` and one without `tags`. The job is
  * `ZhModifier.enrichAll` over the registry plus a parquet write of each
  * output table; the re-run is `ZhEnrich.zhEnrich` over each written
  * enriched table, which must select nothing.
  */
object ZhRegistry extends Workload {

  /** (table, id column, has tags, rows) */
  final case class Spec(name: String, idCol: String, tags: Boolean, rows: Int)

  val Layout: Seq[Spec] = Seq(
    Spec("osm_poi_point", "id", tags = true, 60000),
    Spec("osm_place_polygon", "osm_id", tags = true, 30000),
    Spec("osm_water_lakeline", "osm_id", tags = false, 30000))

  val crosses: Set[String] = Set("registry")

  final class Registry(val dir: File, val specs: Seq[Spec], val tables: Map[String, Gen.Table])

  /** Generate and write the input registry under `dir`. */
  def write(spark: SparkSession, seed: Long, specs: Seq[Spec], dir: File): Registry = {
    val ts = specs.map(s => s.name -> Gen.table(seed, s.name, s.rows)).toMap
    specs.foreach(s => Gen.frame(spark, ts(s.name), s.idCol, s.tags)
      .write.mode("overwrite").parquet(new File(dir, s.name + ".parquet").getPath))
    new Registry(dir, specs, ts)
  }

  def open(spark: SparkSession, reg: Registry): Map[String, DataFrame] =
    reg.specs.map(s => s.name -> Trace.span("sources.Tables.apply") {
      Tables(spark, reg.dir.getPath, s.name)
    }).toMap

  private val nz = (c: org.apache.spark.sql.Column) => nullif(c, lit(""))
  private def complete(df: DataFrame): Long =
    df.filter(nz(element_at(col("tags"), "name:zh-Hans")).isNotNull &&
      nz(element_at(col("tags"), "name:zh-Hant")).isNotNull).count()

  /** Untimed iterations before the timed ones (see ZhJdbc). */
  val WarmIterations = 1

  def run(ctx: Main.Ctx, counters: SparkCounters): Double = {
    val spark = ctx.spark
    val setups = scala.collection.mutable.ArrayBuffer[Double]()
    var warmS = 0.0
    var outputOk = true
    var before = counters.snapshot()
    var t0 = System.nanoTime()
    val n = iterations(ctx.seconds, 5.0, 3)
    var answer = 0L
    for (i <- 0 until WarmIterations + n) {
      val timedIter = i >= WarmIterations
      if (i == WarmIterations) { before = counters.snapshot(); t0 = System.nanoTime() }
      val inDir = ctx.scratch(s"in_$i")
      val outDir = ctx.scratch(s"out_$i")
      val (reg, setupS) = Main.timed(write(spark, ctx.seed, Layout, inDir))
      setups += setupS
      answer = Layout.filter(_.tags).map(s => reg.tables(s.name).toUpdate).sum
      val inputs = open(spark, reg)
      // the job: classify + enrich + write every output table
      var jobOk = true
      val jt0 = System.nanoTime()
      val (out, enrichable, skipped) = Trace.span("operators.ZhModifier.enrichAll") {
        ZhModifier.enrichAll(inputs)
      }
      for (s <- Layout) {
        val w = ctx.res.op(s"write ${s.name}") {
          Trace.span("operators.write") {
            out(s.name).write.mode("overwrite").parquet(new File(outDir, s.name + ".parquet").getPath)
          }
          true
        }
        if (timedIter) w.foreach(ctx.res.add("op", _))
        jobOk &&= w.nonEmpty
      }
      val jobS = (System.nanoTime() - jt0) / 1e9
      jobOk &&= ctx.res.check("classification") {
        enrichable == Map("osm_poi_point" -> "id", "osm_place_polygon" -> "osm_id") &&
          skipped == Seq("osm_water_lakeline")
      }
      val written = open(spark, new Registry(outDir, Layout, reg.tables))
      if (i == 0) outputOk = ctx.res.check("enriched rows") {
        Layout.filter(_.tags).map(s =>
          complete(written(s.name)) - reg.tables(s.name).complete).sum == answer
      } && ctx.res.check("pass-through") {
        val a = written("osm_water_lakeline")
        val b = inputs("osm_water_lakeline")
        a.schema == b.schema && a.count() == b.count() && a.exceptAll(b).isEmpty
      }
      // the re-run over the written output: nothing left to derive
      var rerunOk = true
      val rt0 = System.nanoTime()
      for (s <- Layout if s.tags) {
        val r = ctx.res.op(s"rerun ${s.name}") {
          Trace.span("operators.ZhEnrich.zhEnrich") {
            ZhEnrich.zhEnrich(written(s.name), s.idCol)
          }.count() == 0
        }
        rerunOk &&= r.nonEmpty
      }
      val rerunS = (System.nanoTime() - rt0) / 1e9
      if (timedIter) {
        if (jobOk && outputOk) ctx.res.add("job", jobS)
        if (rerunOk) ctx.res.add("rerun", rerunS)
      } else warmS += jobS + rerunS
      FileUtils.deleteQuietly(inDir)
      FileUtils.deleteQuietly(outDir)
    }
    ctx.res.add("records", answer.toDouble)
    Layers.listenerDiff(ctx, counters, before, (System.nanoTime() - t0) / 1e9)
    ctx.res.detail("setup_samples_s") = setups.map(Json.num).mkString("[", ",", "]")
    ctx.res.detail("warm_s") = Json.num(warmS)
    ctx.res.detail("rows_to_update") = answer.toString
    warmS + Main.median(setups.toSeq)
  }
}
