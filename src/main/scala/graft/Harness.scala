package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** The run harness shared by the catalog mains (Bench, Repeat, Verify,
  * Explain, Plans, ShardBench, CdfBench): session, query selection,
  * warm-up, the timed noop-sink run, the persisted-RDD drain,
  * `[sparse] [n...]` arguments and JSON numbers, each written
  * once so that every main sets up and measures the same way.
  */
object Harness {
  type Query = (SparkSession, String) => DataFrame

  /** Scale-factor dir of the mains that take it from the environment. */
  def sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** Runs `body` on an engine session over `cpus` local cores and stops
    * the session afterwards, also when `body` throws.
    *
    * ERROR, not WARN, by default: stray WARN lines (DAGScheduler cancel
    * races, streaming AQE notices) land on the output stream between the
    * timed region and a JSON summary line, and a caller that keeps only
    * the tail of the output can lose the line to that noise.
    */
  def withSession[T](cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"),
                     logLevel: String = "ERROR")(body: SparkSession => T): T = {
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    // a shutdown-race exception from stop() must not eat the result
    try body(spark) finally try spark.stop() catch { case _: Throwable => }
  }

  /** Catalog rows whose name starts with one of `prefixes`, sorted by
    * name; every row when `prefixes` is empty. */
  def select(prefixes: Seq[String]): Seq[(String, Query)] =
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => prefixes.isEmpty || prefixes.exists(n.startsWith) }

  /** Full materialization of every output row and column: a bare
    * `count()` lets Catalyst prune projections and sorts. */
  def sink(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Generated classes this JVM has compiled so far and the seconds spent
    * compiling them. Only a miss in the JVM-wide codegen cache compiles,
    * so the change across a run counts that run's misses. */
  def codegenCompiles(): (Long, Double) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime / 1e9)

  /** `body`'s result and its wall-clock seconds. */
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** One-time JVM and session costs (file index, codegen, scheduler,
    * classloading) paid outside any timed region, so the first measured
    * query is not charged ~4 s of startup. Every step is best-effort. */
  def warmUp(spark: SparkSession, sfDir: String): Unit = {
    def quietly(body: => Unit): Unit = try body catch { case _: Throwable => }
    for (tbl <- Seq("region", "nation", "customer", "supplier", "part",
                    "orders", "lineitem", "events", "documents", "embeddings"))
      quietly(sink(sources.Tables(spark, sfDir, tbl)))
    // ORC writer/reader classload (a 1-row round trip): q53's r6 cold
    // time was ~8× its warm time and the delta was pure first-touch ORC
    // classloading, not plan cost.
    quietly(TempDirs.withTempDir("graft_orc_warm") { d =>
      val p = d.resolve("t").toString
      spark.range(1).write.mode("overwrite").orc(p)
      sink(spark.read.orc(p))
    })
    // VARIANT machinery (parse_json → binary Variant → variant_get):
    // q57's r7 cold was 7.5 s vs 3.3 s warm, the same mode as q53's ORC.
    quietly(sink(spark.range(1)
      .selectExpr("""variant_get(parse_json('{"k":1}'), '$.k', 'bigint')""")))
    // Structured Streaming (micro-batch planner, state store provider,
    // streaming-agg codegen): a one-batch rate-source aggregate.
    quietly {
      val q = spark.readStream.format("rate")
        .option("rowsPerSecond", "1").option("numPartitions", "1").load()
        .groupBy(org.apache.spark.sql.functions.col("value") % 2).count()
        .writeStream.format("memory").queryName("bench_warm")
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination(15000); q.stop()
    }
  }

  /** Gives the ContextCleaner up to 2 s, outside the timed region, to
    * release persisted RDDs. A run's DataFrame has just gone out of
    * scope, and correctly released blocks (a returned result's own
    * checkpoint) sit in the cleaner's reference queue until a GC notices
    * them. After the drain a nonzero persisted-RDD count is a genuine
    * leak: a strong reference inside operator state survives any number
    * of GCs. */
  def drain(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val deadline = System.nanoTime() + 2_000_000_000L
    while (sc.getPersistentRDDs.nonEmpty && System.nanoTime() < deadline) {
      System.gc()
      Thread.sleep(100)
    }
  }

  /** `[sparse] [n...]`: the sparse flag and the given counts, or the
    * mode's default counts when none are given. */
  def sparseArgs(args: Seq[String], dense: Seq[Int], sparse: Seq[Int]): (Boolean, Seq[Int]) = {
    val isSparse = args.contains("sparse")
    val nums = args.filterNot(_ == "sparse").map(_.toInt)
    (isSparse, if (nums.nonEmpty) nums else if (isSparse) sparse else dense)
  }

  /** `v` with `digits` decimals for a JSON line. Locale.ROOT: a
    * comma-decimal default locale would break the JSON. */
  def num(v: Double, digits: Int = 3): String =
    String.format(java.util.Locale.ROOT, s"%.${digits}f", Double.box(v))
}
