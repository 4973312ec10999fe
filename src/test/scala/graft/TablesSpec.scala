package graft

import java.nio.file.{Files, Path}
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** `Tables`' schema cache (a hit starts no inference job; a file
  * rewritten in place is read with its new schema) and its SQL helper
  * (only the tables a statement names are registered). */
class TablesSpec extends SparkSpec {

  /** The benchmark's checked-in copy of the sf0.01 tables (relative to
    * the project root, the forked test JVM's working directory). */
  private val sf = "zhbench/data/sf0.01"

  /** Spark jobs `body` starts on this thread. The listener bus that
    * feeds the status tracker is asynchronous but ordered: once a marker
    * job started after `body` is visible, so is every job of `body`. */
  private def jobs(body: => Unit): Int = {
    val sc = spark.sparkContext
    val id = java.util.UUID.randomUUID().toString
    def inGroup(g: String)(f: => Unit): Unit = {
      sc.setJobGroup(g, g)
      try f finally sc.clearJobGroup()
    }
    inGroup(s"body_$id")(body)
    inGroup(s"mark_$id")(sc.parallelize(Seq(1), 1).count())
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (sc.statusTracker.getJobIdsForGroup(s"mark_$id").isEmpty &&
      System.nanoTime() < deadline) Thread.sleep(10)
    assert(sc.statusTracker.getJobIdsForGroup(s"mark_$id").nonEmpty)
    sc.statusTracker.getJobIdsForGroup(s"body_$id").length
  }

  /** The bytes of a one-file parquet table holding `df`. */
  private def parquetBytes(df: org.apache.spark.sql.DataFrame, tmp: Path): Array[Byte] = {
    val out = Files.createTempDirectory(tmp, "w")
    df.coalesce(1).write.mode("overwrite").parquet(out.toString)
    val part = out.toFile.listFiles().filter(_.getName.endsWith(".parquet")).head
    Files.readAllBytes(part.toPath)
  }

  test("schema cache: a hit starts no job; a file rewritten in place is re-inferred") {
    val tmp = Files.createTempDirectory("graft_tables")
    try {
      val file = tmp.resolve("t.parquet")
      Files.write(file, parquetBytes(spark.range(3).select(col("id"), lit("a").as("s")), tmp))
      assert(jobs(assert(Tables(spark, tmp.toString, "t").columns.toSeq == Seq("id", "s"))) == 1)
      assert(jobs(Tables(spark, tmp.toString, "t")) == 0)

      // same path and inode, new bytes: the stamp changes, so the old
      // schema must not be reused
      val newer = spark.range(5).select(col("id"), (col("id") * 2.5).as("x"), lit(7L).as("k"))
      Files.write(file, parquetBytes(newer, tmp))
      var back: org.apache.spark.sql.DataFrame = null
      assert(jobs { back = Tables(spark, tmp.toString, "t") } == 1)
      assert(back.columns.toSeq == Seq("id", "x", "k"))
      assert(back.orderBy("id").collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq ==
        (0 until 5).map(i => (i.toLong, i * 2.5, 7L)))
      assert(jobs(Tables(spark, tmp.toString, "t")) == 0)
    } finally FileUtils.deleteQuietly(tmp.toFile)
  }

  test("schema cache: a hit reads the schema, and the events normalization, an inference reads") {
    Tables.names.foreach(n => Tables(spark, sf, n))
    Tables.names.foreach { n =>
      val hit = Tables(spark, sf, n)
      val inferred = spark.read.parquet(s"$sf/$n.parquet")
      assert(hit.schema.map(_.name) == inferred.schema.map(_.name), n)
      if (n != "events") assert(hit.schema == inferred.schema, n)
    }
    assert(Tables(spark, sf, "events").schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    assert(jobs(Tables.names.foreach(n => Tables(spark, sf, n))) == 0)
  }

  test("q27 registers only customer and nation; its CTE name is never a table") {
    val text = graft.operators.Relational.oracleSql("q27_grouping_sets")
    val plan = spark.sessionState.sqlParser.parsePlan(text)
    assert(plan.collect { case r: UnresolvedRelation => r.tableName }.contains("p"))
    assert(Tables.relations(plan).toSet == Set("customer", "nation"))

    def views = spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet
    Tables.names.foreach(spark.catalog.dropTempView)
    val before = views
    try {
      SparkEntry.queries("q27_grouping_sets")(spark, sf)
      assert(views -- before == Set("customer", "nation"))
    } finally Tables.names.foreach(spark.catalog.dropTempView)
  }

  test("q27 through the SQL helper == the statement over every table registered uncached") {
    val text = graft.operators.Relational.oracleSql("q27_grouping_sets")
    try {
      val got = SparkEntry.queries("q27_grouping_sets")(spark, sf).collect().toSeq
      Tables.names.foreach(n =>
        spark.read.parquet(s"$sf/$n.parquet").createOrReplaceTempView(n))
      val want = spark.sql(text).collect().toSeq
      assert(got.nonEmpty && got == want)
    } finally Tables.names.foreach(spark.catalog.dropTempView)
  }
}
