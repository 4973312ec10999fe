package graft

import java.sql.DriverManager
import java.util.UUID
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import graft.sources.Jdbc
import graft.sinks.JdbcUpdateSink
import graft.functions.Zh

/** End-to-end JDBC flow against in-memory Derby — the reference's whole
  * lifecycle (discover → classify → partitioned scan → derive → batched
  * update write-back → idempotent re-run) on a real database. */
class JdbcSpec extends SparkSpec {

  private val url = "jdbc:derby:memory:graftdb;create=true"

  private def seed(): Unit = {
    val conn = DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      try st.execute("DROP TABLE osm_features") catch { case _: Exception => }
      st.execute(
        """CREATE TABLE osm_features (
           id BIGINT PRIMARY KEY, name VARCHAR(128),
           hans VARCHAR(128), hant VARCHAR(128))""")
      val ins = conn.prepareStatement("INSERT INTO osm_features VALUES (?, ?, ?, ?)")
      Seq(
        (1L, "北京市", null, null),
        (2L, "Berlin", null, null),
        (3L, "臺北市", null, null),
        (4L, "头发广场", null, null),
        (5L, null, null, null)
      ).foreach { case (id, name, _, _) =>
        ins.setLong(1, id); ins.setString(2, name)
        ins.setString(3, null); ins.setString(4, null)
        ins.addBatch()
      }
      ins.executeBatch()
    } finally conn.close()
  }

  test("discover → partitioned read → derive → batched update → idempotent") {
    seed()
    // S2 discovery
    assert(Jdbc.discoverTables(url).map(_.toLowerCase).contains("osm_features"))

    // S5 partitioned scan (3 partitions over [1, 5])
    val df = Jdbc.readPartitioned(spark, url, "osm_features", "ID", 3)
    assert(df.rdd.getNumPartitions == 3 && df.count() == 5)

    // derive (X3/X5/X6 essence: Han-named rows missing a target)
    def derive(t: org.apache.spark.sql.DataFrame) = t
      .filter(Zh.contains_han(col("NAME")) && (col("HANS").isNull || col("HANT").isNull))
      .select(col("ID"),
        Zh.zh_to_simplified(col("NAME")).as("HANS"),
        Zh.zh_to_traditional(col("NAME")).as("HANT"))
    val updates = derive(df)
    assert(updates.count() == 3) // rows 1, 3, 4

    // S6 batched write-back
    JdbcUpdateSink.applyUpdates(updates, url, "osm_features", "ID", Seq("HANS", "HANT"))

    val after = Jdbc.readPartitioned(spark, url, "osm_features", "ID", 3)
      .orderBy("ID").collect()
    assert(after(0).getString(2) == "北京市") // already simplified
    assert(after(2).getString(2) == "台北市") // simplified form derived
    assert(after(3).getString(3) == "頭髮廣場") // traditional form derived
    assert(after(1).isNullAt(2) && after(4).isNullAt(2)) // untouched

    // idempotence: second pass selects nothing (reference invariant F2)
    assert(derive(Jdbc.readPartitioned(spark, url, "osm_features", "ID", 3)).count() == 0)
  }

  /** A fresh table `name` with `(id <idType>, name VARCHAR)` rows;
    * a None id is stored as NULL. */
  private def table(name: String, idType: String, rows: Seq[(Option[Any], String)]): Unit = {
    val conn = DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      try st.execute(s"DROP TABLE $name") catch { case _: Exception => }
      st.execute(s"CREATE TABLE $name (id $idType, name VARCHAR(32))")
      val ins = conn.prepareStatement(s"INSERT INTO $name VALUES (?, ?)")
      rows.foreach { case (id, n) =>
        id match {
          case Some(v) => ins.setObject(1, v.asInstanceOf[AnyRef])
          case None => ins.setNull(1, java.sql.Types.BIGINT)
        }
        ins.setString(2, n)
        ins.addBatch()
      }
      if (rows.nonEmpty) ins.executeBatch()
    } finally conn.close()
  }

  private def names(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.getString(1)).toSeq.sorted

  test("readPartitioned reads a table whose largest id is Long.MaxValue") {
    table("max_id", "BIGINT NOT NULL", Seq(Some(1L) -> "one", Some(Long.MaxValue) -> "max"))
    val df = Jdbc.readPartitioned(spark, url, "max_id", "ID", 3)
    assert(names(df) == Seq("max", "one"))
  }

  test("readPartitioned starts no Spark job and reads every row") {
    val group = s"jdbc-bounds-${UUID.randomUUID()}"
    val started = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        started.add(String.valueOf(Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull))
    }
    table("signed_ids", "BIGINT", Seq(Some(-40L) -> "a", Some(-7L) -> "b", None -> "c",
      Some(0L) -> "d", Some(12L) -> "e", Some(90L) -> "f"))
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "readPartitioned")
      val df = try Jdbc.readPartitioned(spark, url, "signed_ids", "ID", 4)
      finally sc.clearJobGroup()
      // the listener bus delivers in order: once this action's job is
      // seen, any job the call above started has been seen too
      val marker = s"$group-action"
      sc.setJobGroup(marker, "first action")
      val got = try names(df) finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30e9.toLong
      while (!started.contains(marker) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(started.contains(marker))
      assert(started.toArray.count(_ == group) == 0)
      assert(df.rdd.getNumPartitions == 4)
      assert(got == Seq("a", "b", "c", "d", "e", "f")) // negative and null ids included
    } finally sc.removeSparkListener(listener)

    table("no_rows", "BIGINT", Nil)
    val empty = Jdbc.readPartitioned(spark, url, "no_rows", "ID", 4)
    assert(empty.rdd.getNumPartitions == 1 && empty.count() == 0)

    table("dec_ids", "DECIMAL(18, 0)", Seq(Some(BigDecimal(-3).bigDecimal) -> "x",
      Some(BigDecimal(5).bigDecimal) -> "y", Some(BigDecimal(1000).bigDecimal) -> "z"))
    val dec = Jdbc.readPartitioned(spark, url, "dec_ids", "ID", 3)
    assert(dec.rdd.getNumPartitions == 3 && names(dec) == Seq("x", "y", "z"))
  }

  private val updateSchema = StructType(Seq(
    StructField("ID", LongType), StructField("NAME", StringType)))

  test("applyUpdates opens no connection for a partition with no rows") {
    // every partition empty, against a database that does not exist:
    // any connection attempt would throw "Database ... not found"
    val missing = s"jdbc:derby:memory:graft_missing_${UUID.randomUUID().toString.replace("-", "")}"
    val none = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq.empty[Row], 3), updateSchema)
    JdbcUpdateSink.applyUpdates(none, missing, "t", "ID", Seq("NAME"))

    // only partitions 0 and 2 of 4 carry rows: exactly those are written
    table("some_parts", "BIGINT", (1L to 6L).map(i => Some(i) -> s"old$i"))
    val parts: Seq[Seq[Row]] = Seq(Seq(Row(2L, "new2")), Nil, Seq(Row(4L, "new4"), Row(5L, "new5")), Nil)
    val rdd = spark.sparkContext.parallelize(parts, parts.size).flatMap(identity)
    assert(rdd.glom().collect().map(_.length).toSeq == Seq(1, 0, 2, 0))
    JdbcUpdateSink.applyUpdates(spark.createDataFrame(rdd, updateSchema), url, "some_parts",
      "ID", Seq("NAME"))
    assert(names(Jdbc.readPartitioned(spark, url, "some_parts", "ID", 2)) ==
      Seq("new2", "new4", "new5", "old1", "old3", "old6"))
  }
}
