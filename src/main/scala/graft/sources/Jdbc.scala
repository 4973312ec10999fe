package graft.sources

import java.sql.DriverManager
import org.apache.spark.sql.{DataFrame, SparkSession}

/** JDBC source surface — the reference's native habitat, Spark-first.
  *
  * The reference opens one connection and hand-chunks scans with
  * `BETWEEN` ranges driven by `max(id)` (`OMTZHModifier.java:107-146`);
  * here the same access path is a partitioned JDBC read whose bounds
  * come from one min/max statement on the driver's own connection, as
  * the reference's `max(id)` does, so the read itself starts no Spark
  * job. It also fixes the reference's two scan holes (negative ids never
  * scanned; `id == maxID` dropped when the chunk size divides it
  * exactly, `OMT:130`).
  */
object Jdbc {

  /** S2 catalog scan: list user tables via DatabaseMetaData — the exact
    * discovery call the reference makes (`OMT:36-43`). */
  def discoverTables(url: String): Seq[String] = {
    val conn = DriverManager.getConnection(url)
    try {
      val rs = conn.getMetaData.getTables(null, null, "%", Array("TABLE"))
      val out = Seq.newBuilder[String]
      while (rs.next()) out += rs.getString("TABLE_NAME")
      out.result()
    } finally conn.close()
  }

  /** S5 partitioned range scan: numPartitions parallel readers over
    * [min(id), max(id)] — no holes, no driver-side chunk loop.
    *
    * The bounds come from `SELECT MIN(idCol), MAX(idCol) FROM table` on
    * one driver connection, not from a Spark job. They only set Spark's
    * strides: its first partition reads `idCol < stride OR idCol IS
    * NULL` and its last has no upper limit, so MAX itself is the
    * `upperBound`: every row is read without a `+ 1`, which would
    * overflow at `Long.MaxValue`. An empty table (null MIN) is a plain
    * single-partition read. */
  def readPartitioned(spark: SparkSession, url: String, table: String,
                      idCol: String, numPartitions: Int = 4): DataFrame = {
    val bounds = {
      val conn = DriverManager.getConnection(url)
      try {
        val rs = conn.createStatement().executeQuery(s"SELECT MIN($idCol), MAX($idCol) FROM $table")
        rs.next()
        // BIGINT, INTEGER or DECIMAL, as the column is: go through Number, not getLong
        Option(rs.getObject(1)).map(lo =>
          (lo.asInstanceOf[Number].longValue, rs.getObject(2).asInstanceOf[Number].longValue))
      } finally conn.close()
    }
    val reader = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    bounds match {
      case None => reader.load()
      case Some((lo, hi)) => reader
        .option("partitionColumn", idCol)
        .option("lowerBound", lo)
        .option("upperBound", hi)
        .option("numPartitions", numPartitions)
        .load()
    }
  }
}
