package graft.sinks

import java.sql.DriverManager
import org.apache.spark.sql.DataFrame

/** Batched JDBC update sink — the reference's write-back path
  * (`OMTZHModifier.java:156-178`: build UPDATE strings, `addBatch`,
  * `executeBatch` per chunk), re-expressed safely and distributed:
  *
  *  - executors write their own partitions in parallel (the reference
  *    is single-connection sequential);
  *  - values are bound through `PreparedStatement` parameters, which
  *    deletes the reference's hand-rolled escaping (`hstoreEscape`,
  *    `OMT:184-194`) and its SQL-injection surface (X7 in SURVEY.md);
  *  - batches flush every `batchSize` rows — same commit cadence
  *    semantics as the reference's per-chunk `executeBatch`;
  *  - a partition opens its connection and prepares its statement only
  *    when its first row arrives, so a partition with no rows (all of
  *    them on an idempotent re-run) opens no connection.
  *
  * At 100 TB the bottleneck is the database, not Spark: size
  * `updates.repartition(n)` to the DB's safe concurrent-writer count.
  */
object JdbcUpdateSink {

  /** UPDATE <table> SET <setCols...> = ? WHERE <idCol> = ? for each row
    * of `updates` (columns: idCol ++ setCols), batched per partition. */
  def applyUpdates(updates: DataFrame, url: String, table: String,
                   idCol: String, setCols: Seq[String],
                   batchSize: Int = 1000): Unit = {
    val sql = s"UPDATE $table SET ${setCols.map(c => s"$c = ?").mkString(", ")} WHERE $idCol = ?"
    val cols = setCols :+ idCol
    updates.select(cols.head, cols.tail: _*).foreachPartition {
      (rows: Iterator[org.apache.spark.sql.Row]) =>
        if (rows.hasNext) {
          val conn = DriverManager.getConnection(url)
          try {
            val st = conn.prepareStatement(sql)
            var pending = 0
            rows.foreach { r =>
              var i = 0
              while (i < cols.length) { st.setObject(i + 1, r.get(i)); i += 1 }
              st.addBatch()
              pending += 1
              if (pending >= batchSize) { st.executeBatch(); pending = 0 }
            }
            if (pending > 0) st.executeBatch()
            ()
          } finally conn.close()
        }
    }
  }
}
