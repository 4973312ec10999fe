package graft

import org.apache.spark.sql.SparkSession

/** Measurement harness for the partitioned change-data-feed read
  * price: builds a partitioned table with N leaves over
  * `SPARK_GRAFT_SF_DIR`'s documents, commits ONE merge between two
  * root versions, then times `tableChangesPartitioned` over the
  * window and prints one JSON line per leaf count. NOT part of the
  * driver bench contract — the v19 catalog query keeps its gate shape
  * (every leaf changed, the map detector's worst case); this answers
  * the r18 verdict's scaling question for the ledger: the feed's
  * driver cost builds one plan branch per CHANGED leaf (pooled, r19),
  * so a sparse window must price O(touched), not O(leaves).
  *
  * Two modes:
  *  - default (dense): the merge touches EVERY leaf (`doc_id % 5`
  *    sentinel spread across all shard classes) — the worst case; the
  *    feed then unions one candidate-bounded diff per leaf.
  *  - `sparse`: the merge touches keys with `doc_id % 1024 < 4`, so at
  *    any leaf count dividing 1024 the window touches AT MOST 4
  *    leaves — the feed must read NOTHING for the untouched ones (the
  *    root version maps are the change detector), so the 1024-leaf
  *    figure should sit near the 64-leaf one.
  *
  * Table build (partitioned write + migration fold + the merge) is
  * excluded from the clock: what's timed is exactly the feed read a
  * downstream MV refresh pays.
  *
  * Usage: `SPARK_GRAFT_SF_DIR=... sbt "runMain graft.CdfBench [sparse] [n...]"`
  * (default counts: dense 64 256; sparse 64 256 1024).
  */
object CdfBench {
  def main(args: Array[String]): Unit =
    Harness.withSession()(run(_, Harness.sfDir, args.toSeq))

  /** Runs the leaf-count sweep `args` (`[sparse] [n...]`) and prints one
    * JSON line per count. */
  def run(spark: SparkSession, sfDir: String, args: Seq[String]): Unit = {
    import org.apache.spark.sql.functions._
    val (sparse, counts) =
      Harness.sparseArgs(args, Seq(64, 256), Seq(64, 256, 1024))
    val W = operators.Warehouse
    counts.foreach { n =>
      Harness.withTempDir(s"graft_cdfbench_$n") { dir =>
        val root = dir.resolve("t").toString
        val docs = graft.sources.Tables(spark, sfDir, "documents")
          .select(col("doc_id"), col("n_chars"))
          .withColumn("s", pmod(col("doc_id"), lit(n)).cast("string"))
        docs.write.partitionBy("s").mode("overwrite").parquet(root)
        W.compactManifestedPartitioned(spark, root, targetFileBytes = 1L << 30)
        val v1 = W.rootSnapshots(root).last
        val delta =
          if (sparse) docs.filter(pmod(col("doc_id"), lit(1024)) < 4)
          else docs.filter(col("doc_id") % 5 === 0)
        W.upsertManifestedPartitioned(spark, root,
          delta.withColumn("n_chars", col("n_chars") * 0 - 1), "doc_id")
        val v2 = W.rootSnapshots(root).last
        val (rows, sec) =
          Harness.timed(W.tableChangesPartitioned(spark, root, "doc_id", v1, v2).count())
        println(s"""{"metric":"cdf_leaves${if (sparse) "_sparse" else ""}","nLeaves":$n,"changed_rows":$rows,"sec":${Harness.num(sec, 2)}}""")
      }
    }
  }
}
