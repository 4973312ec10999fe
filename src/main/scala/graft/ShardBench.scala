package graft

import org.apache.spark.sql.SparkSession

/** Measurement harness for the sharded-CDC commit price: runs the
  * SAME pipeline as the st28 gate query
  * (`CdcApply.runCdcApplyManifestedPartitioned`) at several shard
  * counts over `SPARK_GRAFT_SF_DIR` and prints one JSON line per
  * count. NOT part of the driver bench contract — the catalog query
  * keeps its gate shape (4 shards); this answers the scaling question
  * for the ledger.
  *
  * Two modes:
  *  - default: the full events feed — at this data scale every batch's
  *    keys touch every shard, so this measures the worst case (per-
  *    batch cost ~ O(touched) = O(all) here).
  *  - `sparse`: the feed filtered to keys routing to shards 0..3 of 64
  *    (`user_id % 64 < 4`), so every batch touches AT MOST 4 shards at
  *    ANY shard count ≥ 64 that is a multiple of 64's divisor — the
  *    r16 version-map contract says per-batch cost is O(touched
  *    shards) + one root commit, so the 64-shard run should land
  *    within ~1.5× of the 4-shard run over the same feed (under r15
  *    lockstep it paid 60 extra empty leaf commits per batch).
  *
  * Usage: `SPARK_GRAFT_SF_DIR=... sbt "runMain graft.ShardBench [sparse] [n...]"`
  * (default shard counts: 4 32; sparse default: 4 64).
  */
object ShardBench {
  def main(args: Array[String]): Unit =
    Harness.withSession()(run(_, Harness.sfDir, args.toSeq))

  /** Runs the shard-count sweep `args` (`[sparse] [n...]`) and prints
    * one JSON line per count. */
  def run(spark: SparkSession, sfDir: String, args: Seq[String]): Unit = {
    val (sparse, counts) = Harness.sparseArgs(args, Seq(4, 32), Seq(4, 64))
    if (sparse) {
      // STEADY-STATE per-batch commit price: keys bounded to 4 of 64
      // shard classes, table creation (batch 0: bootstrap + first
      // merge) excluded from the clock — what's timed is 3 merge
      // batches + the periodic compaction, i.e. exactly the per-batch
      // work of a long-running stream. Under the r16 version map this
      // is O(touched shards): the 64-shard figure should sit near the
      // 4-shard one over the same feed.
      import org.apache.spark.sql.functions._
      // GRAFT_SPARSE_MOD (r17): the residue modulus bounding the key
      // classes. Default 64 keeps the r16 ledger rows comparable; 1024
      // bounds the feed to ≤4 touched shards at EVERY count dividing
      // 1024, for the 256/1024-shard extension table (under mod 64 a
      // 256-shard run touches 16 classes, not 4 — the invariant the
      // extension measures would silently change).
      val mod = sys.env.getOrElse("GRAFT_SPARSE_MOD", "64").toInt
      val ev = graft.sources.Tables(spark, sfDir, "events")
        .filter(pmod(col("user_id"), lit(mod)) < 4)
      val parts = (0 until 4).map(i =>
        graft.operators.eagerCut(ev.filter(pmod(col("event_id"), lit(4)) === i)))
      counts.foreach { n =>
        TempDirs.withTempDir(s"graft_shardbench_$n") { dir =>
          val root = dir.resolve("t").toString
          streaming.CdcApply.applyBatchManifestedPartitioned(
            parts(0), root, nShards = n, Some(0L))
          val sec = Harness.timed {
            (1 until 4).foreach(i => streaming.CdcApply
              .applyBatchManifestedPartitioned(parts(i), root, nShards = n,
                Some(i.toLong)))
            operators.Warehouse.compactManifestedPartitioned(spark, root,
              targetFileBytes = 1L << 30)
          }._2
          val rows = operators.Warehouse.readManifestedPartitioned(spark, root)
            .count()
          println(s"""{"metric":"st28_shards_sparse","nShards":$n,"mod":$mod,"rows":$rows,"batches":3,"sec":${Harness.num(sec, 2)}}""")
        }
      }
    } else counts.foreach { n =>
      TempDirs.withTempDir(s"graft_shardbench_$n") { dir =>
        val (rows, sec) = Harness.timed(streaming.CdcApply
          .runCdcApplyManifestedPartitioned(spark, sfDir, dir.resolve("t").toString,
            nShards = n).count())
        println(s"""{"metric":"st28_shards","nShards":$n,"rows":$rows,"sec":${Harness.num(sec, 2)}}""")
      }
    }
  }
}
