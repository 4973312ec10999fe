package graft

/** Diagnostic main for the §6.1-style repeat-run adjudications: run ONE
  * query N times in a single JVM (same session/warmup shape as Bench)
  * and print per-run wall seconds alongside the JVM-state telemetry a
  * repeat-slowdown hypothesis needs — GC time delta, persisted-RDD
  * count/bytes, shuffle scratch usage — so a "runs 2..N slower than
  * run 1" inversion (the r20 m14 driver artifact) is attributable in
  * one run instead of cross-round forensics.
  * Usage: runMain graft.Repeat <query> [n=6] [gcBetween=false]
  */
object Repeat {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("g01")
    val n = if (args.length > 1) args(1).toInt else 6
    val gcBetween = args.length > 2 && args(2).toBoolean
    val sfDir = Harness.sfDir
    Harness.withSession() { spark =>
      Harness.warmUp(spark, sfDir)
      val (fullName, fn) = Harness.select(Seq(name)).headOption
        .getOrElse(sys.error(s"no query starts with '$name'"))
      println(s"[repeat] resolved $name -> $fullName")
      val beans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      def gcMs: Long = {
        var t = 0L; beans.forEach(b => t += b.getCollectionTime); t
      }
      def localDirBytes: Long = {
        val dirs = spark.sparkContext.getConf
          .get("spark.local.dir", System.getProperty("java.io.tmpdir"))
          .split(",")
        dirs.map { d =>
          val f = new java.io.File(d)
          f.listFiles() match {
            case null => 0L
            case fs => fs.filter(_.getName.startsWith("blockmgr")).map { bm =>
              org.apache.commons.io.FileUtils.sizeOfDirectory(bm)
            }.sum
          }
        }.sum
      }
      var prevGc = gcMs
      for (i <- 1 to n) {
        val secs = Harness.timed(Harness.sink(fn(spark, sfDir)))._2
        val g = gcMs
        val sc = spark.sparkContext
        println(f"[repeat] $name run $i: ${secs}%.2f s  gc=+${g - prevGc} ms  " +
          f"prdds=${sc.getPersistentRDDs.size}  " +
          f"storageMB=${sc.getRDDStorageInfo.map(_.memSize).sum / 1048576}%d  " +
          f"blockmgrMB=${localDirBytes / 1048576}%d")
        prevGc = g
        if (gcBetween) Harness.drain(spark)
      }
    }
  }
}
