package graft

/** Plan-inspection aid: prints the formatted physical plan of each named
  * query (or all, with no args) against a scale-factor dir — the
  * "explain, then iterate until it's the plan you'd want" loop.
  * Usage: runMain graft.Explain <sfDir> <query-name-prefix>...
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    Harness.withSession() { spark =>
      Harness.select(args.drop(1).toSeq).foreach { case (name, fn) =>
        println(s"\n========== $name ==========")
        try println(fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
        catch { case e: Throwable => println(s"[explain] failed: ${e.getMessage}") }
      }
    }
  }
}
