package graft

import java.nio.file.{Files, Path}
import java.util.Locale
import com.fasterxml.jackson.databind.ObjectMapper
import scala.jdk.CollectionConverters._

/** The shared run harness behind the catalog mains, and the outputs of
  * the mains that are driven through it. */
class HarnessSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"
  private def mask(s: String) = s.replaceAll("""(?<=[:\[,])-?\d+(\.\d+)?""", "#")

  test("select: name-sorted prefix matches, every row when no prefix is given") {
    val all = SparkEntry.queries.keys.toSeq.sorted
    assert(Harness.select(Nil).map(_._1) == all)
    assert(Harness.select(Seq("z0", "q01")).map(_._1) == Seq("q01_pricing_summary",
      "z01_zh_enrich", "z02_zh_enrich_applied", "z03_han_script_stats",
      "z04_zh_convert_throughput", "z05_zh_enrich_structure"))
    // a prefix, not a substring: "zh" occurs only inside the z* names
    assert(Harness.select(Seq("zh")).isEmpty)
    // an ambiguous prefix resolves to the first name in sorted order
    assert(Harness.select(Seq("g0")).head._1 == all.filter(_.startsWith("g0")).min)
  }

  test("withTempDir deletes its dir after a normal return and after a throw") {
    val returned = Harness.withTempDir("graft_harness_spec") { d =>
      Files.createDirectories(d.resolve("a/b"))
      Files.writeString(d.resolve("a/b/f"), "x")
      d
    }
    assert(!Files.exists(returned))
    var thrown: Path = null
    intercept[IllegalStateException](Harness.withTempDir("graft_harness_spec") { d =>
      thrown = d
      Files.writeString(d.resolve("f"), "x")
      throw new IllegalStateException("boom")
    })
    assert(thrown != null && !Files.exists(thrown))
  }

  test("sparseArgs: the flag, the given counts, else the mode's defaults") {
    assert(Harness.sparseArgs(Nil, Seq(4, 32), Seq(4, 64)) == ((false, Seq(4, 32))))
    assert(Harness.sparseArgs(Seq("sparse"), Seq(4, 32), Seq(4, 64)) == ((true, Seq(4, 64))))
    assert(Harness.sparseArgs(Seq("sparse", "8"), Seq(4, 32), Seq(4, 64)) == ((true, Seq(8))))
    assert(Harness.sparseArgs(Seq("16", "2"), Seq(4, 32), Seq(4, 64)) == ((false, Seq(16, 2))))
  }

  test("ShardBench and CdfBench lines stay valid JSON under a comma-decimal locale") {
    val saved = Locale.getDefault
    val out = new java.io.ByteArrayOutputStream
    try {
      Locale.setDefault(Locale.GERMANY)
      Console.withOut(out) {
        CdfBench.run(spark, sf, Seq("sparse", "8"))
        ShardBench.run(spark, sf, Seq("4"))
      }
    } finally Locale.setDefault(saved)
    val lines = out.toString("UTF-8").linesIterator.filter(_.startsWith("{")).toSeq
    val json = new ObjectMapper()
    val fields = lines.map(l => json.readTree(l).fieldNames.asScala.toSeq)
    assert(fields == Seq(
      Seq("metric", "nLeaves", "changed_rows", "sec"),
      Seq("metric", "nShards", "rows", "sec")))
    assert(lines.forall(l => json.readTree(l).get("sec").isDouble))
  }

  test("Bench.run keeps the summary line and bench_detail.json shapes") {
    val (line, detail) = Bench.run(spark, sf, Seq("z0", "q01"))
    assert(mask(line) ==
      """{"metric":"total","value":#,"unit":"sec","cold_total":#,""" +
      """"queries":{"q01":#,"z01":#,"z02":#,"z03":#,"z04":#,"z05":#},""" +
      """"sf":"sf0.001","detail":"bench_detail.json"}""")
    def sentinel(pass: Int) =
      s""""_sentinel_p${pass}_00":{"runs":[#],"med":#,"spread":#,"pass":#,"pos":#}"""
    def query(name: String) =
      s""""$name":{"runs":[#,#,#],"cold":#,"med":#,"spread":#,"prdds":#,"storage_mb":#,"pos":#}"""
    assert(mask(detail) ==
      """{"value":#,"cold_total":#,"runs_per_query":#,"order_seed":#,"sentinel_every":#,""" +
      (0 to 2).map(sentinel).mkString(""""sentinels":{""", ",", "},") +
      Seq("q01_pricing_summary", "z01_zh_enrich", "z02_zh_enrich_applied",
        "z03_han_script_stats", "z04_zh_convert_throughput",
        "z05_zh_enrich_structure").map(query).mkString(""""queries":{""", ",", "},") +
      s""""sf":"$sf"}""")
  }
}
