package zhbench

import org.apache.spark.sql.functions.col
import graft.operators.ZhEnrich

/** The benchmark's own tests (`python3 zhbench/run.py --selftest`).
  * Exits non-zero when one fails. */
object SelfTest {
  private var failures = 0
  private var passed = 0

  private def test(name: String)(body: => Boolean): Unit = {
    val ok = try body catch { case e: Throwable => e.printStackTrace(); false }
    if (ok) passed += 1 else failures += 1
    System.err.println(s"[zhbench] ${if (ok) "ok  " else "FAIL"} $name")
  }

  def main(args: Array[String]): Unit = {
    val out = args.sliding(2).collectFirst { case Array("--out", d) => d }.getOrElse(".")
    System.setProperty("derby.stream.error.file", s"$out/derby.log")

    // ---- spans: self time = duration minus the part children cover
    import Trace.Span
    test("self time subtracts overlapping children once and clips to the parent") {
      val spans = Seq(
        Span(1, 0, "root", 0, 100),
        Span(2, 1, "a", 10, 30), Span(3, 1, "b", 20, 50), // overlap: [10,50]
        Span(4, 1, "c", 90, 120),                         // clipped: [90,100]
        Span(5, 2, "grandchild", 12, 28))
      val self = Trace.selfTimes(spans)
      self(1) == 50 && self(2) == 4 && self(3) == 30 && self(4) == 30 && self(5) == 16
    }
    test("self time of a span without children is its duration") {
      Trace.selfTimes(Seq(Span(7, 0, "leaf", 5, 9))) == Map(7 -> 4L)
    }
    test("nested spans record their parent") {
      Trace.enabled = true
      Trace.span("outer") { Trace.span("inner") { Thread.sleep(2) } }
      Trace.enabled = false
      val outer = Trace.spans.find(_.name == "outer").get
      val inner = Trace.spans.find(_.name == "inner").get
      inner.parent == outer.id && outer.parent == 0 &&
        Trace.selfTimes(Trace.spans.toSeq)(outer.id) == outer.dur - inner.dur
    }
    test("tail is the highest percentile with ten samples above it") {
      val xs = (1 to 30).map(_.toDouble)
      Main.tail(xs) == ((20.0, 100.0 * 20 / 30)) && Main.tail(xs.take(5))._1 == 5.0
    }
    test("generator is deterministic in its seed") {
      Gen.table(3, "t", 500).rows.sameElements(Gen.table(3, "t", 500).rows) &&
        !Gen.table(3, "t", 500).rows.sameElements(Gen.table(4, "t", 500).rows)
    }

    // ---- known answer agrees with the engine's zhEnrich
    val spark = graft.GraftSession.builder("2")
      .config("spark.local.dir", s"$out/spark-local").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      for (seed <- Seq(1L, 2L, 3L)) {
        val t = Gen.table(seed, "osm_poi_point", 3000)
        test(s"seed $seed: known answer == zhEnrich over the registry form") {
          ZhEnrich.zhEnrich(Gen.frame(spark, t, "id", withTags = true), "id").count() == t.toUpdate
        }
        test(s"seed $seed: known answer == zhEnrich over the flat (Derby) form") {
          val url = s"jdbc:derby:memory:selftest$seed"
          ZhJdbc.load(url, Seq(t))
          try {
            val df = graft.sources.Jdbc.readPartitioned(spark, url, "OSM_POI_POINT", "ID", 4)
            ZhEnrich.zhEnrich(ZhJdbc.withTags(df), "ID").count() == t.toUpdate &&
              ZhJdbc.enrichTable(spark, url, "OSM_POI_POINT") == t.toUpdate &&
              ZhJdbc.valuesMatch(spark, url, t) &&
              ZhJdbc.enrichTable(spark, url, "OSM_POI_POINT") == 0
          } finally ZhJdbc.drop(url)
        }
      }
      test("the generated shares are OSM-like (about 40 % to update)") {
        val t = Gen.table(9, "osm_poi_point", 20000)
        val share = t.toUpdate.toDouble / t.rows.length
        share > 0.36 && share < 0.44
      }
      test("catalog digest ignores row and column order") {
        val df = spark.range(0, 50).selectExpr("id", "cast(id * 3 as string) as s")
        Catalog.digest(df) == Catalog.digest(df.orderBy(col("id").desc).select("s", "id"))
      }
    } finally spark.stop()

    System.err.println(s"[zhbench] selftest: $passed passed, $failures failed")
    if (failures > 0) sys.exit(1)
  }
}
