package graft

import org.apache.spark.sql.functions._
import graft.functions.{DotLL, Zh}

/** Native Catalyst expression layer: agreement with the UDF baseline,
  * SQL registration via GraftExtensions, and the merge-then-extract
  * optimizer rule (graft.plans.SimplifyMergeThenExtract). */
class ExpressionSpec extends SparkSpec {

  private val samples = Seq(
    "北京", "臺北市", "头发", "頭髮", "hello", "", "mixed 中文 text",
    "乾燥 干燥", "こんにちは", "한국")

  // Scala-UDF forms of the three functions: the baseline the native
  // expressions must agree with.
  private lazy val toSimplifiedUdf = udf(Zh.toSimplified _)
  private lazy val toTraditionalUdf = udf(Zh.toTraditional _)
  private lazy val hasHanUdf = udf(Zh.hasHan _)

  test("native zh expressions agree with the UDF baseline on all samples") {
    import spark.implicits._
    val out = samples.toDF("s").select(
      Zh.contains_han(col("s")).as("h_n"), hasHanUdf(col("s")).as("h_u"),
      Zh.zh_to_simplified(col("s")).as("s_n"), toSimplifiedUdf(col("s")).as("s_u"),
      Zh.zh_to_traditional(col("s")).as("t_n"), toTraditionalUdf(col("s")).as("t_u"))
      .collect()
    out.foreach { r =>
      assert(r.get(0) == r.get(1), s"contains_han mismatch: $r")
      assert(r.get(2) == r.get(3), s"zh_to_simplified mismatch: $r")
      assert(r.get(4) == r.get(5), s"zh_to_traditional mismatch: $r")
    }
  }

  test("native zh expressions are null-in null-out (SQL convention)") {
    import spark.implicits._
    val r = Seq(null.asInstanceOf[String]).toDF("s").select(
      Zh.contains_han(col("s")), Zh.zh_to_simplified(col("s")),
      Zh.zh_to_traditional(col("s"))).collect().head
    assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2))
  }

  test("zh functions are SQL-addressable via GraftExtensions") {
    import spark.implicits._
    samples.toDF("s").createOrReplaceTempView("zh_samples")
    val rows = spark.sql(
      """SELECT s, contains_han(s) AS h, zh_to_simplified(s) AS hans,
         zh_to_traditional(s) AS hant FROM zh_samples""").collect()
    assert(rows.length == samples.length)
    val byS = rows.map(r => r.getString(0) -> r).toMap
    assert(byS("頭髮").getBoolean(1) && byS("頭髮").getString(2) == "头发")
    assert(byS("头发").getString(3) == "頭髮")
    assert(!byS("hello").getBoolean(1))
  }

  test("signature kernels are SQL-addressable via GraftExtensions") {
    import spark.implicits._
    Seq("the quick brown fox jumps over the lazy dog")
      .toDF("t").createOrReplaceTempView("sig_samples")
    val r = spark.sql(
      """SELECT minhash_sig(t, 16) AS mh, simhash64(t) AS sh,
         winnow_fingerprint(t, 5, 4) AS wf,
         dot_ll(array(1L, 2L, 3L), array(4L, 5L, 6L)) AS d,
         interleave_bits(5L, 3L) AS z
         FROM sig_samples""").collect().head
    assert(r.getSeq[Long](0).length == 16)
    assert(r.getLong(1) != 0L)
    assert(r.getSeq[Long](2).nonEmpty)
    assert(r.getLong(3) == 32L)
    assert(r.getLong(4) == graft.functions.InterleaveBits.morton(5L, 3L))
  }

  test("minhash_sig generated code compiles and matches interpreted eval") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateMutableProjection
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String
    val k = 16
    val expr = graft.functions.MinHashSig(
      BoundReference(0, StringType, nullable = true), k)
    // generate() throws if the emitted Java fails to compile — the
    // codegen gate; Spark would otherwise fall back silently and the
    // hottest dedup kernel would quietly leave whole-stage codegen
    val proj = GenerateMutableProjection.generate(Seq(expr))
    for (s <- Seq("the quick brown fox jumps over the lazy dog",
                  "one", "two words", "", "a b c d e f g h")) {
      val row = InternalRow(UTF8String.fromString(s))
      val gen = proj(row).getArray(0).toLongArray()
      val interp = expr.eval(row)
        .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toLongArray()
      assert(gen.toSeq == interp.toSeq, s"codegen/interpreted drift on '$s'")
      assert(gen.length == k && gen.forall(_ != Long.MaxValue))
    }
    val nullRow = InternalRow(null)
    assert(proj(nullRow).isNullAt(0) && expr.eval(nullRow) == null)
  }

  test("simhash_sig and winnow_fingerprint codegen compile and match interpreted eval") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateMutableProjection
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String
    val sh = graft.functions.SimHashSig(BoundReference(0, StringType, nullable = true))
    val wf = graft.functions.WinnowFingerprint(
      BoundReference(0, StringType, nullable = true), 8, 16)
    val proj = GenerateMutableProjection.generate(Seq(sh, wf))
    val samples = Seq(
      "the quick brown fox jumps over the lazy dog and the dog sleeps",
      "dup dup dup dup dup", "one", "", "short",
      "a b c d e f g h i j k l m n o p q r s t u v w x y z")
    for (s <- samples) {
      val row = InternalRow(UTF8String.fromString(s))
      val out = proj(row)
      assert(out.getLong(0) == sh.eval(row).asInstanceOf[Long],
        s"simhash codegen/interpreted drift on '$s'")
      val genFp = out.getArray(1).toLongArray().toSeq
      val interpFp = wf.eval(row).asInstanceOf[ArrayData].toLongArray().toSeq
      assert(genFp == interpFp, s"winnow codegen/interpreted drift on '$s'")
      assert(genFp == genFp.sorted && genFp.distinct == genFp)
    }
    val nullRow = InternalRow(null)
    assert(proj(nullRow).isNullAt(0) && proj(nullRow).isNullAt(1))
  }

  test("dot_ll generated code compiles and matches interpreted eval") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateMutableProjection
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, LongType}
    val expr = DotLL(
      BoundReference(0, ArrayType(LongType), nullable = true),
      BoundReference(1, ArrayType(LongType), nullable = true))
    // generate() throws if the emitted Java fails to compile — this is the
    // codegen gate; Spark would otherwise fall back to interpreted silently.
    val proj = GenerateMutableProjection.generate(Seq(expr))
    val row = InternalRow(
      ArrayData.toArrayData(Array(1L, 2L, 3L)), ArrayData.toArrayData(Array(4L, 5L, 6L)))
    assert(proj(row).getLong(0) == 32L)
    assert(expr.eval(row).asInstanceOf[Long] == 32L)
    val shorter = InternalRow(
      ArrayData.toArrayData(Array(7L)), ArrayData.toArrayData(Array(4L, 5L, 6L)))
    assert(proj(shorter).getLong(0) == 28L && expr.eval(shorter) == 28L)
    val nullRow = InternalRow(null, ArrayData.toArrayData(Array(1L)))
    assert(proj(nullRow).isNullAt(0) && expr.eval(nullRow) == null)
  }

  test("interleave_bits_n codegen compiles, matches interpreted eval, and n=2 agrees with the magic-mask morton") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateMutableProjection
    import org.apache.spark.sql.types.LongType
    import graft.functions.{InterleaveBits, InterleaveBitsN}
    val expr = InterleaveBitsN(Seq(
      BoundReference(0, LongType, nullable = true),
      BoundReference(1, LongType, nullable = true),
      BoundReference(2, LongType, nullable = true)), 16)
    // generate() throws if the emitted Java fails to compile — the
    // codegen gate (the layout key must stay in whole-stage codegen)
    val proj = GenerateMutableProjection.generate(Seq(expr))
    val rnd = new scala.util.Random(7)
    for (_ <- 0 until 50) {
      val row = InternalRow(rnd.nextInt(65536).toLong,
        rnd.nextInt(65536).toLong, rnd.nextInt(65536).toLong)
      assert(proj(row).getLong(0) == expr.eval(row).asInstanceOf[Long],
        s"codegen/interpreted drift on $row")
    }
    // 3-D round-robin: bit i of dim d lands at position 3i+d
    assert(InterleaveBits.mortonN(Array(1L, 0L, 0L), 16) == 1L)
    assert(InterleaveBits.mortonN(Array(0L, 1L, 0L), 16) == 2L)
    assert(InterleaveBits.mortonN(Array(0L, 0L, 1L), 16) == 4L)
    assert(InterleaveBits.mortonN(Array(2L, 0L, 0L), 16) == 8L)
    // n=2 at 32 bits IS the binary magic-mask ladder
    for (_ <- 0 until 50) {
      val x = rnd.nextLong() & 0xFFFFFFFFL
      val y = rnd.nextLong() & 0xFFFFFFFFL
      assert(InterleaveBits.mortonN(Array(x, y), 32) ==
        InterleaveBits.morton(x, y), s"n=2 drift on ($x, $y)")
    }
    // null-in null-out, both paths
    val nullRow = InternalRow(null, 1L, 2L)
    assert(proj(nullRow).isNullAt(0) && expr.eval(nullRow) == null)
  }

  test("bucket_by_cuts codegen compiles, matches interpreted eval, and the upper-bound search is monotone under duplicate cuts") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateMutableProjection
    import org.apache.spark.sql.types.DoubleType
    import graft.functions.BucketByCuts
    // duplicate cuts model a value heavier than one quantile step —
    // the skew case the expression exists for
    val cuts = Array(1.0, 2.0, 2.0, 2.0, 5.0, 9.0, 9.0)
    val expr = BucketByCuts(
      BoundReference(0, DoubleType, nullable = true), cuts, 16)
    val proj = GenerateMutableProjection.generate(Seq(expr))
    // known values: count of cuts <= v, times scale
    val expect = Seq(0.5 -> 0L, 1.0 -> 1L, 1.5 -> 1L, 2.0 -> 4L,
      3.0 -> 4L, 5.0 -> 5L, 8.9 -> 5L, 9.0 -> 7L, 100.0 -> 7L)
    for ((v, b) <- expect) {
      val row = InternalRow(v)
      assert(expr.eval(row) == b * 16, s"interpreted bucket($v)")
      assert(proj(row).getLong(0) == b * 16, s"codegen bucket($v)")
    }
    // monotone over a random sweep, codegen == interpreted
    val rnd = new scala.util.Random(11)
    val vs = Seq.fill(200)(rnd.nextDouble() * 12).sorted
    val bs = vs.map { v =>
      val row = InternalRow(v)
      val g = proj(row).getLong(0)
      assert(g == expr.eval(row).asInstanceOf[Long], s"drift at $v")
      g
    }
    assert(bs == bs.sorted, "bucket map must be monotone")
    val nullRow = InternalRow(null)
    assert(proj(nullRow).isNullAt(0) && expr.eval(nullRow) == null)
  }

  test("merge-then-extract rule removes the map_concat from the plan") {
    import spark.implicits._
    val df = Seq((1L, Map("a" -> "x")), (2L, null.asInstanceOf[Map[String, String]]))
      .toDF("id", "tags")
    val q = df.withColumn("m",
        map_concat(coalesce(col("tags"), map()), map(lit("k1"), lit("v1"), lit("k2"), col("id").cast("string"))))
      .select(col("id"), element_at(col("m"), "k2").as("got"))
    val optimized = q.queryExecution.optimizedPlan
    assert(!optimized.expressions.exists(_.exists(_.isInstanceOf[
      org.apache.spark.sql.catalyst.expressions.MapConcat])),
      s"map_concat survived optimization:\n$optimized")
    val got = q.orderBy("id").collect().map(_.getString(1)).toSeq
    assert(got == Seq("1", "2"))
  }

  test("merge-then-extract preserves map_concat null semantics") {
    import spark.implicits._
    // tags NULL (not coalesced) -> map_concat yields NULL -> extract NULL
    val df = Seq((1L, Map("a" -> "x")), (2L, null.asInstanceOf[Map[String, String]]))
      .toDF("id", "tags")
    val q = df.select(col("id"),
      element_at(map_concat(col("tags"), map(lit("k"), lit("v"))), "k").as("got"))
    val got = q.orderBy("id").collect().map(r => Option(r.getString(1))).toSeq
    assert(got == Seq(Some("v"), None))
  }

  test("rule does not fire when an opaque map could shadow the key") {
    import spark.implicits._
    val df = Seq((1L, Map("k" -> "shadowed"))).toDF("id", "tags")
    // tags is RIGHT of the literal map: its runtime "k" must win (LAST_WIN)
    val q = df.select(
      element_at(map_concat(map(lit("k"), lit("v")), col("tags")), "k").as("got"))
    assert(q.collect().head.getString(0) == "shadowed")
  }
}
