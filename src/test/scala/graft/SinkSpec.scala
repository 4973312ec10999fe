package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._

/** Output-layout contract for the curated corpus: the write side of a
  * 100 TB pipeline matters as much as the read side — downstream
  * loaders want partition directories they can prune, and files whose
  * row counts are bounded (a dataloader shard must fit in memory).
  */
class SinkSpec extends SparkSpec {

  /** Order-free content fingerprint of a documents-shaped frame.
    * bit_xor, not sum: an int64 sum of hashes overflows under ANSI
    * mode. Pair with a row-count check — xor alone is blind to rows
    * whose multiplicity changes by an even number. */
  private def docFp(df: org.apache.spark.sql.DataFrame): Long =
    df.select(xxhash64(col("doc_id"), col("text"), col("lang")).as("h"))
      .agg(expr("bit_xor(h)")).head.getLong(0)

  /** The committed head body of a manifested leaf: the newest
    * non-blank `_manifest-v` of its trail. */
  private def headBody(dir: String): String = {
    val (fs, root) = graft.operators.ManifestIo.resolve(dir,
      spark.sparkContext.hadoopConfiguration)
    graft.operators.Warehouse.trailHead(fs, root).body
      .getOrElse(fail(s"$dir has no committed head"))
  }

  test("partitioned write: prunable layout, bounded files, lossless read-back") {
    val docs = graft.sources.Tables(spark, "/root/testdata/sf0.001", "documents")
    val out = Files.createTempDirectory("graft_sink").resolve("corpus").toString
    docs.write
      .partitionBy("lang")
      .option("maxRecordsPerFile", 100)
      .mode("overwrite").parquet(out)

    // (a) one directory per language — the pruning unit
    val langDirs = new java.io.File(out).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("lang=")).map(_.getName).sorted
    val langs = docs.select(col("lang")).distinct()
      .collect().map(r => s"lang=${r.getString(0)}").sorted
    assert(langDirs.toSeq == langs.toSeq, s"dirs $langDirs vs langs $langs")

    // (b) no file exceeds the record bound (shard-fits-in-memory contract)
    val back = spark.read.parquet(out)
    val perFile = back
      .select(input_file_name().as("f"))
      .groupBy(col("f")).count().agg(max(col("count"))).head.getLong(0)
    assert(perFile <= 100L, s"a file holds $perFile rows")

    // (c) lossless: same rows, same content fingerprint (order-free)
    assert(back.count() == docs.count())
    assert(docFp(back) == docFp(docs))

    // (d) a lang filter reaches the scan as a PARTITION filter — the
    // read touches one directory, not the corpus
    val plan = back.filter(col("lang") === "en").queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(lang"), plan)
  }

  test("manifested compaction: a concurrent reader never sees an absent or partial table") {
    val docs = graft.sources.Tables(spark, "/root/testdata/sf0.001", "documents")
    val out = Files.createTempDirectory("graft_mcompact").resolve("tbl").toString
    docs.repartition(1).write.option("maxRecordsPerFile", 25)
      .mode("overwrite").parquet(out)
    val beforeN = docs.count()
    val beforeFp = docFp(spark.read.parquet(out))

    // adoption is the documented one-time, pre-concurrency migration —
    // run it (plus the first commit) before any reader exists
    graft.operators.Warehouse.compactManifested(spark, out, targetFileBytes = 1L << 30)

    // a reader hammering the manifest WHILE commits happen: every
    // single read must land on a complete generation (an absence
    // window would surface here as a missing-path failure or a
    // partial count)
    @volatile var stop = false
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val reads = new java.util.concurrent.atomic.AtomicInteger(0)
    val reader = new Thread(() => {
      while (!stop) {
        try {
          // withManifested: a read that resolves a generation and is
          // mid-scan when that generation is GC'd two commits later
          // (back-to-back commits on a slow host outrun the one-
          // generation retention grace) re-resolves and re-runs once
          val n = graft.operators.Warehouse.withManifested(spark, out)(_.count())
          reads.incrementAndGet()
          if (n != beforeN) failures.add(s"read saw $n rows, want $beforeN")
        } catch { case e: Throwable => failures.add(s"read failed: ${e.getMessage}") }
      }
    })
    reader.start()
    try {
      // three further commits, all under concurrent reads
      (1 to 3).foreach { _ =>
        graft.operators.Warehouse.compactManifested(spark, out, targetFileBytes = 1L << 30)
      }
    } finally { stop = true; reader.join(30000) }
    assert(failures.isEmpty, s"concurrent reader hit: ${failures.asScala.toSeq.take(3)}")
    assert(reads.get() > 0, "reader never completed a read")

    // steady state: one live generation + one retained predecessor,
    // content bit-identical through every commit
    assert(graft.operators.Warehouse.readManifested(spark, out).count() == beforeN)
    assert(docFp(graft.operators.Warehouse.readManifested(spark, out)) == beforeFp)
    val gens = new java.io.File(out).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith(".gen-")).map(_.getName).sorted
    assert(gens.toSeq == Seq(".gen-3", ".gen-4"), gens.mkString(","))
    val live = spark.read.parquet(s"$out/.gen-4")
    assert(live.count() == beforeN)
  }

  test("manifested partitioned compaction: per-leaf pointers, concurrent reader never sees an absent partition") {
    val docs = graft.sources.Tables(spark, "/root/testdata/sf0.001", "documents")
    val out = Files.createTempDirectory("graft_mpart").resolve("tbl").toString
    docs.repartition(1).write.partitionBy("lang")
      .option("maxRecordsPerFile", 20).mode("overwrite").parquet(out)
    val beforeN = docs.count()
    val beforeFp = docFp(docs)
    val nLangs = docs.select(col("lang")).distinct().count()

    // adoption (one-time migration, pre-concurrency): every leaf gets
    // its own gen-0 + _manifest-1
    val adopted = graft.operators.Warehouse
      .compactManifestedPartitioned(spark, out, targetFileBytes = 1L << 30)
    assert(adopted.size == nLangs, s"leaves adopted: $adopted")
    assert(adopted.keys.forall(_.startsWith("lang=")), adopted.keys.toSeq)

    // a reader hammering ALL leaves through their manifests while
    // per-leaf commits land: every read must see every partition,
    // complete — a per-leaf absence window would surface here as a
    // missing leaf (count short by a whole language) or a resolve
    // failure
    @volatile var stop = false
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val reads = new java.util.concurrent.atomic.AtomicInteger(0)
    val reader = new Thread(() => {
      while (!stop) {
        try {
          // withManifestedPartitioned: any leaf whose generation is
          // GC'd mid-count re-resolves every leaf head and re-runs once
          val n = graft.operators.Warehouse
            .withManifestedPartitioned(spark, out)(_.count())
          reads.incrementAndGet()
          if (n != beforeN) failures.add(s"read saw $n rows, want $beforeN")
        } catch { case e: Throwable => failures.add(s"read failed: ${e.getMessage}") }
      }
    })
    reader.start()
    try {
      // clusterBy forces a genuine re-fold each round (a plain compact
      // would steady-state SKIP already-folded leaves — pinned below)
      (1 to 2).foreach { _ =>
        graft.operators.Warehouse
          .compactManifestedPartitioned(spark, out, targetFileBytes = 1L << 30,
            clusterBy = Some("doc_id"))
      }
    } finally { stop = true; reader.join(60000) }
    assert(failures.isEmpty, s"concurrent reader hit: ${failures.asScala.toSeq.take(3)}")
    assert(reads.get() > 0, "reader never completed a read")

    // steady state: content bit-identical THROUGH the partition-column
    // re-attach (readManifestedPartitioned restores lang from the
    // directory names), per-leaf generation retention as documented
    val back = graft.operators.Warehouse.readManifestedPartitioned(spark, out)
    assert(back.count() == beforeN)
    assert(docFp(back) == beforeFp)
    // adoption committed gen-1 over the adopted gen-0, then two more
    // rounds: live gen-3 + retained gen-2 in every leaf
    val enGens = new java.io.File(s"$out/lang=en").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith(".gen-")).map(_.getName).sorted
    assert(enGens.toSeq == Seq(".gen-2", ".gen-3"), enGens.mkString(","))

    // STEADY-STATE SKIP (r16): a plain compact over already-folded
    // leaves commits nothing anywhere — no leaf generation moves and
    // no root version is spent (maintenance under a live stream is
    // free when there is nothing to fold)
    val rvsBefore = graft.operators.Warehouse.rootSnapshots(out)
    graft.operators.Warehouse
      .compactManifestedPartitioned(spark, out, targetFileBytes = 1L << 30)
    assert(graft.operators.Warehouse.rootSnapshots(out) == rvsBefore,
      "a steady-state compaction published a root version")
    val enGens2 = new java.io.File(s"$out/lang=en").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith(".gen-")).map(_.getName).sorted
    assert(enGens2.toSeq == enGens.toSeq, "a steady-state compaction folded a leaf")

    // compactManifested itself refuses a partitioned root, loudly
    val ex = intercept[IllegalArgumentException] {
      graft.operators.Warehouse.compactManifested(spark, out)
    }
    assert(ex.getMessage.contains("compactManifestedPartitioned"))
  }

  test("manifest protocol: any append/compact interleaving preserves content at every step") {
    // seeded pseudo-random op sequences over the two commit kinds the
    // protocol exposes (streaming append, maintenance compact): after
    // EVERY op, the manifested read must equal the exact union of the
    // batches appended so far, every generation the head lists must
    // exist on disk, and a compact must leave a single-entry list.
    // This is the algebra st22/st23 rely on, checked shape-free.
    for (seed <- Seq(11L, 42L, 77L)) {
      val rnd = new scala.util.Random(seed)
      val dir = Files.createTempDirectory(s"graft_mprop_$seed").resolve("tbl").toString
      var appended = 0
      def expectIds(n: Int): Seq[Long] = (0 until n).flatMap(i =>
        (i * 100L) until (i * 100L + 50L))
      (1 to 8).foreach { _ =>
        if (appended == 0 || rnd.nextBoolean()) {
          graft.operators.Warehouse.appendManifested(spark, dir,
            spark.range(appended * 100L, appended * 100L + 50L).toDF("id"))
          appended += 1
        } else {
          graft.operators.Warehouse.compactManifested(spark, dir,
            targetFileBytes = 1L << 30)
          // generation lines only — `#stats:`/`#txn:` lines are
          // manifest METADATA, not directories (the format contract)
          val listed = headBody(dir).trim.split("\n")
            .filterNot(_.startsWith("#"))
          assert(listed.length == 1, s"seed=$seed: compact left ${listed.toSeq}")
        }
        val headGens = headBody(dir).trim.split("\n")
          .filterNot(_.startsWith("#"))
        headGens.foreach(g => assert(new java.io.File(dir, g).isDirectory,
          s"seed=$seed: head lists missing generation $g"))
        val got = graft.operators.Warehouse.readManifested(spark, dir)
          .collect().map(_.getLong(0)).sorted.toSeq
        assert(got == expectIds(appended),
          s"seed=$seed after $appended appends: content diverged")
      }
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(dir).getParentFile)
    }
  }

  test("ivf-pq layout: cid-partitioned corpus — a probe reads only the probed partition dirs") {
    import graft.operators.Similarity
    val emb = graft.sources.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    // the physical ANN layout SURVEY §9 promises: corpus partitioned by
    // the TRAINED coarse quantizer's cell id, so an nProbe-cell probe is
    // directory-level partition pruning, not a corpus scan
    val member = Similarity.kmeansAssign(emb, 4)
      .select(col("vec_id"), col("cluster_id").as("cid"))
    val out = Files.createTempDirectory("graft_ivfpq").resolve("corpus").toString
    emb.join(member, Seq("vec_id"))
      .write.partitionBy("cid").mode("overwrite").parquet(out)
    val cidDirs = new java.io.File(out).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cid=")).map(_.getName).sorted
    assert(cidDirs.length == 4, s"expected 4 cells, got ${cidDirs.toSeq}")
    def filesUnder(dirs: Seq[String]) = dirs.map(d =>
      new java.io.File(s"$out/$d").listFiles()
        .count(f => f.isFile && f.getName.endsWith(".parquet"))).sum

    // an nProbe=2 probe over two cells
    val probed = cidDirs.take(2).map(_.stripPrefix("cid=").toLong)
    val probe = spark.read.parquet(out)
      .filter(col("cid").isin(probed: _*))
    // execute through the Dataset's OWN QueryExecution (a write would
    // plan a separate execution and leave these metrics untouched)
    assert(probe.collect().nonEmpty, "probe returned no rows")
    // (a) the filter reaches the scan as a PARTITION filter, and
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters:") && plan.contains("cid"), plan)
    // (b) the scan's own numFiles metric says it opened exactly the
    // probed partitions' files — the directory-pruned read, measured,
    // not inferred from the plan text
    val scan = probe.queryExecution.executedPlan.collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.getOrElse(fail(s"no FileSourceScanExec in:\n$plan"))
    val numFiles = scan.metrics("numFiles").value
    assert(numFiles == filesUnder(cidDirs.take(2)).toLong,
      s"scan opened $numFiles files, probed dirs hold ${filesUnder(cidDirs.take(2))}")
    assert(numFiles < filesUnder(cidDirs.toSeq).toLong,
      "probe touched every partition — pruning did not happen")
  }

  test("schema evolution on read: mergeSchema unifies widening batches, null-fills the old ones") {
    val docs = graft.sources.Tables(spark, "/root/testdata/sf0.001", "documents")
    val root = Files.createTempDirectory("graft_evolve").resolve("t").toString
    // epoch-1 writer knew two columns; epoch-2 added lang + n_chars —
    // the additive evolution a long-lived lake accumulates
    docs.filter(col("doc_id") % 2 === 0).select(col("doc_id"), col("text"))
      .write.mode("append").parquet(root)
    docs.filter(col("doc_id") % 2 =!= 0)
      .select(col("doc_id"), col("text"), col("lang"), col("n_chars"))
      .write.mode("append").parquet(root)

    val merged = spark.read.option("mergeSchema", "true").parquet(root)
    assert(merged.columns.sorted.toSeq == Seq("doc_id", "lang", "n_chars", "text"),
      merged.columns.mkString(","))
    // old-epoch rows surface with nulls in the new columns, new-epoch
    // rows keep their values — no row lost either way
    val counts = merged.agg(
      count(lit(1)), sum(when(col("lang").isNull, 1L).otherwise(0L))).head
    assert(counts.getLong(0) == docs.count())
    assert(counts.getLong(1) == docs.filter(col("doc_id") % 2 === 0).count())
    // and filters on the evolved column still push to the scan
    val p = merged.filter(col("lang") === "en").queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters") && p.contains("lang"), p)
  }

  test("z-ordered write: a box predicate on EITHER dimension prunes files; single-dim sort cannot") {
    import graft.functions.InterleaveBits
    // 15k orders hashed onto a 256×256 grid — dense enough that each
    // file's min/max tracks its z-interval's bounding box
    val base = graft.sources.Tables(spark, "/root/testdata/sf0.01", "orders")
      .select(col("o_orderkey"),
        (col("o_custkey") % 256).as("x"), (col("o_orderkey") % 256).as("y"))
      .withColumn("zkey", InterleaveBits.interleave_bits(col("x"), col("y")))
    val root = Files.createTempDirectory("graft_zorder")
    val zdir = root.resolve("z").toString
    val xdir = root.resolve("x").toString
    val nFiles = 16
    base.repartitionByRange(nFiles, col("zkey"))
      .sortWithinPartitions(col("zkey"))
      .write.mode("overwrite").parquet(zdir)
    base.repartitionByRange(nFiles, col("x"))
      .sortWithinPartitions(col("x"))
      .write.mode("overwrite").parquet(xdir)

    // per-file min/max — exactly the parquet footer stats a scan's
    // predicate pushdown consults for row-group/file skipping
    def boxes(dir: String) = spark.read.parquet(dir)
      .groupBy(input_file_name().as("f"))
      .agg(min(col("x")).as("x0"), max(col("x")).as("x1"),
        min(col("y")).as("y0"), max(col("y")).as("y1"))
      .collect()
    def overlapping(dir: String, d: String, lo: Long, hi: Long) =
      boxes(dir).count { r =>
        val (a, b) = if (d == "x") (r.getLong(1), r.getLong(2))
                     else (r.getLong(3), r.getLong(4))
        a <= hi && b >= lo
      }

    // a 1/8-wide slice of either dimension: the 16 z-range files tile
    // the grid in ~64×64 quadrants, so ≤ half the files can intersect
    // the slice on EITHER axis — that's the multi-dimensional pruning
    // z-ordering buys
    assert(overlapping(zdir, "x", 0, 31) <= nFiles / 2,
      s"z layout: x-slice hit ${overlapping(zdir, "x", 0, 31)} of $nFiles files")
    assert(overlapping(zdir, "y", 0, 31) <= nFiles / 2,
      s"z layout: y-slice hit ${overlapping(zdir, "y", 0, 31)} of $nFiles files")
    // the x-sorted control layout: great for x, but a y-slice overlaps
    // essentially every file — single-dim sort cannot skip on y
    assert(overlapping(xdir, "x", 0, 31) <= nFiles / 4,
      "x layout should prune x slices tightly")
    assert(overlapping(xdir, "y", 0, 31) >= nFiles - 2,
      "x layout unexpectedly pruned the y slice — control is broken")
  }

  test("snapshot time travel: readManifestedAt survives one commit, fails loudly past the window") {
    val W = graft.operators.Warehouse
    val dir = Files.createTempDirectory("graft_snap").resolve("tbl").toString
    W.appendManifested(spark, dir, spark.range(0, 50).toDF("id"))   // v1
    W.appendManifested(spark, dir, spark.range(100, 150).toDF("id")) // v2
    assert(W.snapshots(dir) == Seq(1L, 2L))
    // point-in-time reads: v1 is the first batch alone, v2 the union
    assert(W.readManifestedAt(spark, dir, 1L).count() == 50)
    assert(W.readManifestedAt(spark, dir, 2L).count() == 100)
    // one compaction (v3, default retainSnapshots=1): v2 must STILL be
    // readable — the pre-commit snapshot is the grace/time-travel
    // window — while v1 has aged out of it
    W.compactManifested(spark, dir, targetFileBytes = 1L << 30)
    assert(W.readManifestedAt(spark, dir, 2L)
      .collect().map(_.getLong(0)).sorted.toSeq ==
      ((0L until 50L) ++ (100L until 150L)))
    val gone = intercept[IllegalArgumentException] {
      W.readManifestedAt(spark, dir, 1L)
    }
    assert(gone.getMessage.contains("not retained"), gone.getMessage)
    // a second compaction (v4) moves the window past v2 as well
    W.compactManifested(spark, dir, targetFileBytes = 1L << 30)
    intercept[IllegalArgumentException] { W.readManifestedAt(spark, dir, 2L) }
    // current read unaffected throughout
    assert(W.readManifested(spark, dir).count() == 100)
    // the GC'd-generation guard fails loudly too (a manifest whose
    // generation directory was removed out-of-band — external cleanup,
    // or a retention race): never a silent partial read
    val vLive = W.snapshots(dir).last
    val gens = java.nio.file.Files.readString(
      java.nio.file.Paths.get(dir, s"_manifest-$vLive")).trim.split("\n")
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(dir, gens.head))
    val gced = intercept[IllegalStateException] {
      W.readManifestedAt(spark, dir, vLive)
    }
    assert(gced.getMessage.contains("garbage-collected"), gced.getMessage)
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(dir).getParentFile)
  }

  test("retention knob: retainSnapshots widens the time-travel window like Iceberg/Delta") {
    val W = graft.operators.Warehouse
    val dir = Files.createTempDirectory("graft_retain").resolve("tbl").toString
    W.appendManifested(spark, dir, spark.range(0, 10).toDF("id"))    // v1
    W.appendManifested(spark, dir, spark.range(10, 20).toDF("id"))   // v2
    W.appendManifested(spark, dir, spark.range(20, 30).toDF("id"))   // v3
    // compact keeping THREE snapshots: every prior version stays
    // readable at its own point-in-time content
    W.compactManifested(spark, dir, targetFileBytes = 1L << 30,
      retainSnapshots = 3)                                           // v4
    assert(W.snapshots(dir) == Seq(1L, 2L, 3L, 4L))
    assert(W.readManifestedAt(spark, dir, 1L).count() == 10)
    assert(W.readManifestedAt(spark, dir, 2L).count() == 20)
    assert(W.readManifestedAt(spark, dir, 3L).count() == 30)
    assert(W.readManifestedAt(spark, dir, 4L).count() == 30)
    // tightening back to 1 (v5) collapses the window again
    W.compactManifested(spark, dir, targetFileBytes = 1L << 30)      // v5
    assert(W.snapshots(dir) == Seq(4L, 5L))
    intercept[IllegalArgumentException] { W.readManifestedAt(spark, dir, 3L) }
    assert(W.readManifestedAt(spark, dir, 4L).count() == 30)
    assert(W.readManifested(spark, dir).count() == 30)
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(dir).getParentFile)
  }

  test("time-based retention: retainFor keeps snapshots by age, composing with the count knob") {
    val W = graft.operators.Warehouse
    val dir = Files.createTempDirectory("graft_tret").resolve("tbl").toString
    def ageManifest(v: Long, ageMs: Long): Unit =
      java.nio.file.Files.setLastModifiedTime(
        java.nio.file.Paths.get(dir, s"_manifest-$v"),
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - ageMs))
    W.appendManifested(spark, dir, spark.range(0, 10).toDF("id"))    // v1
    W.appendManifested(spark, dir, spark.range(10, 20).toDF("id"))   // v2
    W.appendManifested(spark, dir, spark.range(20, 30).toDF("id"))   // v3
    // WIDEN by time: count knob alone (retainSnapshots=0) would keep
    // only the new commit, but every prior manifest is younger than
    // the 1 h window — all stay time-travelable
    W.compactManifested(spark, dir, targetFileBytes = 1L << 30,
      retainSnapshots = 0,
      retainFor = Some(java.time.Duration.ofHours(1)))               // v4
    assert(W.snapshots(dir) == Seq(1L, 2L, 3L, 4L))
    assert(W.readManifestedAt(spark, dir, 1L).count() == 10)
    assert(W.readManifestedAt(spark, dir, 3L).count() == 30)
    // TIGHTEN by time: age v1..v3 past the window (simulated commit
    // mtimes 2 h back — the clock retention runs on); the count knob
    // (1) still keeps v4 even though nothing is young but v5
    (1L to 3L).foreach(ageManifest(_, 2L * 3600 * 1000))
    W.compactManifested(spark, dir, targetFileBytes = 1L << 30,
      retainSnapshots = 1,
      retainFor = Some(java.time.Duration.ofHours(1)))               // v5
    assert(W.snapshots(dir) == Seq(4L, 5L))
    intercept[IllegalArgumentException] { W.readManifestedAt(spark, dir, 3L) }
    assert(W.readManifestedAt(spark, dir, 4L).count() == 30)
    assert(W.readManifested(spark, dir).count() == 30)
    // history exposes the commit timestamp (the retention clock):
    // commit_ts non-null and ascending with version on live commits
    val hist = W.history(spark, dir).orderBy(col("version")).collect()
    assert(hist.map(_.getLong(0)).toSeq == Seq(4L, 5L))
    val ts = hist.map(_.getTimestamp(5))
    assert(ts.forall(_ != null) && !ts(0).after(ts(1)), ts.mkString(", "))
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(dir).getParentFile)
  }

  test("schema evolution: an added column reads union-with-nulls across generations") {
    val W = graft.operators.Warehouse
    val dir = Files.createTempDirectory("graft_evolve").resolve("tbl").toString
    W.appendManifested(spark, dir, spark.range(0, 40).toDF("id"))     // v1
    W.appendManifested(spark, dir,                                    // v2
      spark.range(40, 60).toDF("id").withColumn("score", col("id") * 2))
    val got = W.readManifested(spark, dir)
    // the add-a-column lake contract: both columns visible, pre-
    // evolution rows surface the new column as null, no row lost
    assert(got.columns.sorted.toSeq == Seq("id", "score"))
    assert(got.count() == 60)
    assert(got.filter(col("score").isNull).count() == 40)
    assert(got.filter(col("score") === col("id") * 2).count() == 20)
    // time travel sees the schema AS OF the snapshot
    assert(W.readManifestedAt(spark, dir, 1L).columns.toSeq == Seq("id"))
    // compaction folds the union into one generation, preserving it
    W.compactManifested(spark, dir, targetFileBytes = 1L << 30)
    val folded = W.readManifested(spark, dir)
    assert(folded.columns.sorted.toSeq == Seq("id", "score"))
    assert(folded.filter(col("score").isNull).count() == 40)
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(dir).getParentFile)
  }

  test("append onto loose parquet adopts it as generation 0 instead of dropping it") {
    val W = graft.operators.Warehouse
    val dir = Files.createTempDirectory("graft_adopt").resolve("tbl").toString
    spark.range(0, 30).toDF("id").repartition(1)
      .write.mode("overwrite").parquet(dir)
    // sanity: plain leaf, no manifest yet
    assert(graft.operators.Warehouse.snapshots(dir).isEmpty)
    // the ADVICE r11 hole: an append here used to commit a pointer
    // excluding the loose files — now they become generation 0 first
    W.appendManifested(spark, dir, spark.range(100, 120).toDF("id"))
    assert(W.readManifested(spark, dir)
      .collect().map(_.getLong(0)).sorted.toSeq ==
      ((0L until 30L) ++ (100L until 120L)))
    // a batchId-keyed producer whose batch 0 would collide with the
    // adopted generation fails loudly instead of overwriting it
    val dir2 = Files.createTempDirectory("graft_adopt2").resolve("tbl").toString
    spark.range(0, 5).toDF("id").repartition(1)
      .write.mode("overwrite").parquet(dir2)
    val clash = intercept[IllegalArgumentException] {
      W.appendManifested(spark, dir2, spark.range(5, 9).toDF("id"),
        genId = Some(0L))
    }
    assert(clash.getMessage.contains("generation 0"), clash.getMessage)
    // crash-window recovery: an adoption that moved the loose files
    // into .gen-0 but died before its manifest commit must NOT be
    // overwritten by the next append — it commits .gen-0 first
    val dir3 = Files.createTempDirectory("graft_adopt3").resolve("tbl").toString
    spark.range(0, 7).toDF("id").repartition(1)
      .write.mode("overwrite").parquet(new java.io.File(dir3, ".gen-0").getPath)
    assert(W.snapshots(dir3).isEmpty) // the stranded state
    W.appendManifested(spark, dir3, spark.range(100, 104).toDF("id"))
    assert(W.readManifested(spark, dir3)
      .collect().map(_.getLong(0)).sorted.toSeq ==
      ((0L until 7L) ++ (100L until 104L)))
    Seq(dir, dir2, dir3).foreach(d => org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(d).getParentFile))
  }

  test("partitioned snapshot read: root version maps time-travel across leaves") {
    val W = graft.operators.Warehouse
    val docs = graft.sources.Tables(spark, "/root/testdata/sf0.001", "documents")
    val dir = Files.createTempDirectory("graft_psnap").resolve("tbl").toString
    docs.write.partitionBy("lang").mode("overwrite").parquet(dir)
    // the first root-level op migrates the root onto the VERSION MAP
    // line (r16): the compact adopts + folds every leaf and publishes
    // _root-manifest-1 recording each leaf's head
    W.compactManifestedPartitioned(spark, dir, targetFileBytes = 1L << 30)
    assert(W.rootSnapshots(dir) == Seq(1L), W.rootSnapshots(dir).toString)
    val baseN = docs.count()
    // INDEPENDENT per-leaf appends move the leaves but publish no root
    // snapshot: the current read sees them, root version 1 does not —
    // leaf-level commits become root-addressable at the NEXT root op
    val leaves = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("lang=")).sortBy(_.getName)
    assert(leaves.length >= 2)
    for (leaf <- leaves)
      W.appendManifested(spark, leaf.getPath, docs.drop("lang").limit(3))
    val nowN = baseN + 3L * leaves.length
    assert(W.readManifestedPartitioned(spark, dir).count() == nowN)
    assert(W.readManifestedPartitionedAt(spark, dir, 1L).count() == baseN)
    // partition values re-attach on the snapshot read too
    assert(W.readManifestedPartitionedAt(spark, dir, 1L)
      .select(col("lang")).distinct().count() == leaves.length.toLong)
    // the next root op snapshots the moved heads into map 2 (and the
    // appends fold, so the leaves were genuinely touched)
    W.compactManifestedPartitioned(spark, dir, targetFileBytes = 1L << 30)
    assert(W.readManifestedPartitionedAt(spark, dir, 2L).count() == nowN)
    // an unknown root version fails loudly, never a partial union
    val ex = intercept[IllegalArgumentException] {
      W.readManifestedPartitionedAt(spark, dir, 99L)
    }
    assert(ex.getMessage.contains("not retained"), ex.getMessage)
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(dir).getParentFile)
  }

  test("partition values with '+' and '%' round-trip through the manifested partitioned read") {
    val W = graft.operators.Warehouse
    val dir = Files.createTempDirectory("graft_escape").resolve("tbl").toString
    // 'a+b' writes as the literal dir lang=a+b (Spark leaves '+'
    // unescaped); 'p%q' escapes to lang=p%25q — the r11 URLDecoder
    // read turned the former into 'a b'
    val docs = spark.range(0, 20).toDF("id")
      .withColumn("lang", when(col("id") % 2 === 0, lit("a+b")).otherwise(lit("p%q")))
    docs.write.partitionBy("lang").mode("overwrite").parquet(dir)
    W.compactManifestedPartitioned(spark, dir, targetFileBytes = 1L << 30)
    val back = W.readManifestedPartitioned(spark, dir)
    assert(back.select(col("lang")).distinct()
      .collect().map(_.getString(0)).sorted.toSeq == Seq("a+b", "p%q"))
    assert(back.filter(col("lang") === "a+b").count() == 10)
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(dir).getParentFile)
  }

  test("multi-writer: interleaved appenders all land; a stale commit fails loudly, never silently") {
    val W = graft.operators.Warehouse
    val dir = Files.createTempDirectory("graft_mw").resolve("tbl").toString
    // (a) IN-PROCESS interleaving: two appender threads race 4 commits
    // each on one table — the per-table lock serializes them, so every
    // generation lands (8 generations, 200 rows, no lost update)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until 2).map { t =>
      new Thread(() => {
        try {
          for (i <- 0 until 4)
            W.appendManifested(spark,  dir,
              spark.range(t * 1000 + i * 100, t * 1000 + i * 100 + 25).toDF("id"))
        } catch { case e: Throwable => errs.add(e) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, s"appender threads failed: ${errs.asScala.toList}")
    assert(W.readManifested(spark, dir).count() == 200L,
      "a concurrent append was silently lost")
    val (fs, root) = graft.operators.ManifestIo.resolve(
      dir, spark.sparkContext.hadoopConfiguration)
    val P = new org.apache.hadoop.fs.Path(_: org.apache.hadoop.fs.Path, _: String)
    val vMax = W.snapshots(dir).max
    assert(vMax == 8L, s"expected 8 committed versions, got $vMax")

    // (b) CROSS-PROCESS CAS: a writer that read the head at version
    // v, then was overtaken (simulated: another committer claimed
    // v+1), must fail its commit LOUDLY — the version file is
    // create-exclusive, so the stale writer cannot commit over the
    // winner's generation list
    val curGens = headBody(dir)
    intercept[java.util.ConcurrentModificationException] {
      W.commitManifest(fs, root,
        Seq(".gen-99"), expectedVersion = vMax - 1) // stale: vMax exists
    }
    // nothing moved: head and trail untouched by the refused commit
    assert(headBody(dir) == curGens)
    assert(W.snapshots(dir).max == vMax)
    // and the CAS primitive itself: second claim of the same version
    // file reports the loss (first claim wins)
    assert(!graft.operators.ManifestIo.putIfAbsent(fs,
      P(root, s"_manifest-$vMax"), "anything"))
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(dir).getParentFile)
  }

  test("multi-writer: an appender racing a compactor loses nothing") {
    // mixed op types are the harder in-process race: append and
    // compact both read-modify-write the pointer, so unserialized
    // they could bury each other's commit. The per-table lock makes
    // every interleaving equivalent to SOME sequential order — all
    // appended rows must survive however the compactions land.
    val W = graft.operators.Warehouse
    val dir = Files.createTempDirectory("graft_mw2").resolve("tbl").toString
    W.appendManifested(spark, dir, spark.range(0, 10).toDF("id"))
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val app = new Thread(() => {
      try {
        for (i <- 1 to 5)
          W.appendManifested(spark, dir,
            spark.range(i * 100, i * 100 + 10).toDF("id"))
      } catch { case e: Throwable => errs.add(e) }
    })
    val comp = new Thread(() => {
      try {
        for (_ <- 1 to 3)
          W.compactManifested(spark, dir, targetFileBytes = 1L << 30)
      } catch { case e: Throwable => errs.add(e) }
    })
    app.start(); comp.start(); app.join(); comp.join()
    assert(errs.isEmpty, s"racing writers failed: ${errs.asScala.toList}")
    val back = W.readManifested(spark, dir)
    assert(back.count() == 60L, "an append was buried by a compaction")
    assert(back.agg(sum(col("id"))).head.getLong(0) ==
      (0L until 10).sum + (1 to 5).map(i => (0L until 10).map(_ + i * 100).sum).sum)
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(dir).getParentFile)
  }

  test("row-level deletes: tombstone commit, ordered re-insert, versioned time travel, compaction retires") {
    val W = graft.operators.Warehouse
    val dir = Files.createTempDirectory("graft_del").resolve("tbl").toString
    W.appendManifested(spark, dir, spark.range(0, 50).toDF("id"))    // v1: .gen-0
    W.appendManifested(spark, dir, spark.range(50, 100).toDF("id"))  // v2: .gen-1
    // the delete is O(delete set): a tombstone generation + a pointer
    // swap, never a data rewrite
    W.deleteManifested(spark, dir,
      spark.range(0, 100).toDF("id").filter(col("id") % 2 === 0))    // v3: .del-2
    assert(W.readManifested(spark, dir).count() == 50L)
    assert(W.readManifested(spark, dir)
      .agg(min(col("id"))).head.getLong(0) == 1L)
    // ORDERED semantics: an append AFTER the tombstone re-inserts —
    // ids 0..9 come back (their even members included), joining the
    // odd survivors from the earlier generations
    W.appendManifested(spark, dir, spark.range(0, 10).toDF("id"))    // v4: .gen-3
    assert(W.readManifested(spark, dir).count() == 60L)
    assert(W.readManifested(spark, dir)
      .filter(col("id") === 0).count() == 1L, "re-insert was suppressed")
    // deletes are VERSIONED: the pre-delete snapshot still has its
    // rows, the post-delete snapshot applies the tombstone
    assert(W.readManifestedAt(spark, dir, 2L).count() == 100L)
    assert(W.readManifestedAt(spark, dir, 3L).count() == 50L)
    // compaction materializes the suppression and RETIRES the
    // tombstone from the CURRENT manifest — but retention keeps the
    // prior snapshot readable, tombstone included (deletes GC like
    // any generation: with the window, not before it)
    W.compactManifested(spark, dir, targetFileBytes = 1L << 30)      // v5
    assert(W.readManifested(spark, dir).count() == 60L)
    assert(!headBody(dir).contains(".del-"))
    assert(W.readManifestedAt(spark, dir, 4L).count() == 60L)
    // the second compaction moves the window past it: tombstone dir GC'd
    W.compactManifested(spark, dir, targetFileBytes = 1L << 30)      // v6
    assert(W.readManifested(spark, dir).count() == 60L)
    val left = new java.io.File(dir).listFiles().map(_.getName).toSet
    assert(!left.exists(_.startsWith(".del-")), s"tombstone survived: $left")
    // a second delete against the compacted table works the same —
    // key-based: it removes EVERY row carrying the key (ids 1 and 3
    // exist twice after the re-insert, so 4 keys remove 6 rows)
    W.deleteManifested(spark, dir, spark.range(0, 4).toDF("id"))
    assert(W.readManifested(spark, dir).count() == 54L)
    // DESCRIBE HISTORY: retained versions ascending, the tombstone
    // split visible, exactly one current row matching the pointer,
    // and every listed version resolvable by readManifestedAt
    val hist = W.history(spark, dir).orderBy(col("version")).collect()
    assert(hist.map(_.getLong(0)).toSeq == W.snapshots(dir))
    assert(hist.count(_.getBoolean(4)) == 1)
    val curRow = hist.find(_.getBoolean(4)).get
    assert(curRow.getLong(0) == hist.last.getLong(0))
    assert(curRow.getLong(3) == 1L, s"current should carry 1 tombstone: $curRow")
    hist.map(_.getLong(0)).foreach(v =>
      W.readManifestedAt(spark, dir, v).count())
    // delete against nothing fails loudly; a multi-column key is refused
    val empty = Files.createTempDirectory("graft_del2").resolve("t2").toString
    intercept[IllegalArgumentException] {
      W.deleteManifested(spark, empty, spark.range(0, 1).toDF("id"))
    }
    intercept[IllegalArgumentException] {
      W.deleteManifested(spark, dir,
        spark.range(0, 1).toDF("id").withColumn("x", lit(1)))
    }
    // ... and an unknown key column is refused AT COMMIT, not at read
    intercept[IllegalArgumentException] {
      W.deleteManifested(spark, dir, spark.range(0, 1).toDF("nope"))
    }
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(dir).getParentFile)
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(empty).getParentFile)
  }

  test("upsertManifested: MERGE INTO as one atomic commit — replace matched, insert new") {
    val W = graft.operators.Warehouse
    val dir = Files.createTempDirectory("graft_ups").resolve("tbl").toString
    W.appendManifested(spark, dir,
      spark.range(0, 10).toDF("id").withColumn("v", lit("old")))   // v1
    // source: updates 7..9, inserts 10..12
    W.upsertManifested(spark, dir,
      spark.range(7, 13).toDF("id").withColumn("v", lit("new")), "id") // v2
    val back = W.readManifested(spark, dir)
    assert(back.count() == 13L)
    assert(back.filter(col("v") === "new").count() == 6L)
    assert(back.filter(col("id") === 8 && col("v") === "old").count() == 0L,
      "matched row was not replaced")
    assert(back.filter(col("id") === 3 && col("v") === "old").count() == 1L)
    // ATOMICITY in the artifact: the merge is ONE manifest version
    // carrying both the tombstone and the data generation
    val hist = W.history(spark, dir).orderBy(col("version")).collect()
    assert(hist.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    val merged = hist.last
    assert(merged.getLong(3) == 1L && merged.getLong(2) == 2L,
      s"merge version should list 1 tombstone + 2 data gens: $merged")
    // time travel: the pre-merge snapshot still reads all-old
    assert(W.readManifestedAt(spark, dir, 1L)
      .filter(col("v") === "new").count() == 0L)
    // a second identical upsert is content-idempotent
    W.upsertManifested(spark, dir,
      spark.range(7, 13).toDF("id").withColumn("v", lit("new")), "id")
    assert(W.readManifested(spark, dir).count() == 13L)
    // unknown key refused at commit; fresh table refused loudly
    intercept[IllegalArgumentException] {
      W.upsertManifested(spark, dir, spark.range(0, 1).toDF("id"), "nope")
    }
    val empty = Files.createTempDirectory("graft_ups2").resolve("t2").toString
    intercept[IllegalArgumentException] {
      W.upsertManifested(spark, empty, spark.range(0, 1).toDF("id"), "id")
    }
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(dir).getParentFile)
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(empty).getParentFile)
  }

  test("hdfs-contract scheme: full lifecycle over refusing renames; CAS holds; content identical") {
    // ManifestIo.scala documents per-scheme commit semantics in prose;
    // this runs them: a FileSystem whose rename REFUSES an existing
    // destination file (the HDFS contract), with putIfAbsent's CAS
    // through the staged-rename branch of lease-keeping stores instead
    // of the local link(2) path.
    val W = graft.operators.Warehouse
    val IO = graft.operators.ManifestIo
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.hdfslike.impl", classOf[HdfsLikeFileSystem].getName)
    val local = Files.createTempDirectory("graft_faultfs")
    val dir = s"hdfslike://$local/tbl"
    val (fs, root) = IO.resolve(dir, conf)
    val P = new org.apache.hadoop.fs.Path(_: org.apache.hadoop.fs.Path, _: String)
    assert(fs.isInstanceOf[HdfsLikeFileSystem], fs.getClass.getName)

    // the injected contract itself: rename onto an existing FILE is
    // refused; onto an existing DIRECTORY it moves the source inside
    // (what Spark's committer needs)
    fs.mkdirs(root)
    IO.putIfAbsent(fs, P(root, "a"), "a"); IO.putIfAbsent(fs, P(root, "b"), "b")
    assert(!fs.rename(P(root, "a"), P(root, "b")), "existing-file dst must refuse")
    assert(IO.readString(fs, P(root, "b")) == "b")

    // full lifecycle on the scheme: append, append, fold, delete —
    // four manifest claims, every commit CAS-guarded
    W.appendManifested(spark, dir, spark.range(0, 50).toDF("id"))     // v1
    W.appendManifested(spark, dir, spark.range(50, 100).toDF("id"))   // v2
    W.compactManifested(spark, dir, targetFileBytes = 1L << 30)       // v3
    W.deleteManifested(spark, dir,
      spark.range(0, 100).toDF("id").filter(col("id") % 2 === 0))     // v4
    assert(W.readManifested(spark, dir).count() == 50L)
    assert(W.readManifested(spark, dir).agg(min(col("id"))).head.getLong(0) == 1L)
    assert(W.snapshots(dir) == Seq(2L, 3L, 4L)) // v1 GC'd by the fold's retention

    // the CAS primitive through the staged-rename branch: first claim of
    // a fresh version wins, second claim of the SAME version loses
    assert(IO.putIfAbsent(fs, P(root, "_claim-x"), "w1"))
    assert(!IO.putIfAbsent(fs, P(root, "_claim-x"), "w2"))
    assert(IO.readString(fs, P(root, "_claim-x")) == "w1")

    org.apache.commons.io.FileUtils.deleteQuietly(local.toFile)
  }

  test("hdfs-contract scheme: a reader whose head manifest open fails once retries through") {
    // a head _manifest-v GC'd between the trail listing and its read
    // surfaces as FileNotFoundException from that open, and the reader
    // must recover via readManifested's one-retry (the r14 widening —
    // AnalysisException alone missed this shape). The one-shot open
    // fault is the deterministic stand-in: the first open of the head
    // manifest throws, the retry's fresh listing and open succeed.
    val W = graft.operators.Warehouse
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.hdfslike.impl", classOf[HdfsLikeFileSystem].getName)
    val local = Files.createTempDirectory("graft_faultfs2")
    val dir = s"hdfslike://$local/tbl"
    W.appendManifested(spark, dir, spark.range(0, 30).toDF("id"))
    HdfsLikeFileSystem.failNextOpenOf.set(s"_manifest-${W.snapshots(dir).last}")
    // direct readManifested — the CdcApply/Quality call shape, no
    // withManifested wrapper in the way
    assert(W.readManifested(spark, dir).count() == 30L)
    assert(HdfsLikeFileSystem.failNextOpenOf.get() == null, "fault not consumed")
    org.apache.commons.io.FileUtils.deleteQuietly(local.toFile)
  }

  test("hdfs-contract scheme: a blank trail head (claimed-but-unwritten manifest) is never resolved; readers walk down, writers commit past it") {
    // a writer that claims the _manifest-v NAME before it writes any
    // byte (an older build's create(overwrite=false) claim on HDFS)
    // leaves a window in which a reader resolving the trail head would
    // land on an EMPTY head and resolve a committed table as
    // empty/none. Freeze exactly that state and pin the r19 contract:
    // a blank body is never a committed head.
    val W = graft.operators.Warehouse
    val IO = graft.operators.ManifestIo
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.hdfslike.impl", classOf[HdfsLikeFileSystem].getName)
    val local = Files.createTempDirectory("graft_faultfs3")
    val dir = s"hdfslike://$local/tbl"
    val P = new org.apache.hadoop.fs.Path(_: org.apache.hadoop.fs.Path, _: String)
    W.appendManifested(spark, dir, spark.range(0, 30).toDF("id"))   // v1
    W.appendManifested(spark, dir, spark.range(30, 40).toDF("id"))  // v2
    val (fs, root) = IO.resolve(dir, conf)
    // the frozen window: a rival claimed v3 and has written nothing yet
    fs.create(P(root, "_manifest-3"), false).close()
    // reader walks DOWN past the blank claim to v2's snapshot
    assert(W.readManifested(spark, dir).count() == 40L,
      "blank trail head resolved instead of the newest complete snapshot")
    // the next writer anchors on max trail version: it claims v4 PAST
    // the stale blank claim, carrying v2's state — nothing lost
    W.appendManifested(spark, dir, spark.range(40, 45).toDF("id"))
    assert(W.readManifested(spark, dir).count() == 45L)
    assert(W.snapshots(dir).max == 4L)
    org.apache.commons.io.FileUtils.deleteQuietly(local.toFile)
  }

  test("hdfs-contract scheme: a claim whose writer crashes mid-body is never visible; readers and the next writer see the prior head") {
    // HDFS shows a file's bytes to readers as the pipeline acks them,
    // so a body written in place under its claimed _manifest-v could
    // be read cut off: a truncated #file: inventory or stats line, and
    // the next commit built on it. The claim stages its body and
    // renames it into place; crash that staged write halfway and pin
    // that nothing of it becomes the head.
    val W = graft.operators.Warehouse
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.hdfslike.impl", classOf[HdfsLikeFileSystem].getName)
    val local = Files.createTempDirectory("graft_faultfs4")
    val dir = s"hdfslike://$local/tbl"
    W.appendManifested(spark, dir, spark.range(0, 30).toDF("id"))    // v1
    HdfsLikeFileSystem.crashMidWriteOf.set("_manifest-2")
    val crash = intercept[java.io.IOException] {
      W.appendManifested(spark, dir, spark.range(30, 40).toDF("id"))
    }
    assert(crash.getMessage.contains("injected crash mid-write"), crash.getMessage)
    assert(HdfsLikeFileSystem.crashMidWriteOf.get() == null, "fault not consumed")
    assert(W.snapshots(dir) == Seq(1L), "a half-written claim became visible")
    assert(W.readManifested(spark, dir).count() == 30L)
    W.appendManifested(spark, dir, spark.range(40, 45).toDF("id"))   // v2
    assert(W.snapshots(dir) == Seq(1L, 2L))
    assert(W.readManifested(spark, dir).collect().map(_.getLong(0)).sorted.toSeq ==
      ((0L until 30L) ++ (40L until 45L)))
    org.apache.commons.io.FileUtils.deleteQuietly(local.toFile)
  }

  test("lost commit: a claim overtaken before its late pointer write loses no committed id (file:, hdfslike:, objstore:)") {
    // a foreign writer claims _manifest-2 and pauses; an append commits
    // v3 over it; the foreign writer then writes a stale `_current`
    // (what an older build swapped after its claim); a further append
    // follows. Every committed id must survive on every scheme.
    val W = graft.operators.Warehouse
    val IO = graft.operators.ManifestIo
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.hdfslike.impl", classOf[HdfsLikeFileSystem].getName)
    conf.set("fs.objstore.impl", classOf[ObjectStoreLikeFileSystem].getName)
    val P = new org.apache.hadoop.fs.Path(_: org.apache.hadoop.fs.Path, _: String)
    val local = Files.createTempDirectory("graft_lostcommit")
    for (scheme <- Seq("file", "hdfslike", "objstore")) {
      val dir = s"$scheme://$local/$scheme"
      val (fs, root) = IO.resolve(dir, conf)
      W.appendManifested(spark, dir, spark.range(1, 2).toDF("id"))   // v1
      spark.range(2, 3).toDF("id").write.parquet(P(root, ".gen-90").toString)
      val (gens, meta) = IO.readString(fs, P(root, "_manifest-1")).trim
        .split("\n").toSeq.partition(!_.startsWith("#"))
      val foreign = ((gens :+ ".gen-90") ++ meta).mkString("\n")
      assert(IO.putIfAbsent(fs, P(root, "_manifest-2"), foreign))    // v2
      W.appendManifested(spark, dir, spark.range(3, 4).toDF("id"))   // v3
      val late = fs.create(P(root, "_current"), true)
      try late.write(foreign.getBytes("UTF-8")) finally late.close()
      W.appendManifested(spark, dir, spark.range(4, 5).toDF("id"))   // v4
      val ids = W.readManifested(spark, dir).collect().map(_.getLong(0)).sorted.toSeq
      assert(ids == Seq(1L, 2L, 3L, 4L), s"$scheme: committed ids lost, read $ids")
    }
    org.apache.commons.io.FileUtils.deleteQuietly(local.toFile)
  }

  test("object-store storage calls: a steady read is one leaf LIST + one manifest open; a commit is one claim, no pointer") {
    val W = graft.operators.Warehouse
    val OS = ObjectStoreLikeFileSystem
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.objstore.impl", classOf[ObjectStoreLikeFileSystem].getName)
    val local = Files.createTempDirectory("graft_oscalls")
    val dir = s"objstore://$local/tbl"
    W.appendManifested(spark, dir, spark.range(0, 50).toDF("id"))    // v1
    W.appendManifested(spark, dir, spark.range(50, 100).toDF("id"))  // v2
    def delta(body: => Unit): Map[(String, String), Int] = {
      val keys = Seq("list" -> "tbl", "open" -> "_manifest-2", "open" -> "_current",
        "create" -> "_manifest-3", "create" -> "._current.tmp",
        "rename" -> "._current.tmp")
      val before = keys.map(k => k -> OS.callCount(k._1, k._2)).toMap
      body
      keys.map(k => k -> (OS.callCount(k._1, k._2) - before(k))).toMap
    }
    // the steady read resolves the head from ONE trail listing and
    // ONE open of the head manifest
    val read = delta { W.readManifested(spark, dir) }
    assert(read == Map(("list", "tbl") -> 1, ("open", "_manifest-2") -> 1,
      ("open", "_current") -> 0, ("create", "_manifest-3") -> 0,
      ("create", "._current.tmp") -> 0, ("rename", "._current.tmp") -> 0), read)
    // an append commit claims _manifest-3 and writes nothing else: no
    // pointer tmp, no pointer rename. Its two leaf LISTs are
    // leafCommit's one head read (which the first-contact adoption
    // step reuses) and nextEntryId; the head read opens the head
    // manifest once
    val commit = delta { W.appendManifested(spark, dir, spark.range(100, 110).toDF("id")) }
    assert(commit == Map(("list", "tbl") -> 2, ("open", "_manifest-2") -> 1,
      ("open", "_current") -> 0, ("create", "_manifest-3") -> 1,
      ("create", "._current.tmp") -> 0, ("rename", "._current.tmp") -> 0), commit)
    assert(W.readManifested(spark, dir).count() == 110L)
    org.apache.commons.io.FileUtils.deleteQuietly(local.toFile)
  }

  test("file: manifest claim is content-atomic — racing readers never see an empty or partial claim; exactly one writer wins") {
    // ManifestIo.putIfAbsent on file: stages the body and link(2)s it
    // into place (r19): the claim NAME appears atomically WITH its
    // bytes. The pre-r19 O_EXCL-create-then-write form had a
    // claimed-but-empty window this race would catch: spin a reader
    // across many claim rounds and assert every observed body is a
    // complete winner body, never "" or a prefix.
    val IO = graft.operators.ManifestIo
    val conf = spark.sparkContext.hadoopConfiguration
    val local = Files.createTempDirectory("graft_claimatomic")
    val (fs, root) = IO.resolve(local.toString, conf)
    val P = new org.apache.hadoop.fs.Path(_: org.apache.hadoop.fs.Path, _: String)
    val payload = "x" * 65536
    val rounds = 300
    val round = new java.util.concurrent.atomic.AtomicInteger(-1)
    val bad = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    @volatile var stop = false
    val reader = new Thread(() => {
      while (!stop) {
        val r = round.get()
        if (r >= 0) {
          try {
            val body = IO.readString(fs, P(root, s"claim-$r"))
            if (!(body.length == payload.length + 3 && body.startsWith("w") &&
                  body.endsWith("x")))
              bad.add(s"round $r: saw ${body.length} bytes")
          } catch { case _: java.io.FileNotFoundException => } // not claimed yet
        }
      }
    })
    reader.start()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      for (r <- 0 until rounds) {
        round.set(r)
        val wins = (0 until 4).map { i =>
          pool.submit(new java.util.concurrent.Callable[Boolean] {
            def call(): Boolean = IO.putIfAbsent(fs, P(root, s"claim-$r"), s"w$i:$payload")
          })
        }.count(_.get())
        assert(wins == 1, s"round $r: $wins writers won the claim")
      }
    } finally { stop = true; pool.shutdown(); reader.join(10000) }
    assert(bad.isEmpty, s"non-atomic claim bodies observed: ${bad.asScala.toSeq.take(3)}")
    // no staging debris: every .claim tmp is deleted win or lose
    assert(!local.toFile.listFiles().exists(_.getName.contains(".claim")),
      "staging tmp files leaked")
    org.apache.commons.io.FileUtils.deleteQuietly(local.toFile)
  }

  test("steady skip records ACTUAL leaf heads: an out-of-band leaf fold between root ops never publishes a map referencing a GC'd version") {
    // r18 recorded st.prior's version for a steady leaf while the same
    // pass's gcLeafRetention(retain 0) deleted that version's manifest
    // — the published root map then referenced a GC'd leaf snapshot
    // and readManifestedPartitionedAt(head) threw (r18 ADVICE).
    val W = graft.operators.Warehouse
    val dir = Files.createTempDirectory("graft_steadyhead").resolve("tbl").toString
    val docs = spark.range(0, 40).toDF("id")
      .withColumn("lang", when(col("id") % 2 === 0, "en").otherwise("de"))
    docs.write.partitionBy("lang").mode("overwrite").parquet(dir)
    W.compactManifestedPartitioned(spark, dir, targetFileBytes = 1L << 30) // root v1
    // out-of-band: a leaf-level fold bumps ONE leaf's head with no root op
    W.compactManifested(spark, s"$dir/lang=en", targetFileBytes = 1L << 30)
    // maintenance with retain 0 — the GC-everything-stale knob
    W.compactManifestedPartitioned(spark, dir, targetFileBytes = 1L << 30,
      retainSnapshots = 0)
    val head = W.rootSnapshots(dir).max
    // the moved head SPENT a root version recording the actual state...
    assert(head >= 2, s"out-of-band fold not recorded (root head $head)")
    // ...and the head map resolves: no reference to a GC'd leaf version
    assert(W.readManifestedPartitionedAt(spark, dir, head).count() == 40L)
    assert(W.readManifestedPartitioned(spark, dir).count() == 40L)
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(dir).getParentFile)
  }

  test("partitioned row-level ops: delete/upsert touch only their leaves; root versions time-travel") {
    val W = graft.operators.Warehouse
    val dir = Files.createTempDirectory("graft_prow").resolve("tbl").toString
    // three leaves; fr never touched by the merge source — under the
    // r16 version map it commits NOTHING and the root snapshot records
    // it at its prior head
    val docs = spark.range(0, 42).toDF("id")
      .withColumn("lang",
        when(col("id") >= 40, lit("fr"))
          .when(col("id") % 2 === 0, lit("en")).otherwise(lit("de")))
      .withColumn("v", lit("old"))
    docs.write.partitionBy("lang").mode("overwrite").parquet(dir)
    // adoption + fold in every leaf; root version 1 = the migration map
    W.compactManifestedPartitioned(spark, dir, targetFileBytes = 1L << 30)
    val leaves = Set("lang=de", "lang=en", "lang=fr")

    // DELETE keys spanning leaves (ids 0..9 live in en AND de): one
    // tombstone commit per leaf, same key set everywhere — root v2
    val delRep = W.deleteManifestedPartitioned(spark, dir,
      spark.range(0, 10).toDF("id"))
    assert(delRep.keySet == leaves, delRep.toString)
    assert(W.readManifestedPartitioned(spark, dir).count() == 32L)

    // MERGE: re-insert 0..3 (post-delete), update 10..14, insert
    // 100..103 — routed by lang; fr is untouched and stays at its
    // prior leaf head in the root-v3 map
    val src = (spark.range(0, 4) union spark.range(10, 15) union
        spark.range(100, 104)).toDF("id")
      .withColumn("lang",
        when(col("id") % 2 === 0, lit("en")).otherwise(lit("de")))
      .withColumn("v", lit("new"))
    val upsRep = W.upsertManifestedPartitioned(spark, dir, src, "id")
    assert(upsRep == Map("lang=en" -> 4L, "lang=de" -> 4L, "lang=fr" -> 3L),
      upsRep.toString)
    val back = W.readManifestedPartitioned(spark, dir)
    assert(back.count() == 40L)
    assert(back.filter(col("v") === "new").count() == 13L)
    assert(back.filter(col("id") === 0).count() == 1L, "re-insert suppressed")
    assert(back.filter(col("id") === 4).count() == 0L, "delete not applied")
    assert(back.filter(col("id") === 10 && col("v") === "old").count() == 0L,
      "matched row not replaced")
    assert(back.filter(col("lang") === "fr").count() == 2L)

    // TIME TRAVEL per ROOT version: v1 = post-compact (pre-delete),
    // v2 = post-delete pre-merge, v3 = post-merge — fr resolves
    // through the recorded prior head in every map
    assert(W.rootSnapshots(dir) == Seq(1L, 2L, 3L))
    assert(W.readManifestedPartitionedAt(spark, dir, 1L).count() == 42L)
    assert(W.readManifestedPartitionedAt(spark, dir, 2L).count() == 32L)
    assert(W.readManifestedPartitionedAt(spark, dir, 3L).count() == 40L)

    // historyPartitioned: the touched leaves carry the full trail, the
    // untouched fr stops at its tombstone commit — the audit view of
    // O(touched) commits
    val hist = W.historyPartitioned(spark, dir).collect()
    assert(hist.map(_.getString(0)).toSet == leaves)
    Seq("lang=en", "lang=de").foreach { l =>
      val rows = hist.filter(_.getString(0) == l)
      assert(rows.map(_.getLong(1)).sorted.toSeq == Seq(1L, 2L, 3L, 4L),
        s"$l trail: ${rows.map(_.getLong(1)).toSeq}")
      assert(rows.count(_.getBoolean(5)) == 1 &&
        rows.find(_.getBoolean(5)).get.getLong(1) == 4L, s"$l current row")
    }
    assert(hist.filter(_.getString(0) == "lang=fr")
      .map(_.getLong(1)).sorted.toSeq == Seq(1L, 2L, 3L), "fr trail")

    // a source row routing to a non-existent leaf ADOPTS it (r17 —
    // was a refusal; the dedicated adoption pins live in the
    // partition-adoption test), and the partitioned ops on a plain
    // leaf still refuse
    W.upsertManifestedPartitioned(spark, dir,
      src.withColumn("lang", lit("xx")), "id")
    assert(W.readManifestedPartitioned(spark, dir)
      .filter(col("lang") === "xx").count() == src.count())
    val plain = Files.createTempDirectory("graft_prow2").resolve("t2").toString
    W.appendManifested(spark, plain, spark.range(0, 5).toDF("id"))
    val notPart = intercept[IllegalArgumentException] {
      W.upsertManifestedPartitioned(spark, plain,
        spark.range(0, 1).toDF("id").withColumn("v", lit("x")), "id")
    }
    assert(notPart.getMessage.contains("plain leaf"), notPart.getMessage)
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(dir).getParentFile)
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(plain).getParentFile)
  }

  test("exactly-once upserts: a txn-versioned replay is a true no-op; markers survive maintenance") {
    val W = graft.operators.Warehouse
    val dir = Files.createTempDirectory("graft_txn").resolve("tbl").toString
    def src(ids: Range, v: String) =
      spark.range(ids.start, ids.end).toDF("id").withColumn("v", lit(v))
    W.appendManifested(spark, dir, src(0 until 10, "old"))             // v1
    // first apply records the marker
    assert(W.upsertManifested(spark, dir, src(8 until 12, "a"),
      "id", Some("app" -> 1L)) == 2L)                                  // v2
    assert(W.readManifested(spark, dir).count() == 12L)
    // REPLAY with the same (app, version): a true no-op — returns the
    // current head, commits nothing, and even divergent replay content
    // (abnormal, but proves the gate is the MARKER) leaves no trace
    assert(W.upsertManifested(spark, dir, src(8 until 12, "XXX"),
      "id", Some("app" -> 1L)) == 2L)
    assert(W.snapshots(dir) == Seq(1L, 2L))
    assert(W.readManifested(spark, dir).filter(col("v") === "XXX").count() == 0L)
    // the next batch (higher version) applies normally
    assert(W.upsertManifested(spark, dir, src(0 until 2, "b"),
      "id", Some("app" -> 2L)) == 3L)                                  // v3
    // the marker is part of the snapshot: compaction fold, append and
    // delete all carry it forward — maintenance never resets
    // exactly-once state
    W.compactManifested(spark, dir, targetFileBytes = 1L << 30)        // v4
    W.appendManifested(spark, dir, src(100 until 102, "c"))            // v5
    W.deleteManifested(spark, dir, spark.range(100, 101).toDF("id"))   // v6
    assert(W.readManifested(spark, dir).count() == 13L)
    assert(W.upsertManifested(spark, dir, src(0 until 2, "ZZZ"),
      "id", Some("app" -> 2L)) == 6L, "marker lost through maintenance")
    assert(W.snapshots(dir) == Seq(3L, 4L, 5L, 6L))
    assert(W.readManifested(spark, dir).filter(col("v") === "ZZZ").count() == 0L)
    // markers are per-app: another producer is not suppressed
    assert(W.upsertManifested(spark, dir, src(2 until 4, "d"),
      "id", Some("other" -> 1L)) == 7L)
    assert(W.readManifested(spark, dir).filter(col("v") === "d").count() == 2L)
    // an un-txn'd upsert still composes (the pre-r14 contract)
    assert(W.upsertManifested(spark, dir, src(4 until 5, "e"), "id") == 8L)
    // DESCRIBE HISTORY exposes the marker state per version — both
    // apps visible at the head, still carried by the un-txn'd commit
    val h = W.history(spark, dir).orderBy(col("version")).collect()
    assert(h.last.getString(6) == "app:2,other:1", h.last.toString)
    // a ':' in the appId would corrupt the marker line — refused
    intercept[IllegalArgumentException] {
      W.upsertManifested(spark, dir, src(0 until 1, "x"), "id",
        Some("a:b" -> 1L))
    }
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(dir).getParentFile)
  }

  test("partitioned merge resumability: per-leaf txn markers converge a crashed merge; a full replay publishes nothing") {
    val W = graft.operators.Warehouse
    val dir = Files.createTempDirectory("graft_txnp").resolve("tbl").toString
    val docs = spark.range(0, 20).toDF("id")
      .withColumn("lang", when(col("id") % 2 === 0, lit("en")).otherwise(lit("de")))
      .withColumn("v", lit("old"))
    docs.write.partitionBy("lang").mode("overwrite").parquet(dir)
    W.compactManifestedPartitioned(spark, dir, targetFileBytes = 1L << 30)
    // the merge source, routed to both leaves
    val src = spark.range(0, 6).toDF("id")
      .withColumn("lang", when(col("id") % 2 === 0, lit("en")).otherwise(lit("de")))
      .withColumn("v", lit("new"))
    // simulate the crash window as an r16 root op leaves it: the merge
    // CLAIMED transition 2 (root head is 1 after the migration
    // compact), committed the en leaf (with its txn marker) and died
    // before de and before the root-manifest publish — the table still
    // reads at root version 1
    val (cfs, crp) = graft.operators.ManifestIo.resolve(dir,
      spark.sparkContext.hadoopConfiguration)
    assert(W.rootSnapshots(dir) == Seq(1L))
    assert(graft.operators.ManifestIo.putIfAbsent(cfs,
      new org.apache.hadoop.fs.Path(crp, "_root-claim-2"), "job:7"))
    W.upsertManifested(spark, s"$dir/lang=en",
      src.filter(col("lang") === "en").drop("lang"), "id", Some("job" -> 7L))
    // the REPLAY of the whole partitioned merge: the claim is ours, en
    // no-ops on its marker, de applies, and the root manifest publishes
    // with the en slice applied exactly once
    val rep = W.upsertManifestedPartitioned(spark, dir, src, "id",
      Some("job" -> 7L))
    assert(rep == Map("lang=en" -> 3L, "lang=de" -> 3L), rep.toString)
    val back = W.readManifestedPartitioned(spark, dir)
    assert(back.count() == 20L)
    assert(back.filter(col("v") === "new").count() == 6L)
    // the post-merge ROOT version resolves across leaves
    assert(W.readManifestedPartitionedAt(spark, dir, 2L).count() == 20L)

    // the DELETE path has the same crash window and the same cure: a
    // partitioned delete that claimed transition 3, committed en
    // (marker recorded) and died replays to a no-op there (-1) and a
    // tombstone in de — keys tombstoned exactly once
    assert(graft.operators.ManifestIo.putIfAbsent(cfs,
      new org.apache.hadoop.fs.Path(crp, "_root-claim-3"), "job:8"))
    assert(W.deleteManifested(spark, s"$dir/lang=en",
      spark.range(0, 4).toDF("id"), Some("job" -> 8L)) >= 0)
    val drep = W.deleteManifestedPartitioned(spark, dir,
      spark.range(0, 4).toDF("id"), Some("job" -> 8L))
    assert(drep("lang=en") == -1L && drep("lang=de") >= 0, drep.toString)
    assert(W.readManifestedPartitioned(spark, dir).count() == 16L)
    assert(W.readManifestedPartitionedAt(spark, dir, 3L).count() == 16L)
    // a FULL replay (root marker recorded) is a true no-op end to end
    val rvs = W.rootSnapshots(dir)
    assert(W.deleteManifestedPartitioned(spark, dir,
      spark.range(0, 4).toDF("id"), Some("job" -> 8L))
      .values.toSet == Set(-1L))
    assert(W.rootSnapshots(dir) == rvs, "a full replay published a root version")
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(dir).getParentFile)
  }

  test("vacuum: aborted-commit debris is GC'd; the table and retained snapshots read unchanged") {
    val W = graft.operators.Warehouse
    val IO = graft.operators.ManifestIo
    val dir = Files.createTempDirectory("graft_vac").resolve("tbl").toString
    W.appendManifested(spark, dir, spark.range(0, 50).toDF("id"))   // v1
    W.appendManifested(spark, dir, spark.range(100, 150).toDF("id")) // v2
    val beforeN = W.readManifested(spark, dir).count()
    val (fs, root) = IO.resolve(dir, spark.sparkContext.hadoopConfiguration)
    val P = new org.apache.hadoop.fs.Path(_: org.apache.hadoop.fs.Path, _: String)

    // (1) crash after a generation's data write, before its commit
    //     (an append that died, or a compaction fold whose CAS lost)
    spark.range(900, 950).toDF("id").write.parquet(P(root, ".gen-9").toString)
    // a cross-process writer's NON-blank claim is a commit, not debris:
    // v3 is the head, and its generation is live
    spark.range(950, 999).toDF("id").write.parquet(P(root, ".gen-7").toString)
    assert(IO.putIfAbsent(fs, P(root, "_manifest-3"), ".gen-0\n.gen-1\n.gen-7"))
    // (2) crash between a store's create-exclusive claim and its body
    //     write: a BLANK v4, never a head
    fs.create(P(root, "_manifest-4"), false).close()
    // (3) crash inside a content-atomic claim: its staging file, never
    //     linked or renamed into place
    val staged = P(root, "._manifest-5.claim.1234")
    IO.putIfAbsent(fs, staged, ".gen-0")
    assert(W.snapshots(dir) == Seq(1L, 2L, 3L, 4L))
    assert(W.readManifested(spark, dir).count() == beforeN + 49)

    // AGE GRACE (r14): under the default grace window this just-written
    // debris is indistinguishable from a LIVE cross-process writer
    // mid-commit (generation written / claim not yet filled) — vacuum
    // must leave every byte of it alone
    val graced = W.vacuum(spark, dir)
    assert(graced == W.VacuumReport(Nil, Nil),
      s"default grace vacuumed a possibly-live writer's commit: $graced")
    assert(W.snapshots(dir) == Seq(1L, 2L, 3L, 4L))
    assert(IO.isDirectory(fs, P(root, ".gen-9")))
    assert(IO.exists(fs, staged))

    // graceMs = 0: the caller asserts no concurrent cross-process
    // writer exists, so the debris is GC'd in full and the committed
    // head stays
    val report = W.vacuum(spark, dir, graceMs = 0L)
    assert(report.removedGenerations == Seq(".gen-9"), report)
    assert(report.removedManifests == Seq(4L), report)
    assert(IO.isDirectory(fs, P(root, ".gen-7")))
    assert(!IO.exists(fs, staged))

    // table content unchanged; every RETAINED snapshot still resolves
    assert(W.readManifested(spark, dir).count() == beforeN + 49)
    assert(W.snapshots(dir) == Seq(1L, 2L, 3L))
    assert(W.readManifestedAt(spark, dir, 1L).count() == 50)
    assert(W.readManifestedAt(spark, dir, 2L).count() == 100)
    assert(W.readManifestedAt(spark, dir, 3L).count() == 149)
    // idempotent: a second vacuum finds nothing
    val again = W.vacuum(spark, dir, graceMs = 0L)
    assert(again == W.VacuumReport(Nil, Nil), again)
    // and a leaf with nothing committed is left untouched
    val empty = Files.createTempDirectory("graft_vac2").resolve("t2").toString
    assert(W.vacuum(spark, empty, graceMs = 0L) == W.VacuumReport(Nil, Nil))
    // partitioned root: per-leaf vacuum, only dirty leaves reported
    val proot = Files.createTempDirectory("graft_vac3").resolve("tbl").toString
    spark.range(0, 20).toDF("id")
      .withColumn("lang", when(col("id") % 2 === 0, lit("en")).otherwise(lit("de")))
      .write.partitionBy("lang").mode("overwrite").parquet(proot)
    W.compactManifestedPartitioned(spark, proot, targetFileBytes = 1L << 30)
    spark.range(0, 5).toDF("id")
      .write.parquet(P(IO.resolve(s"$proot/lang=en",
        spark.sparkContext.hadoopConfiguration)._2, ".gen-9").toString)
    val preport = W.vacuumPartitioned(spark, proot, graceMs = 0L)
    // no "." entry: a completed root op deletes its own claim (r16) —
    // vacuum only ever collects crashed-claim debris
    assert(preport == Map(
      "lang=en" -> W.VacuumReport(Seq(".gen-9"), Nil)),
      preport)
    assert(W.readManifestedPartitioned(spark, proot).count() == 20L)
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(proot).getParentFile)
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(dir).getParentFile)
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(empty).getParentFile)
  }

  test("manifest data skipping: point/range reads open only the files whose min/max admit them") {
    val W = graft.operators.Warehouse
    val dir = Files.createTempDirectory("graft_skip").resolve("tbl").toString
    // four range-disjoint generations — the layout a time-ordered
    // ingest produces (each spark.range split is itself range-ordered,
    // so every FILE covers a narrow id slice)
    for (q <- 0 until 4)
      W.appendManifested(spark, dir,
        spark.range(q * 100L, q * 100L + 100L).toDF("id")
          .withColumn("tag", format_string("k%03d", col("id"))))
    def full() = W.readManifested(spark, dir)
    val totalFiles = full().inputFiles.length
    assert(totalFiles >= 4, s"want multiple files, got $totalFiles")

    // (a) long point read: exactly one row, and the scan opened only a
    // sliver of the table (the SinkSpec numFiles pin of the r15 brief)
    val pt = W.readManifestedRange(spark, dir, "id", 250L, 250L)
    assert(pt.collect().map(_.getLong(0)).toSeq == Seq(250L))
    assert(pt.inputFiles.length < totalFiles,
      s"point read opened ${pt.inputFiles.length} of $totalFiles files")
    assert(pt.inputFiles.length <= math.max(1, totalFiles / 4),
      s"point read opened ${pt.inputFiles.length} of $totalFiles files")

    // (b) range read across a generation boundary ≡ full-scan filter
    val rg = W.readManifestedRange(spark, dir, "id", 150L, 250L)
    assert(rg.collect().map(_.getLong(0)).sorted.toSeq == (150L to 250L),
      "range read diverged from the filter semantics")
    assert(rg.inputFiles.length < totalFiles)

    // (c) string-typed column skipping (unsigned-byte order = UTF8String)
    val st = W.readManifestedRange(spark, dir, "tag", "k250", "k250")
    assert(st.collect().map(_.getString(1)).toSeq == Seq("k250"))
    assert(st.inputFiles.length < totalFiles)

    // (d) zero-match range: empty result, schema intact
    val none = W.readManifestedRange(spark, dir, "id", 10000L, 10001L)
    assert(none.count() == 0L && none.columns.toSeq == Seq("id", "tag"))

    // (e) stats survive DELETE and MERGE commits (the carry-forward
    // contract): after both, the point read still prunes — a commit
    // path that dropped the lines would silently read everything
    W.deleteManifested(spark, dir,
      spark.range(0, 400).toDF("id").filter(col("id") % 7 === 0))
    W.upsertManifested(spark, dir,
      spark.range(0, 10).toDF("id")
        .withColumn("tag", format_string("u%03d", col("id"))), "id")
    val pt2 = W.readManifestedRange(spark, dir, "id", 250L, 250L)
    assert(pt2.collect().map(_.getLong(0)).toSeq == Seq(250L))
    assert(pt2.inputFiles.length < totalFiles,
      "stats lines were lost across delete/upsert commits")
    // tombstone + merge semantics ride the pruned path too
    assert(W.readManifestedRange(spark, dir, "id", 0L, 30L)
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq ==
      (0L to 30L).filter(i => i % 7 != 0 || i < 10)
        .map(i => (i, if (i < 10) f"u$i%03d" else f"k$i%03d")))

    // (f) clusterBy compaction: the fold re-clusters on id, fresh
    // per-file stats admit pruning on the FOLDED files (a plain hash
    // repartition would spread every range across every file)
    W.compactManifested(spark, dir, targetFileBytes = 1L << 12,
      clusterBy = Some("id"))
    val totalAfter = full().inputFiles.length
    assert(totalAfter >= 4, s"fold produced $totalAfter files — widen the pin")
    val pt3 = W.readManifestedRange(spark, dir, "id", 250L, 250L)
    assert(pt3.collect().map(_.getLong(0)).toSeq == Seq(250L))
    assert(pt3.inputFiles.length < totalAfter,
      s"post-fold point read opened ${pt3.inputFiles.length} of $totalAfter")

    // (g) legacy manifests (no #stats lines, the r14 format) read
    // everything but stay CORRECT — the conservative contract
    val headPath = java.nio.file.Paths.get(dir, s"_manifest-${W.snapshots(dir).last}")
    java.nio.file.Files.writeString(headPath, java.nio.file.Files.readString(headPath)
      .split("\n").filterNot(_.startsWith("#stats:")).mkString("\n"))
    val legacy = W.readManifestedRange(spark, dir, "id", 250L, 250L)
    assert(legacy.collect().map(_.getLong(0)).toSeq == Seq(250L))
    assert(legacy.inputFiles.length == totalAfter,
      "a stats-less manifest must keep every file")
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(dir).getParentFile)
  }

  test("z-order compaction: the skipping read prunes on EITHER dimension; a single-column sort cannot") {
    // the OPTIMIZE ZORDER analogue composed with the manifest stats
    // path (r16): compactManifested(zorderBy) lays the fold along the
    // Morton curve, so every output file is a TILE — narrow in both x
    // and y — and readManifestedRange's #stats pruning works on either
    // dimension. The control is the same table folded clusterBy("x"):
    // x-slices prune x-reads but a y-band crosses every slice.
    val W = graft.operators.Warehouse
    // a 64×64 grid; ids shuffled into 4 appends so the pre-fold layout
    // carries no accidental order
    def grid(dir: String): Unit =
      for (q <- 0 until 4)
        W.appendManifested(spark, dir,
          spark.range(0, 4096).filter(pmod(col("id"), lit(4)) === q)
            .select((col("id") % 64).as("x"),
              (col("id") / 64).cast("long").as("y"), col("id")))
    val zdir = Files.createTempDirectory("graft_zc").resolve("z").toString
    grid(zdir)
    W.compactManifested(spark, zdir, targetFileBytes = 1L << 10,
      zorderBy = Seq("x", "y"))
    val xdir = Files.createTempDirectory("graft_zc").resolve("x").toString
    grid(xdir)
    W.compactManifested(spark, xdir, targetFileBytes = 1L << 10,
      clusterBy = Some("x"))
    val zTotal = W.readManifested(spark, zdir).inputFiles.length
    val xTotal = W.readManifested(spark, xdir).inputFiles.length
    assert(zTotal >= 8 && xTotal >= 8, s"want many files: z=$zTotal x=$xTotal")
    def files(dir: String, c: String) =
      W.readManifestedRange(spark, dir, c, 0L, 15L).inputFiles.length
    def rows(dir: String, c: String) =
      W.readManifestedRange(spark, dir, c, 0L, 15L)
        .agg(sum(col("id"))).head.getLong(0)
    // correctness on both layouts, both dimensions
    val wantX = (0L until 4096L).filter(_ % 64 <= 15).sum
    val wantY = (0L until 4096L).filter(_ / 64 <= 15).sum
    assert(rows(zdir, "x") == wantX && rows(xdir, "x") == wantX)
    assert(rows(zdir, "y") == wantY && rows(xdir, "y") == wantY)
    // pruning: the z layout prunes BOTH dimensions to a bounded tile
    // set; the x sort prunes x but reads every file for the y band
    assert(files(zdir, "x") <= zTotal / 2,
      s"z-layout x-read opened ${files(zdir, "x")} of $zTotal")
    assert(files(zdir, "y") <= zTotal / 2,
      s"z-layout y-read opened ${files(zdir, "y")} of $zTotal")
    assert(files(xdir, "x") <= xTotal / 2,
      s"x-sort x-read opened ${files(xdir, "x")} of $xTotal")
    assert(files(xdir, "y") >= xTotal - 1,
      s"x-sort y-read should scan ~everything, opened ${files(xdir, "y")} of $xTotal")
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(zdir).getParentFile)
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(xdir).getParentFile)
  }

  test("partitioned OPTIMIZE ZORDER: the knobs thread to every leaf's fold; steady-skip neither swallows a re-layout nor spends idle versions") {
    val W = graft.operators.Warehouse
    val base = Files.createTempDirectory("graft_pzc")
    val root = base.resolve("p").toString
    // two partitions, each a 32×32 grid appended in 2 shuffled batches
    for (p <- Seq("a", "b"); q <- 0 until 2)
      W.appendManifested(spark, s"$root/part=$p",
        spark.range(0, 1024).filter(pmod(col("id"), lit(2)) === q)
          .select((col("id") % 32).as("x"),
            (col("id") / 32).cast("long").as("y"), col("id")))
    W.compactManifestedPartitioned(spark, root, targetFileBytes = 1L << 10,
      zorderBy = Seq("x", "y"))
    for (p <- Seq("a", "b")) {
      val leaf = s"$root/part=$p"
      val total = W.readManifested(spark, leaf).inputFiles.length
      assert(total >= 4, s"want many files in $p: $total")
      def files(c: String) =
        W.readManifestedRange(spark, leaf, c, 0L, 7L).inputFiles.length
      // the Morton layout arrived at EVERY leaf: both dimensions prune
      assert(files("x") <= total / 2, s"$p x-read ${files("x")} of $total")
      assert(files("y") <= total / 2, s"$p y-read ${files("y")} of $total")
      val want = (0L until 1024L).filter(_ % 32 <= 7).sum
      assert(W.readManifestedRange(spark, leaf, "x", 0L, 7L)
        .agg(sum(col("id"))).head.getLong(0) == want)
    }
    // a steady re-walk WITHOUT re-layout knobs skips every leaf and
    // spends no root version
    val rv = W.rootSnapshots(root).last
    W.compactManifestedPartitioned(spark, root, targetFileBytes = 1L << 10)
    assert(W.rootSnapshots(root).last == rv,
      "a fully-steady walk spent a root version")
    // a re-layout REQUEST is honored — steady-skip must not swallow it
    W.compactManifestedPartitioned(spark, root, targetFileBytes = 1L << 20,
      zorderBy = Seq("x", "y"))
    assert(W.rootSnapshots(root).last == rv + 1,
      "the re-layout walk did not commit")
    org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
  }

  test("partitioned RESTORE: whole-root rollback in one root version; adopted-after partitions refuse; restored root stays live") {
    val W = graft.operators.Warehouse
    val sp = spark; import sp.implicits._
    val base = Files.createTempDirectory("graft_prestore")
    val root = base.resolve("p").toString
    def df(rows: (Long, String, Long)*) = rows.toSeq.toDF("id", "lang", "n")
    def state() = W.readManifestedPartitioned(spark, root)
      .select(col("id"), col("n")).as[(Long, Long)].collect().toSet
    df((1L, "en", 10L), (2L, "de", 20L))
      .write.partitionBy("lang").parquet(root)
    W.compactManifestedPartitioned(spark, root,
      targetFileBytes = 1L << 30)                                 // root v1
    val v1 = W.rootSnapshots(root).last
    val want1 = state()
    W.upsertManifestedPartitioned(spark, root, df((1L, "en", -1L)), "id") // v2
    W.deleteManifestedPartitioned(spark, root, Seq(2L).toDF("id"))        // v3
    assert(state() == Set((1L, -1L)))

    // one call rolls EVERY leaf back; exactly one root version spent
    val rv = W.restoreManifestedPartitioned(spark, root, v1)
    assert(W.rootSnapshots(root).last == rv)
    assert(state() == want1,
      "the sentinel must roll away and the deleted key must return")
    // the restored root is a live table
    W.upsertManifestedPartitioned(spark, root, df((9L, "de", 90L)), "id")
    assert(state() == want1 + ((9L, 90L)))

    // a partition adopted AFTER the target version refuses loudly,
    // before any claim or leaf commit
    W.upsertManifestedPartitioned(spark, root, df((5L, "fr", 50L)), "id")
    val preRefuse = W.rootSnapshots(root).last
    val e = intercept[IllegalArgumentException] {
      W.restoreManifestedPartitioned(spark, root, v1)
    }
    assert(e.getMessage.contains("adopted AFTER"))
    assert(W.rootSnapshots(root).last == preRefuse,
      "a refused restore spent a root version")
    // an unretained root version refuses too
    intercept[IllegalArgumentException] {
      W.restoreManifestedPartitioned(spark, root, 999L)
    }
    org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
  }

  test("partitioned shallow clone: zero files across the root, pinned at the root version, materializable, breaks loudly after source GC") {
    val W = graft.operators.Warehouse
    val sp = spark; import sp.implicits._
    val base = Files.createTempDirectory("graft_pshclone")
    val src = base.resolve("src").toString
    def df(rows: (Long, String, Long)*) = rows.toSeq.toDF("id", "lang", "n")
    def parquets(d: String): Int = {
      var n = 0
      def walk(f: java.io.File): Unit =
        if (f.isDirectory) f.listFiles().foreach(walk)
        else if (f.getName.endsWith(".parquet")) n += 1
      val top = new java.io.File(d)
      if (top.exists()) walk(top)
      n
    }
    def state(d: String) = W.readManifestedPartitioned(spark, d)
      .select(col("id"), col("n")).as[(Long, Long)].collect().toSet
    df((1L, "en", 10L), (2L, "de", 20L), (3L, "de", 30L))
      .write.partitionBy("lang").parquet(src)
    W.compactManifestedPartitioned(spark, src, targetFileBytes = 1L << 30)
    W.deleteManifestedPartitioned(spark, src, Seq(3L).toDF("id"))
    val want = state(src) // {(1,10),(2,20)}

    val dst = base.resolve("clone").toString
    W.cloneManifestedShallowPartitioned(spark, src, dst)
    assert(parquets(dst) == 0,
      "a partitioned shallow clone must copy zero data files")
    assert(state(dst) == want)
    // pinned: post-clone source mutations invisible
    W.upsertManifestedPartitioned(spark, src, df((1L, "en", -1L)), "id")
    assert(state(dst) == want)

    // a second shallow clone, left un-materialized for the GC pin below
    val dst2 = base.resolve("clone2").toString
    W.cloneManifestedShallowPartitioned(spark, src, dst2)

    // partitioned compaction MATERIALIZES every leaf of the clone
    W.compactManifestedPartitioned(spark, dst, targetFileBytes = 1L << 30)
    assert(parquets(dst) > 0)
    Seq("en", "de").foreach { l =>
      assert(!headBody(s"$dst/lang=$l").contains("#ref:"),
        s"leaf $l still holds references")
    }
    assert(state(dst) == want)

    // the Delta stance at root scale: source fold+GC retires the
    // referenced generations — the un-materialized clone2 fails
    // LOUDLY; the materialized clone is immune
    W.compactManifestedPartitioned(spark, src, targetFileBytes = 1L << 30,
      retainSnapshots = 0)
    intercept[Exception] {
      W.readManifestedPartitioned(spark, dst2).count()
    }
    assert(state(dst) == want)
    org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
  }

  test("manifest file inventory: a range read plans with ZERO generation LISTs; a fully-pruned generation keeps its schema") {
    val W = graft.operators.Warehouse
    val IO = graft.operators.ManifestIo

    // (a) the 0-LIST pin, on the object-store scheme whose wrapper
    // counts LIST calls against generation dirs: with `#file:` lines
    // in the manifest, planning + running a pruned range read issues
    // no per-generation directory list — the manifest IS the file
    // inventory (the Delta/Iceberg move; at object-store latencies
    // per-generation LISTs are the dominant read-path metadata cost)
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.objstore.impl", classOf[ObjectStoreLikeFileSystem].getName)
    val local = Files.createTempDirectory("graft_inv")
    val dir = s"objstore://$local/tbl"
    for (q <- 0 until 3)
      W.appendManifested(spark, dir,
        spark.range(q * 100L, q * 100L + 100L).toDF("id"))
    val before = ObjectStoreLikeFileSystem.generationLists.get()
    val pt = W.readManifestedRange(spark, dir, "id", 150L, 150L)
    assert(pt.collect().map(_.getLong(0)).toSeq == Seq(150L))
    val listed = ObjectStoreLikeFileSystem.generationLists.get() - before
    assert(listed == 0,
      s"a stats-bearing range read issued $listed generation LISTs")
    assert(pt.inputFiles.length < W.readManifested(spark, dir).inputFiles.length)

    // (b) legacy manifests (r15 format: #stats but no #file lines)
    // fall back to listing, still correct
    val (fs, root) = IO.resolve(dir, conf)
    val P = new org.apache.hadoop.fs.Path(_: org.apache.hadoop.fs.Path, _: String)
    val headMf = P(root, s"_manifest-${W.snapshots(dir).last}")
    val legacyBody = IO.readString(fs, headMf).split("\n")
      .filterNot(_.startsWith("#file:")).mkString("\n")
    fs.delete(headMf, false)
    assert(IO.putIfAbsent(fs, headMf, legacyBody))
    val before2 = ObjectStoreLikeFileSystem.generationLists.get()
    val legacy = W.readManifestedRange(spark, dir, "id", 150L, 150L)
    assert(legacy.collect().map(_.getLong(0)).toSeq == Seq(150L))
    assert(ObjectStoreLikeFileSystem.generationLists.get() - before2 > 0,
      "legacy fallback should have listed the generations")

    // (c) SCHEMA through a fully-pruned generation: a later generation
    // that ADDED a column contributes its schema (null-filled) even
    // when the stats prune every one of its files — the pruned read
    // stays ≡ readManifested().filter() (r16, the ADVICE fix)
    val d2 = Files.createTempDirectory("graft_inv2").resolve("t").toString
    W.appendManifested(spark, d2, spark.range(0, 100).toDF("id"))
    W.appendManifested(spark, d2,
      spark.range(1000, 1100).toDF("id").withColumn("score", col("id") * 2))
    val low = W.readManifestedRange(spark, d2, "id", 10L, 20L)
    assert(low.columns.toSeq == Seq("id", "score"),
      s"pruning dropped the evolved schema: ${low.columns.toSeq}")
    assert(low.count() == 11L &&
      low.filter(col("score").isNotNull).count() == 0L)
    // the high range reads the evolved rows with values
    val hi = W.readManifestedRange(spark, d2, "id", 1000L, 1009L)
    assert(hi.agg(sum(col("score"))).head.getLong(0) ==
      (1000L to 1009L).map(_ * 2).sum)

    // (d) a RETYPED column refuses loudly even when its generation is
    // fully pruned out — the prune must not smuggle a retype past
    // requireAdditiveOnly
    val d3 = Files.createTempDirectory("graft_inv3").resolve("t").toString
    W.appendManifested(spark, d3,
      spark.range(0, 50).toDF("id").withColumn("v", lit("s")))
    W.appendManifested(spark, d3,
      spark.range(1000, 1050).toDF("id").withColumn("v", lit(7L)))
    val ex = intercept[IllegalArgumentException] {
      W.readManifestedRange(spark, d3, "id", 0L, 10L).collect()
    }
    assert(ex.getMessage.contains("retyped"), ex.getMessage)
    org.apache.commons.io.FileUtils.deleteQuietly(local.toFile)
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(d2).getParentFile)
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(d3).getParentFile)
  }

  test("root-level claim: concurrent partitioned root ops serialize as one of the two serial orders, or refuse loudly") {
    val W = graft.operators.Warehouse
    val root = Files.createTempDirectory("graft_rclaim").resolve("t").toString
    spark.range(0, 40).toDF("id")
      .withColumn("p", (col("id") % 2).cast("string"))
      .withColumn("v", lit("base"))
      .write.partitionBy("p").mode("overwrite").parquet(root)
    W.compactManifestedPartitioned(spark, root, targetFileBytes = 1L << 30)
    def src(tag: String) = spark.range(0, 40).toDF("id")
      .withColumn("p", (col("id") % 2).cast("string"))
      .withColumn("v", lit(tag))
    def valueSet() = W.readManifestedPartitioned(spark, root)
      .select(col("v")).distinct().collect().map(_.getString(0)).toSet

    // (1) the RACE: two writers (same JVM — the per-LEAF locks do NOT
    // serialize root ops; only the claim does) race the same
    // transition. Exactly one claims it; the loser throws
    // ConcurrentModificationException BEFORE touching any leaf.
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val wins = new java.util.concurrent.atomic.AtomicInteger()
    val threads = Seq("A", "B").map { tag =>
      new Thread(() =>
        try {
          W.upsertManifestedPartitioned(spark, root, src(tag), "id",
            Some((s"app$tag", 1L)))
          wins.incrementAndGet(); ()
        } catch { case t: Throwable => errs.add(t); () })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(wins.get() == 1, s"wins=${wins.get()}, errs=$errs")
    assert(errs.size == 1 &&
      errs.peek().isInstanceOf[java.util.ConcurrentModificationException],
      s"loser must fail the claim CAS: $errs")
    // the table is exactly ONE writer's serial result — never a blend
    val after1 = valueSet()
    assert(after1 == Set("A") || after1 == Set("B"), after1)
    val lockstep1 = (0 to 1).map(k => W.snapshots(s"$root/p=$k").last).toSet
    assert(lockstep1.size == 1, s"leaves off lockstep: $lockstep1")

    // the loser retries and lands as the SECOND serial order
    val loser = if (after1 == Set("A")) "B" else "A"
    W.upsertManifestedPartitioned(spark, root, src(loser), "id",
      Some((s"app$loser", 1L)))
    assert(valueSet() == Set(loser))

    // (2) REPLAY of a completed txn: no new claim, no version movement
    val vs = (0 to 1).map(k => W.snapshots(s"$root/p=$k").last).toSet
    W.upsertManifestedPartitioned(spark, root, src(loser), "id",
      Some((s"app$loser", 1L)))
    assert((0 to 1).map(k => W.snapshots(s"$root/p=$k").last).toSet == vs,
      "a completed replay moved a version")

    // (3) a FRESH foreign claim blocks every root op loudly…
    val (fs, rp) = graft.operators.ManifestIo.resolve(root,
      spark.sparkContext.hadoopConfiguration)
    val head = W.rootSnapshots(root).last
    val ghost = new org.apache.hadoop.fs.Path(rp, s"_root-claim-${head + 1}")
    assert(graft.operators.ManifestIo.putIfAbsent(fs, ghost, "ghost:9"))
    intercept[java.util.ConcurrentModificationException] {
      W.upsertManifestedPartitioned(spark, root, src("C"), "id")
    }
    intercept[java.util.ConcurrentModificationException] {
      W.compactManifestedPartitioned(spark, root, targetFileBytes = 1L << 30)
    }
    // …until it AGES, at which point the next writer TAKES IT OVER
    // inside the claim path itself (r16) — a crashed no-txn root op
    // no longer needs a manual vacuum to heal
    assert(new java.io.File(ghost.toUri.getPath)
      .setLastModified(System.currentTimeMillis() - 2 * 60 * 60 * 1000L))
    W.upsertManifestedPartitioned(spark, root, src("C"), "id",
      Some(("appC", 1L)))
    assert(valueSet() == Set("C"))
    // vacuumPartitioned still GCs aged claim debris (grace 0)…
    assert(graft.operators.ManifestIo.putIfAbsent(fs,
      new org.apache.hadoop.fs.Path(rp, s"_root-claim-99"), "ghost:10"))
    val rep = W.vacuumPartitioned(spark, root, graceMs = 0L)
    assert(rep.get(".").exists(_.removedManifests.contains(99L)), rep.toString)
    // …and a claim at/below the committed ROOT head is a COMPLETED
    // transition — collected under the DEFAULT grace, age-independent
    // (the crash window between root-manifest publish and claim delete)
    val doneV = W.rootSnapshots(root).last
    assert(graft.operators.ManifestIo.putIfAbsent(fs,
      new org.apache.hadoop.fs.Path(rp, s"_root-claim-$doneV"), "ghost:11"))
    val rep2 = W.vacuumPartitioned(spark, root)
    assert(rep2.get(".").exists(_.removedManifests.contains(doneV)), rep2.toString)

    // (4) a LEAF-LEVEL writer bumps one leaf between root ops: under
    // the version map this is representable, not drift — the next root
    // op records the moved head and proceeds (the r15 lockstep scheme
    // refused here)
    W.upsertManifested(spark, s"$root/p=0",
      spark.range(0, 3).toDF("id").withColumn("v", lit("rogue")), "id")
    val drep = W.deleteManifestedPartitioned(spark, root,
      spark.range(0, 3).toDF("id"))
    assert(drep.keySet == Set("p=0", "p=1"), drep.toString)
    val cur = W.readManifestedPartitioned(spark, root)
    assert(cur.filter(col("id") < 3).count() == 0L)
    // the new root snapshot resolves BOTH leaves, rogue commit included
    val atHead = W.readManifestedPartitionedAt(spark, root,
      W.rootSnapshots(root).last)
    assert(atHead.count() == cur.count())
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(root).getParentFile)
  }

  test("object-store contract: full lifecycle over copy+delete renames; CAS holds; content identical") {
    val W = graft.operators.Warehouse
    val IO = graft.operators.ManifestIo
    val P = new org.apache.hadoop.fs.Path(_: org.apache.hadoop.fs.Path, _: String)
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.objstore.impl", classOf[ObjectStoreLikeFileSystem].getName)
    val local = Files.createTempDirectory("graft_objstore")
    val dir = s"objstore://$local/tbl"
    val (fs, root) = IO.resolve(dir, conf)
    assert(fs.isInstanceOf[ObjectStoreLikeFileSystem], fs.getClass.getName)

    // full lifecycle on the scheme — every commit is one
    // conditional-PUT-style claim, no file is renamed over another
    W.appendManifested(spark, dir, spark.range(0, 50).toDF("id"))    // v1
    W.appendManifested(spark, dir, spark.range(50, 100).toDF("id"))  // v2
    W.upsertManifested(spark, dir,
      spark.range(0, 10).toDF("id"), "id")                           // v3
    W.deleteManifested(spark, dir,
      spark.range(0, 100).toDF("id").filter(col("id") % 2 === 0))    // v4
    W.compactManifested(spark, dir, targetFileBytes = 1L << 30)      // v5
    assert(W.readManifested(spark, dir).count() == 50L)
    assert(W.history(spark, dir).filter(col("is_current")).count() == 1L)
    assert(W.readManifestedAt(spark, dir, 5L).count() == 50L)

    // no pointer: the trail head is the head, and a `_current` file an
    // older build left in the leaf is ignored by readers and writers
    val stale = fs.create(P(root, "_current"), true)
    try stale.write(".gen-0".getBytes("UTF-8")) finally stale.close()
    assert(W.readManifested(spark, dir).count() == 50L)
    W.appendManifested(spark, dir, spark.range(100, 110).toDF("id")) // v6
    assert(W.readManifested(spark, dir).count() == 60L)
    // the CAS over the create-exclusive claim: a writer anchored on an
    // overtaken version loses loudly and changes nothing
    intercept[java.util.ConcurrentModificationException] {
      W.commitManifest(fs, root, Seq(".gen-99"), expectedVersion = 5L)
    }
    assert(W.snapshots(dir).last == 6L)
    assert(W.readManifested(spark, dir).count() == 60L)
    assert(W.vacuum(spark, dir, graceMs = 0L).removedManifests.isEmpty)
    // and the table keeps committing normally afterwards
    W.appendManifested(spark, dir, spark.range(130, 140).toDF("id"))  // v7
    assert(W.readManifested(spark, dir).count() == 70L)
    org.apache.commons.io.FileUtils.deleteQuietly(local.toFile)
  }

  test("object-store partitioned root: version maps, touched-only commits and time travel hold over copy+delete renames") {
    // the r16 root-map protocol on the objstore scheme: root-manifest
    // CAS via create-exclusive, claim refresh + per-leaf manifest
    // claims, per-leaf staged moves — the whole
    // partitioned lifecycle must behave exactly as on file:
    val W = graft.operators.Warehouse
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.objstore.impl", classOf[ObjectStoreLikeFileSystem].getName)
    val local = Files.createTempDirectory("graft_objp")
    val root = s"objstore://$local/tbl"
    spark.range(0, 40).toDF("id")
      .withColumn("p", (col("id") % 2).cast("string"))
      .withColumn("v", lit("base"))
      .write.partitionBy("p").mode("overwrite").parquet(root)
    W.compactManifestedPartitioned(spark, root, targetFileBytes = 1L << 30)
    assert(W.rootSnapshots(root) == Seq(1L))
    // touched-only MERGE: source routes to p=0 only
    W.upsertManifestedPartitioned(spark, root,
      spark.range(0, 6).toDF("id").filter(col("id") % 2 === 0)
        .withColumn("p", lit("0")).withColumn("v", lit("new")), "id",
      Some("app" -> 1L))
    assert(W.rootSnapshots(root) == Seq(1L, 2L))
    // delete across leaves
    W.deleteManifestedPartitioned(spark, root,
      spark.range(10, 20).toDF("id"), Some("app" -> 2L))
    val cur = W.readManifestedPartitioned(spark, root)
    assert(cur.count() == 30L)
    assert(cur.filter(col("v") === "new").count() == 3L)
    // time travel through the maps
    assert(W.readManifestedPartitionedAt(spark, root, 1L).count() == 40L)
    assert(W.readManifestedPartitionedAt(spark, root, 2L).count() == 40L)
    assert(W.readManifestedPartitionedAt(spark, root, 3L).count() == 30L)
    // the audit view: map line advances once per op, touched counts
    // reflect the touched-only contract (merge touched 1 of 2 leaves)
    val rh = W.rootHistory(spark, root).orderBy(col("version")).collect()
    assert(rh.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(rh.map(_.getLong(2)).toSet == Set(2L), "n_leaves")
    assert(rh(1).getLong(3) == 1L, s"merge touched ${rh(1).getLong(3)} leaves")
    assert(rh(2).getLong(3) == 2L, s"delete touched ${rh(2).getLong(3)} leaves")
    assert(rh(2).getString(5) == "app:2", rh(2).toString)
    // full replay end-to-end: nothing moves anywhere
    val rvs = W.rootSnapshots(root)
    W.deleteManifestedPartitioned(spark, root,
      spark.range(10, 20).toDF("id"), Some("app" -> 2L))
    assert(W.rootSnapshots(root) == rvs)
    org.apache.commons.io.FileUtils.deleteQuietly(local.toFile)
  }

  test("additive schema evolution: a MERGE with a NEW column null-fills older generations, survives folds and partitioned roots; retype refuses loudly") {
    val W = graft.operators.Warehouse
    val dir = Files.createTempDirectory("graft_evolve").resolve("tbl").toString
    W.appendManifested(spark, dir,
      spark.range(0, 20).toDF("id").withColumn("v", lit("a")))
    // MERGE whose source carries an extra (new) column — the add-a-
    // column lake contract through the ROW-LEVEL path (the r12 pin
    // covered read/fold only)
    W.upsertManifested(spark, dir,
      spark.range(0, 5).toDF("id").withColumn("v", lit("b"))
        .withColumn("score", col("id") * 10), "id")
    def check(df: org.apache.spark.sql.DataFrame): Unit = {
      val rows = df.select("id", "v", "score").collect()
        .map(r => (r.getLong(0), r.getString(1),
          if (r.isNullAt(2)) -1L else r.getLong(2))).sortBy(_._1).toSeq
      assert(rows == (0L until 20L).map(i =>
        if (i < 5) (i, "b", i * 10) else (i, "a", -1L)).toSeq, rows.take(8))
    }
    check(W.readManifested(spark, dir))
    // the skipping read unions-with-nulls identically
    check(W.readManifestedRange(spark, dir, "id", 0L, 19L))
    // the fold MATERIALIZES the evolved schema; reads stay identical
    W.compactManifested(spark, dir, targetFileBytes = 1L << 30)
    check(W.readManifested(spark, dir))

    // the same evolution through the PARTITIONED row-level path:
    // every leaf's slice (empty ones included) carries the new column
    val proot = Files.createTempDirectory("graft_evolvep").resolve("t").toString
    spark.range(0, 40).toDF("id")
      .withColumn("p", (col("id") % 2).cast("string")).withColumn("v", lit("a"))
      .write.partitionBy("p").mode("overwrite").parquet(proot)
    W.compactManifestedPartitioned(spark, proot, targetFileBytes = 1L << 30)
    W.upsertManifestedPartitioned(spark, proot,
      spark.range(0, 6).toDF("id")
        .withColumn("p", (col("id") % 2).cast("string"))
        .withColumn("v", lit("b")).withColumn("score", col("id") * 10), "id")
    def pcheck(): Unit = {
      val rows = W.readManifestedPartitioned(spark, proot)
        .select("id", "v", "score").collect()
        .map(r => (r.getLong(0), r.getString(1),
          if (r.isNullAt(2)) -1L else r.getLong(2))).sortBy(_._1).toSeq
      assert(rows == (0L until 40L).map(i =>
        if (i < 6) (i, "b", i * 10) else (i, "a", -1L)).toSeq, rows.take(8))
    }
    pcheck()
    // per-leaf folds keep the evolved union
    W.compactManifestedPartitioned(spark, proot, targetFileBytes = 1L << 30)
    pcheck()

    // RETYPING an existing column stays a loud refusal, never a silent
    // coercion: the commit may land (the footer probe checks the key
    // only), but no read resolves the table half-retyped — the union
    // path refuses BEFORE type coercion could quietly cast (values
    // that happen to parse would otherwise widen silently)
    W.upsertManifested(spark, dir,
      spark.range(0, 3).toDF("id").withColumn("v", lit(9L)), "id")
    val boom = intercept[IllegalArgumentException] {
      W.readManifested(spark, dir).collect()
    }
    assert(boom.getMessage.contains("retyped"), boom.getMessage)
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(dir).getParentFile)
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(proot).getParentFile)
  }

  test("staged partitioned merge routes ESCAPED partition values; partitioned range read prunes files inside every leaf") {
    val W = graft.operators.Warehouse
    val root = Files.createTempDirectory("graft_esc").resolve("t").toString
    // partition values Spark must path-escape on write (space, percent):
    // the staged-merge lookup re-escapes what leafKvs unescaped — a
    // mismatch would route every slice to the empty-template path
    val docs = spark.range(0, 40).toDF("id")
      .withColumn("p", when(col("id") % 2 === 0, lit("a b")).otherwise(lit("c%d")))
      .withColumn("v", lit("old"))
    docs.write.partitionBy("p").mode("overwrite").parquet(root)
    W.compactManifestedPartitioned(spark, root, targetFileBytes = 1L << 30)
    W.upsertManifestedPartitioned(spark, root,
      spark.range(0, 6).toDF("id")
        .withColumn("p", when(col("id") % 2 === 0, lit("a b")).otherwise(lit("c%d")))
        .withColumn("v", lit("new")), "id")
    val back = W.readManifestedPartitioned(spark, root)
    assert(back.count() == 40L)
    assert(back.filter(col("v") === "new").count() == 6L,
      "escaped partition values failed to route the merge slices")
    assert(back.select("p").distinct().collect().map(_.getString(0)).toSet ==
      Set("a b", "c%d"), "partition values did not round-trip the escaping")

    // a second, range-disjoint merge gives each leaf a high-id
    // generation; a low-id point read then prunes those files inside
    // EVERY leaf while the partition re-attach still rides along
    W.upsertManifestedPartitioned(spark, root,
      spark.range(100, 120).toDF("id")
        .withColumn("p", when(col("id") % 2 === 0, lit("a b")).otherwise(lit("c%d")))
        .withColumn("v", lit("hi")), "id")
    val fullFiles = W.readManifestedPartitioned(spark, root).inputFiles.length
    val pr = W.readManifestedPartitionedRange(spark, root, "id", 3L, 3L)
    assert(pr.collect().map(r =>
      (r.getAs[Long]("id"), r.getAs[String]("v"), r.getAs[String]("p"))).toSeq ==
      Seq((3L, "new", "c%d")))
    assert(pr.inputFiles.length < fullFiles,
      s"partitioned range read opened ${pr.inputFiles.length} of $fullFiles")
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(root).getParentFile)
  }

  test("partition adoption: a MERGE introducing a new partition creates its leaf in ONE root version; racing creators converge") {
    val W = graft.operators.Warehouse
    val root = Files.createTempDirectory("graft_adopt").resolve("t").toString
    spark.range(0, 40).toDF("id")
      .withColumn("p", (col("id") % 2).cast("string"))
      .withColumn("v", lit("base"))
      .write.partitionBy("p").mode("overwrite").parquet(root)
    W.compactManifestedPartitioned(spark, root, targetFileBytes = 1L << 30)
    val preV = W.rootSnapshots(root).last
    def src(ids: Range, p: String, tag: String) =
      spark.range(ids.start, ids.end).toDF("id")
        .withColumn("p", lit(p)).withColumn("v", lit(tag))

    // (1) ONE merge spanning an existing partition (updates — EVEN ids,
    // the ones that live in p=0) and a brand-new one: creation + first
    // data land in one root version
    val m = W.upsertManifestedPartitioned(spark, root,
      src(0 until 3, "0", "upd").withColumn("id", col("id") * 2)
        .unionByName(src(100 until 110, "2", "new")),
      "id")
    assert(m.keySet == Set("p=0", "p=1", "p=2"), m.toString)
    assert(W.rootSnapshots(root).last == preV + 1,
      s"adoption+data must spend ONE root version: ${W.rootSnapshots(root)}")
    val cur = W.readManifestedPartitioned(spark, root)
    assert(cur.count() == 50L)
    assert(cur.filter(col("p") === "2").count() == 10L)
    assert(cur.filter(col("v") === "upd").count() == 3L)
    // a reader at preV never sees the partition; at preV+1 sees it whole
    assert(W.readManifestedPartitionedAt(spark, root, preV)
      .filter(col("p") === "2").count() == 0L)
    assert(W.readManifestedPartitionedAt(spark, root, preV + 1)
      .filter(col("p") === "2").count() == 10L)

    // (2) a second merge into the now-existing partition: normal path
    W.upsertManifestedPartitioned(spark, root, src(100 until 103, "2", "upd2"), "id")
    val p2 = W.readManifestedPartitioned(spark, root).filter(col("p") === "2")
    assert(p2.count() == 10L && p2.filter(col("v") === "upd2").count() == 3L)

    // (3) a TORN prior creation (directory + orphan .gen-0, no commit)
    // converges: the head-probe re-creates it instead of refusing or
    // merging into the debris
    assert(new java.io.File(s"$root/p=3/.gen-0").mkdirs())
    W.upsertManifestedPartitioned(spark, root, src(200 until 205, "3", "late"), "id")
    assert(W.readManifestedPartitioned(spark, root)
      .filter(col("p") === "3").count() == 5L)

    // (4) the RACE: two writers introduce the SAME new partition with
    // disjoint keys. Exactly one claims the transition; the loser
    // refuses BEFORE creating anything, retries, finds the leaf
    // committed, and lands as the second serial order — both key sets
    // survive, the leaf was created exactly once.
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val wins = new java.util.concurrent.atomic.AtomicInteger()
    val threads = Seq(("rA", 300), ("rB", 400)).map { case (tag, lo) =>
      new Thread(() =>
        try {
          W.upsertManifestedPartitioned(spark, root,
            src(lo until lo + 5, "4", tag), "id")
          wins.incrementAndGet(); ()
        } catch { case t: Throwable => errs.add(t); () })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(wins.get() == 1, s"wins=${wins.get()}, errs=$errs")
    assert(errs.size == 1 &&
      errs.peek().isInstanceOf[java.util.ConcurrentModificationException],
      s"loser must fail the claim CAS before creating anything: $errs")
    val loser = if (W.readManifestedPartitioned(spark, root)
      .filter(col("v") === "rA").count() == 5L) ("rB", 400) else ("rA", 300)
    W.upsertManifestedPartitioned(spark, root,
      src(loser._2 until loser._2 + 5, "4", loser._1), "id")
    val p4 = W.readManifestedPartitioned(spark, root).filter(col("p") === "4")
    assert(p4.count() == 10L)
    assert(p4.select(col("v")).distinct().collect().map(_.getString(0)).toSet ==
      Set("rA", "rB"))
    // created exactly once: v1 = the empty adoption commit, then one
    // data commit per writer — never a second .gen-0 reset
    assert(W.snapshots(s"$root/p=4") == Seq(1L, 2L, 3L),
      W.snapshots(s"$root/p=4").toString)
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(root).getParentFile)
  }

  test("legacy mid-transition root: an AGED crashed lockstep heals through compaction; fresh and txn ops still refuse") {
    val W = graft.operators.Warehouse
    val root = Files.createTempDirectory("graft_legacy").resolve("t").toString
    spark.range(0, 40).toDF("id")
      .withColumn("p", (col("id") % 2).cast("string"))
      .write.partitionBy("p").mode("overwrite").parquet(root)
    // the pre-r16 world: per-LEAF ops only, no root manifest ever
    W.compactManifested(spark, s"$root/p=0", targetFileBytes = 1L << 30)
    W.compactManifested(spark, s"$root/p=1", targetFileBytes = 1L << 30)
    // a crashed r15-era root op: one leaf committed (head moved), the
    // other not — vMin..vMin+1 — with the corpse's claim left behind
    W.appendManifested(spark, s"$root/p=0",
      spark.range(100, 110).toDF("id"))
    val vMax = W.snapshots(s"$root/p=0").last
    assert(vMax == W.snapshots(s"$root/p=1").last + 1, "fixture drifted")
    val (fs, rp) = graft.operators.ManifestIo.resolve(root,
      spark.sparkContext.hadoopConfiguration)
    val claim = new org.apache.hadoop.fs.Path(rp, s"_root-claim-$vMax")
    assert(graft.operators.ManifestIo.putIfAbsent(fs, claim, "deadapp:7"))

    // FRESH claim: everything refuses — a live migrating op may own it
    intercept[java.util.ConcurrentModificationException] {
      W.compactManifestedPartitioned(spark, root, targetFileBytes = 1L << 30)
    }
    val exFresh = intercept[IllegalStateException] {
      W.deleteManifestedPartitioned(spark, root,
        spark.range(0, 3).toDF("id"), txn = Some(("app", 1L)))
    }
    assert(exFresh.getMessage.contains("only the owning txn"), exFresh.getMessage)

    // AGED claim: a txn op STILL refuses (it would publish someone
    // else's torn write under its own marker)…
    assert(new java.io.File(claim.toUri.getPath)
      .setLastModified(System.currentTimeMillis() - 2 * 60 * 60 * 1000L))
    intercept[IllegalStateException] {
      W.deleteManifestedPartitioned(spark, root,
        spark.range(0, 3).toDF("id"), txn = Some(("app", 1L)))
    }
    // …but content-preserving compaction TAKES OVER: folds each leaf
    // at its actual head and publishes the first root version map
    W.compactManifestedPartitioned(spark, root, targetFileBytes = 1L << 30)
    assert(W.rootSnapshots(root) == Seq(vMax), W.rootSnapshots(root).toString)
    val back = W.readManifestedPartitioned(spark, root)
    assert(back.count() == 50L, s"content lost in takeover: ${back.count()}")
    assert(W.readManifestedPartitionedAt(spark, root, vMax).count() == 50L)
    // the root is map-managed now: ordinary root ops proceed
    W.deleteManifestedPartitioned(spark, root, spark.range(100, 110).toDF("id"))
    assert(W.readManifestedPartitioned(spark, root).count() == 40L)

    // ARBITRARY drift (≥2 — out-of-band per-leaf writers, no crashed
    // root op, no claim): a txn op refuses with the migration hint;
    // compaction migrates the root to a map at the leaves' ACTUAL
    // heads — the same representable-not-broken stance the mapped
    // path takes for leaf-level bumps between root ops
    val root2 = Files.createTempDirectory("graft_legacy2").resolve("t").toString
    spark.range(0, 40).toDF("id")
      .withColumn("p", (col("id") % 2).cast("string"))
      .write.partitionBy("p").mode("overwrite").parquet(root2)
    W.compactManifested(spark, s"$root2/p=0", targetFileBytes = 1L << 30)
    W.compactManifested(spark, s"$root2/p=1", targetFileBytes = 1L << 30)
    W.appendManifested(spark, s"$root2/p=0", spark.range(100, 110).toDF("id"))
    W.appendManifested(spark, s"$root2/p=0", spark.range(200, 210).toDF("id"))
    assert(W.snapshots(s"$root2/p=0").last - W.snapshots(s"$root2/p=1").last == 2)
    val exDrift = intercept[IllegalStateException] {
      W.deleteManifestedPartitioned(spark, root2,
        spark.range(0, 2).toDF("id"), txn = Some(("app", 1L)))
    }
    assert(exDrift.getMessage.contains("drifted"), exDrift.getMessage)
    W.compactManifestedPartitioned(spark, root2, targetFileBytes = 1L << 30)
    assert(W.rootSnapshots(root2) == Seq(4L), W.rootSnapshots(root2).toString)
    assert(W.readManifestedPartitioned(spark, root2).count() == 60L)
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(root).getParentFile)
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(root2).getParentFile)
  }

  test("steady-skip retention: the skip still ages out pre-fold snapshots and old root maps, spending no version") {
    val W = graft.operators.Warehouse
    val root = Files.createTempDirectory("graft_steadygc").resolve("t").toString
    spark.range(0, 40).toDF("id")
      .withColumn("p", (col("id") % 2).cast("string"))
      .write.partitionBy("p").mode("overwrite").parquet(root)
    W.compactManifestedPartitioned(spark, root, targetFileBytes = 1L << 30)
    // post-fold leaves hold {adopt, fold} manifests + the pre-fold gen
    assert(W.snapshots(s"$root/p=0") == Seq(1L, 2L))
    assert(new java.io.File(s"$root/p=0/.gen-0").exists())
    val rootV = W.rootSnapshots(root).last

    // (1) young manifests inside retainFor survive even at count 0
    W.compactManifestedPartitioned(spark, root, targetFileBytes = 1L << 30,
      retainSnapshots = 0, retainFor = Some(java.time.Duration.ofHours(1)))
    assert(W.snapshots(s"$root/p=0") == Seq(1L, 2L),
      "retainFor must keep young snapshots on the steady path")

    // (2) count-only retain 0: the steady SKIP reclaims the pre-fold
    // trail — manifest 1 and .gen-0 go — without folding anything or
    // spending a root version (the r16 skip froze this storage forever)
    W.compactManifestedPartitioned(spark, root, targetFileBytes = 1L << 30,
      retainSnapshots = 0)
    assert(W.snapshots(s"$root/p=0") == Seq(2L),
      W.snapshots(s"$root/p=0").toString)
    assert(!new java.io.File(s"$root/p=0/.gen-0").exists(),
      "the pre-fold generation must be GC'd by the steady-path retention")
    assert(W.readManifestedPartitioned(spark, root).count() == 40L)
    assert(W.rootSnapshots(root) == Seq(rootV),
      s"a steady walk spent a root version: ${W.rootSnapshots(root)}")

    // (3) old ROOT MAPS age out on the skip path too: pile up root
    // versions, fold once, then a steady retain-0 walk GCs the trail
    W.deleteManifestedPartitioned(spark, root, spark.range(0, 3).toDF("id"))
    W.upsertManifestedPartitioned(spark, root,
      spark.range(0, 3).toDF("id").withColumn("p", (col("id") % 2).cast("string")),
      "id")
    W.compactManifestedPartitioned(spark, root, targetFileBytes = 1L << 30)
    val head = W.rootSnapshots(root).last
    assert(W.rootSnapshots(root).size > 1)
    W.compactManifestedPartitioned(spark, root, targetFileBytes = 1L << 30,
      retainSnapshots = 0)
    assert(W.rootSnapshots(root) == Seq(head), W.rootSnapshots(root).toString)
    assert(W.readManifestedPartitionedAt(spark, root, head).count() == 40L)
    intercept[IllegalArgumentException] {
      W.readManifestedPartitionedAt(spark, root, rootV).collect()
    }
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(root).getParentFile)
  }

  test("n-dim z-order: a 3-D Morton fold prunes a band on ANY dimension; non-numeric and >4-dim requests refuse loudly") {
    val W = graft.operators.Warehouse
    // a 32×32×32 grid, ids shuffled into 4 appends so the pre-fold
    // layout carries no accidental order. The grid must be large
    // relative to the file count for the tile geometry to show: with
    // F files a tile has edge ~(n³/F)^⅓, and a band of width w opens
    // ~(w + edge)/n of the files — at 32³ and ~300 files that is ~40%
    // for the 8-wide quarter band (vs ~100% unclustered).
    val zdir = Files.createTempDirectory("graft_z3").resolve("z").toString
    for (q <- 0 until 4)
      W.appendManifested(spark, zdir,
        spark.range(0, 32768).filter(pmod(col("id"), lit(4)) === q)
          .select((col("id") % 32).as("x"),
            ((col("id") / 32) % 32).cast("long").as("y"),
            (col("id") / 1024).cast("long").as("z"), col("id")))
    W.compactManifested(spark, zdir, targetFileBytes = 1L << 10,
      zorderBy = Seq("x", "y", "z"))
    val total = W.readManifested(spark, zdir).inputFiles.length
    assert(total >= 32, s"want many files: $total")
    def files(c: String) =
      W.readManifestedRange(spark, zdir, c, 0L, 7L).inputFiles.length
    def rows(c: String) =
      W.readManifestedRange(spark, zdir, c, 0L, 7L)
        .agg(sum(col("id"))).head.getLong(0)
    // correctness of the band on every dimension
    assert(rows("x") == (0L until 32768L).filter(_ % 32 <= 7).sum)
    assert(rows("y") == (0L until 32768L).filter(i => (i / 32) % 32 <= 7).sum)
    assert(rows("z") == (0L until 32768L).filter(_ / 1024 <= 7).sum)
    // every dimension prunes: each output file is a 3-D tile
    for (c <- Seq("x", "y", "z"))
      assert(files(c) <= total / 2,
        s"3-D z-layout $c-band opened ${files(c)} of $total")
    // 4-D: dim 3's top bucket bit is the Long SIGN bit — the fold's
    // sign-XOR keeps the curve contiguous under the engine's signed
    // range partitioner (without it the top half of dim 3 sorts FIRST
    // and its box splits across the curve). A band on the sign-bit
    // dimension must still prune.
    val wdir = Files.createTempDirectory("graft_z4").resolve("w").toString
    for (q <- 0 until 4)
      W.appendManifested(spark, wdir,
        spark.range(0, 65536).filter(pmod(col("id"), lit(4)) === q)
          .select((col("id") % 16).as("a"),
            ((col("id") / 16) % 16).cast("long").as("b"),
            ((col("id") / 256) % 16).cast("long").as("c"),
            (col("id") / 4096).cast("long").as("d"), col("id")))
    W.compactManifested(spark, wdir, targetFileBytes = 1L << 10,
      zorderBy = Seq("a", "b", "c", "d"))
    val wTotal = W.readManifested(spark, wdir).inputFiles.length
    assert(wTotal >= 32, s"want many files: $wTotal")
    val dBand = W.readManifestedRange(spark, wdir, "d", 0L, 1L)
    assert(dBand.agg(sum(col("id"))).head.getLong(0) ==
      (0L until 65536L).filter(_ / 4096 <= 1).sum)
    assert(dBand.inputFiles.length <= wTotal / 2,
      s"4-D z-layout d-band (sign-bit dim) opened ${dBand.inputFiles.length} of $wTotal")

    // refusal 1: a lexical string dimension (would bucket as null and
    // silently lose the layout — the r16 behavior this pins away)
    val sdir = Files.createTempDirectory("graft_z3s").resolve("s").toString
    W.appendManifested(spark, sdir,
      spark.range(0, 10).select(col("id"),
        concat(lit("w"), col("id")).as("s")))
    val ex = intercept[IllegalArgumentException] {
      W.compactManifested(spark, sdir, zorderBy = Seq("id", "s"))
    }
    assert(ex.getMessage.contains("numeric"), ex.getMessage)
    // refusal 2: more than 4 dimensions overflows the 64-bit key
    val ex2 = intercept[IllegalArgumentException] {
      W.compactManifested(spark, zdir, zorderBy = Seq("x", "y", "z", "id", "x"))
    }
    assert(ex2.getMessage.contains("2 to 4"), ex2.getMessage)
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(zdir).getParentFile)
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(sdir).getParentFile)
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(wdir).getParentFile)
  }

  test("change data feed: net insert/update/delete with correct images, empty self-diff, compaction-window equivalence, refusals") {
    val W = graft.operators.Warehouse
    val dir = Files.createTempDirectory("graft_cdf").resolve("t").toString
    def rows(xs: (Long, Long)*) = {
      import spark.implicits._
      xs.toSeq.toDF("id", "p")
    }
    W.appendManifested(spark, dir, rows((0L to 10L).map(i => i -> i * 10): _*)) // v1
    W.deleteManifested(spark, dir,
      rows((0L to 10L).filter(_ % 2 == 0).map(i => i -> 0L): _*).select(col("id"))) // v2
    // v3: identical re-insert (net NO-OP), changed re-insert (update),
    // brand-new key (insert)
    W.appendManifested(spark, dir, rows(0L -> 0L, 2L -> 999L, 100L -> 5L))  // v3
    def ch(a: Long, b: Long) =
      W.tableChanges(spark, dir, "id", a, b).collect()
        .map(r => (r.getAs[Long]("id"), r.getAs[Long]("p"),
          r.getAs[String]("change_type"))).toSet
    assert(ch(1L, 3L) == Set(
      (4L, 40L, "delete"), (6L, 60L, "delete"),   // PRE-image payloads
      (8L, 80L, "delete"), (10L, 100L, "delete"),
      (2L, 20L, "update_preimage"),                // both update images
      (2L, 999L, "update_postimage"),
      (100L, 5L, "insert")),
      s"net diff v1->v3: ${ch(1L, 3L)}")
    // the identically-re-inserted key 0 nets out — no row at all
    assert(!ch(1L, 3L).exists(_._1 == 0L))
    assert(ch(2L, 3L) == Set((0L, 0L, "insert"), (2L, 999L, "insert"),
      (100L, 5L, "insert")))
    assert(ch(3L, 3L).isEmpty && ch(1L, 1L).isEmpty)
    intercept[IllegalArgumentException] { W.tableChanges(spark, dir, "id", 3L, 1L) }
    intercept[IllegalArgumentException] { W.tableChanges(spark, dir, "nope", 1L, 3L) }
    // a compaction between the endpoints renames every surviving row
    // into the fold — the diff degrades to full candidates but the NET
    // result is identical (rewritten-identical rows net out)
    val before = ch(1L, 3L)
    W.compactManifested(spark, dir, targetFileBytes = 1L << 30,
      retainSnapshots = 10)                                               // v4
    assert(ch(1L, 4L) == before, s"fold changed the net diff: ${ch(1L, 4L)}")
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(dir).getParentFile)
  }

  test("restore: version rollback as a new commit — empty CDF to the restored version, rollback visible as changes, time travel keeps both sides") {
    val W = graft.operators.Warehouse
    val dir = Files.createTempDirectory("graft_restore").resolve("t").toString
    import spark.implicits._
    def ids() = W.readManifested(spark, dir).collect().map(_.getLong(0)).toSet
    W.appendManifested(spark, dir, spark.range(0, 10).toDF("id"))       // v1
    W.deleteManifested(spark, dir,
      spark.range(0, 10).filter(col("id") % 2 === 0).toDF("id"))        // v2
    W.appendManifested(spark, dir, Seq(100L).toDF("id"))                // v3
    assert(W.restoreManifested(spark, dir, 1L) == 4L)                   // v4 ≡ v1
    assert(ids() == (0L until 10L).toSet, "restored head must serve v1")
    // nothing deleted: the rolled-past versions stay time-travelable
    assert(W.snapshots(dir) == Seq(1L, 2L, 3L, 4L))
    assert(W.readManifestedAt(spark, dir, 3L).collect().map(_.getLong(0)).toSet ==
      Set(1L, 3L, 5L, 7L, 9L, 100L), "pre-restore state must stay readable")
    // the feed composes: restore-to-v1 diffs EMPTY against v1 (equal
    // entry lists — zero candidates, zero reads)...
    assert(W.tableChanges(spark, dir, "id", 1L, 4L).isEmpty)
    // ...and the rollback IS the change between v3 and v4: the evens
    // return as inserts, the post-v1 row 100 retracts as a delete
    val ch = W.tableChanges(spark, dir, "id", 3L, 4L).collect()
      .map(r => (r.getLong(0), r.getAs[String]("change_type"))).toSet
    assert(ch == Set((0L, "insert"), (2L, "insert"), (4L, "insert"),
      (6L, "insert"), (8L, "insert"), (100L, "delete")), s"rollback feed: $ch")
    // restore-to-head is a no-op; an un-retained version refuses
    assert(W.restoreManifested(spark, dir, 4L) == 4L)
    assert(W.snapshots(dir) == Seq(1L, 2L, 3L, 4L))
    intercept[IllegalArgumentException] { W.restoreManifested(spark, dir, 99L) }
    // the restored head is a LIVE table: a new append's generation id
    // steps PAST the rolled-past versions' on-disk directories (never
    // overwriting retained snapshot data), and everything still reads
    W.appendManifested(spark, dir, Seq(200L).toDF("id"))                // v5
    assert(ids() == (0L until 10L).toSet + 200L)
    assert(W.readManifestedAt(spark, dir, 3L).collect().map(_.getLong(0)).toSet ==
      Set(1L, 3L, 5L, 7L, 9L, 100L),
      "a post-restore append must not overwrite a retained generation")
    // the direct collision shape: append/append/restore-to-1/append —
    // a head-anchored id sequence would re-issue .gen-1 and the new
    // generation's overwrite-write would destroy retained v2's data;
    // the id sequence must step past every on-disk entry
    val d2 = Files.createTempDirectory("graft_restore2").resolve("t").toString
    W.appendManifested(spark, d2, spark.range(0, 10).toDF("id"))        // .gen-0
    W.appendManifested(spark, d2, spark.range(10, 20).toDF("id"))       // .gen-1
    W.restoreManifested(spark, d2, 1L)
    W.appendManifested(spark, d2, Seq(200L).toDF("id"))
    assert(W.readManifestedAt(spark, d2, 2L).collect().map(_.getLong(0)).toSet ==
      (0L until 20L).toSet,
      "post-restore append re-used a retained generation's id")
    assert(W.readManifested(spark, d2).collect().map(_.getLong(0)).toSet ==
      (0L until 10L).toSet + 200L)
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(dir).getParentFile)
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(d2).getParentFile)
  }

  test("change data feed across an additive schema-evolution window: pre-images null-fill the new column (the Delta CDF convention)") {
    // the layer's own MERGE supports additive evolution (r15), so a
    // feed window crossing the evolution commit must be READABLE —
    // r18 refused it, a consumer-facing seam (r18 VERDICT #3). The
    // reconciliation null-fills the `from` image up to `to`'s columns;
    // a new column arrives as update/insert post-images whose
    // pre-images carry null in the new fields.
    val W = graft.operators.Warehouse
    val dir = Files.createTempDirectory("graft_cdfevo").resolve("t").toString
    import spark.implicits._
    W.appendManifested(spark, dir,
      Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("id", "p"))            // v1
    // additive evolution inside the window: MERGE with a NEW column q
    W.upsertManifested(spark, dir,
      Seq((2L, 20L, 7L), (9L, 90L, 8L)).toDF("id", "p", "q"), "id")    // v2
    val ch = W.tableChanges(spark, dir, "id", 1L, 2L).collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Long]("p"),
        Option(r.getAs[java.lang.Long]("q")).map(_.toLong),
        r.getAs[String]("change_type"))).toSet
    assert(ch == Set(
      (2L, 20L, None, "update_preimage"),      // pre-image: q null-filled
      (2L, 20L, Some(7L), "update_postimage"),
      (9L, 90L, Some(8L), "insert")),
      s"evolution-window feed: $ch")
    // key 1/3 untouched (not candidates) — no spurious updates from
    // the null-filled comparison
    assert(!ch.exists(t => t._1 == 1L || t._1 == 3L))
    // self-diffs on either side of the evolution stay empty
    assert(W.tableChanges(spark, dir, "id", 2L, 2L).isEmpty)
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(dir).getParentFile)
  }

  test("partitioned change feed: untouched leaves contribute nothing, changed leaves diff candidate-bounded, adopted partitions arrive as inserts") {
    val W = graft.operators.Warehouse
    val root = Files.createTempDirectory("graft_pcdf").resolve("t").toString
    spark.range(0, 20).toDF("id")
      .withColumn("p", (col("id") % 2).cast("string"))
      .withColumn("v", lit("base"))
      .write.partitionBy("p").mode("overwrite").parquet(root)
    W.compactManifestedPartitioned(spark, root, targetFileBytes = 1L << 30)
    val r1 = W.rootSnapshots(root).last
    // one merge: update two even keys (p=0) and adopt p=9 whole
    W.upsertManifestedPartitioned(spark, root,
      spark.range(0, 2).toDF("id").withColumn("id", col("id") * 2)
        .withColumn("p", lit("0")).withColumn("v", lit("upd"))
        .unionByName(spark.range(100, 103).toDF("id")
          .withColumn("p", lit("9")).withColumn("v", lit("new"))),
      "id")
    val r2 = W.rootSnapshots(root).last
    val ch = W.tableChangesPartitioned(spark, root, "id", r1, r2).collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("v"),
        r.getAs[String]("p"), r.getAs[String]("change_type"))).toSet
    assert(ch == Set(
      (0L, "base", "0", "update_preimage"), (0L, "upd", "0", "update_postimage"),
      (2L, "base", "0", "update_preimage"), (2L, "upd", "0", "update_postimage"),
      (100L, "new", "9", "insert"), (101L, "new", "9", "insert"),
      (102L, "new", "9", "insert")), s"partitioned feed: $ch")
    // untouched p=1 contributed nothing; self-diff is empty; a
    // non-retained root version refuses loudly
    assert(!ch.exists(_._3 == "1"))
    assert(W.tableChangesPartitioned(spark, root, "id", r2, r2).isEmpty)
    intercept[IllegalArgumentException] {
      W.tableChangesPartitioned(spark, root, "id", r1 - 1000, r2).collect()
    }
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(root).getParentFile)
  }

  test("deep clone: snapshot-pinned content, fresh history, storage independence both ways, txn markers dropped, refusals and crash convergence") {
    val W = graft.operators.Warehouse
    val base = Files.createTempDirectory("graft_clone")
    val src = s"$base/src"
    W.appendManifested(spark, src, spark.range(0, 20).toDF("id"))        // v1
    W.deleteManifested(spark, src,
      spark.range(0, 20).filter(col("id") % 2 === 0).toDF("id"))         // v2
    W.upsertManifested(spark, src, spark.range(100, 103).toDF("id"), "id",
      txn = Some("app" -> 7L))                                           // v3
    // version-pinned clone = the time-travel content, not the head
    val c1 = s"$base/c1"
    assert(W.cloneManifested(spark, src, c1, version = Some(1L)) == 1L)
    assert(W.readManifested(spark, c1).count() == 20L)
    assert(W.snapshots(c1) == Seq(1L), "a clone starts a FRESH history")
    // head clone carries the snapshot incl. tombstones; txn markers of
    // the source's writers do NOT transfer (fresh table, fresh
    // idempotence domain)
    val c2 = s"$base/c2"
    W.cloneManifested(spark, src, c2)
    assert(W.readManifested(spark, c2).count() == 13L)
    assert(!headBody(c2).contains("#txn:"),
      "writer idempotence state must not transfer to a clone")
    // independence both directions: mutate source -> clone unchanged;
    // mutate clone -> source unchanged
    W.deleteManifested(spark, src, spark.range(0, 20).toDF("id"))
    assert(W.readManifested(spark, c2).count() == 13L)
    W.appendManifested(spark, c2, spark.range(500, 510).toDF("id"))
    assert(W.readManifested(spark, src).count() == 3L)
    assert(W.readManifested(spark, c2).count() == 23L)
    // refusal: a committed destination never merges histories
    val ex = intercept[IllegalArgumentException] {
      W.cloneManifested(spark, src, c2)
    }
    assert(ex.getMessage.contains("already holds"), ex.getMessage)
    // crash convergence: a half-copied headless destination re-clones
    val c3 = s"$base/c3"
    val gen = new java.io.File(src).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith(".gen-")).head
    org.apache.commons.io.FileUtils.copyDirectory(gen,
      new java.io.File(s"$c3/${gen.getName}"))
    W.cloneManifested(spark, src, c3)
    assert(W.readManifested(spark, c3).collect().map(_.getLong(0)).toSet ==
      W.readManifested(spark, src).collect().map(_.getLong(0)).toSet)
    // a re-run AFTER the version-1 CAS (the clone committed, its
    // caller crashed before seeing the result) must recognize its own
    // body and return 1 (r18 ADVICE: it used to refuse, breaking the
    // documented re-run-to-converge recovery)
    val c4 = s"$base/c4"
    W.cloneManifested(spark, src, c4)
    val want4 = W.readManifested(spark, c4).collect().map(_.getLong(0)).toSet
    assert(W.cloneManifested(spark, src, c4) == 1L,
      "a post-CAS crashed clone must converge on re-run")
    assert(W.snapshots(c4) == Seq(1L))
    assert(W.readManifested(spark, c4).collect().map(_.getLong(0)).toSet == want4)
    org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
  }

  test("partitioned deep clone: root-version-pinned content, one v1 map anchor, source independence, crash convergence, refusals") {
    val W = graft.operators.Warehouse
    val base = Files.createTempDirectory("graft_pclone")
    val src = s"$base/src"
    val docs = spark.range(0, 40).toDF("id")
      .withColumn("p", (col("id") % 2).cast("string"))
      .withColumn("v", lit("base"))
    docs.write.partitionBy("p").mode("overwrite").parquet(src)
    W.compactManifestedPartitioned(spark, src, targetFileBytes = 1L << 30)
    val r1 = W.rootSnapshots(src).last
    W.upsertManifestedPartitioned(spark, src,
      docs.filter(col("id") < 4).withColumn("v", lit("upd")), "id")
    // root-version-pinned clone = the time-travel content, not the head
    val c1 = s"$base/c1"
    assert(W.cloneManifestedPartitioned(spark, src, c1, Some(r1)) == 1L)
    assert(W.readManifestedPartitioned(spark, c1).count() == 40L)
    assert(W.readManifestedPartitioned(spark, c1)
      .filter(col("v") === "upd").count() == 0L, "r1 clone must predate the merge")
    assert(W.rootSnapshots(c1) == Seq(1L), "a clone starts a fresh root history")
    // head clone carries the merge
    val c2 = s"$base/c2"
    val r2 = W.rootSnapshots(src).last
    W.cloneManifestedPartitioned(spark, src, c2)
    assert(W.readManifestedPartitioned(spark, c2)
      .filter(col("v") === "upd").count() == 4L)
    // storage independence: mutate the source, clones unchanged
    W.deleteManifestedPartitioned(spark, src,
      spark.range(0, 10).toDF("id"))
    assert(W.readManifestedPartitioned(spark, src).count() == 30L)
    assert(W.readManifestedPartitioned(spark, c2).count() == 40L)
    // crash convergence: a crash before the root map commit leaves
    // cloned leaves with no map — the re-run WITH THE SAME PINNED
    // VERSION converges (per-leaf idempotence recognizes each leaf's
    // own committed body + identical-body map commit); re-running
    // against the mutated head would be a DIFFERENT clone and the
    // leaves refuse it rather than merge histories
    assert(new java.io.File(c2, "_root-manifest-1").delete())
    assert(W.cloneManifestedPartitioned(spark, src, c2, Some(r2)) == 1L)
    assert(W.rootSnapshots(c2) == Seq(1L))
    assert(W.readManifestedPartitioned(spark, c2).count() == 40L)
    intercept[IllegalArgumentException] {
      W.cloneManifestedPartitioned(spark, src, c2, Some(r2)) // mapped dst
    }
    // refusal: a mapped destination never merges histories
    intercept[IllegalArgumentException] {
      W.cloneManifestedPartitioned(spark, src, c1)
    }
    org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
  }

  test("quantile z-order: on a zipfian dimension the sampled-cuts layout keeps pruning where linear min/max bucketing collapses") {
    val W = graft.operators.Warehouse
    // x uniform 8-bit; y ZIPFIAN-shaped: 98.4% of rows cluster in
    // [1, 63] while 1/64 are outliers near 1e6 — the linear min/max
    // scale maps the whole cluster into bucket ~0, so the Morton key
    // varies only with x and a y-band inside the cluster cannot prune.
    // The quantile layout spreads the cluster by MASS: each cluster
    // value owns ~64 of 4096 cut steps, files go narrow in y where
    // the rows actually are, and the same band prunes like the
    // uniform control.
    // outliers at 1e9: the linear 16-bit scale then maps the WHOLE
    // cluster to bucket 0 (63/1e9 · 65536 ≈ 0.004) — the genuine
    // collapse. The cluster value comes from id's HIGH bits while x
    // is the low byte, so the two dimensions are independent — a
    // y-correlated-with-x fixture would let the x tiling prune y for
    // free and mask the collapse.
    def skewed(id: org.apache.spark.sql.Column) = {
      val hi = (id / 256).cast("long") % 64
      when(hi === 0, lit(1000000000L) + id).otherwise(hi)
    }
    def build(dir: String, yCol: org.apache.spark.sql.Column,
              quantiles: Boolean): Unit = {
      W.appendManifested(spark, dir,
        spark.range(0, 65536).select(col("id"),
          (col("id") % 256).as("x"), yCol.as("y")))
      W.compactManifested(spark, dir, targetFileBytes = 1L << 10,
        zorderBy = Seq("x", "y"), zorderQuantiles = quantiles)
    }
    val base = Files.createTempDirectory("graft_zq")
    val (udir, ldir, qdir) =
      (s"$base/u", s"$base/l", s"$base/q")
    build(udir, (col("id") * 37) % 4096, quantiles = false) // uniform control
    build(ldir, skewed(col("id")), quantiles = false)       // skew + linear
    build(qdir, skewed(col("id")), quantiles = true)        // skew + cuts
    def frac(dir: String, lo: Long, hi: Long): Double = {
      val total = W.readManifested(spark, dir).inputFiles.length
      assert(total >= 32, s"want many files in $dir: $total")
      W.readManifestedRange(spark, dir, "y", lo, hi)
        .inputFiles.length.toDouble / total
    }
    // ~1/8-of-mass bands: [0,511] of 4096 uniform; [0,7] of the 1..63
    // cluster (7/64 of rows) on the skewed tables
    val uFrac = frac(udir, 0L, 511L)
    val lFrac = frac(ldir, 0L, 7L)
    val qFrac = frac(qdir, 0L, 7L)
    // correctness first: the pruned reads return exactly the band
    val bandSum = (0L until 65536L)
      .filter(i => (i / 256) % 64 >= 1 && (i / 256) % 64 <= 7).sum
    assert(W.readManifestedRange(spark, qdir, "y", 0L, 7L)
      .agg(sum(col("id"))).head.getLong(0) == bandSum)
    assert(W.readManifestedRange(spark, ldir, "y", 0L, 7L)
      .agg(sum(col("id"))).head.getLong(0) == bandSum)
    // the layout claim: quantile pruning within ~2x of the uniform
    // case; the linear control FAILS that bound on the same data
    assert(qFrac <= 2.0 * uFrac,
      f"quantile layout opened $qFrac%.2f of files vs uniform $uFrac%.2f")
    assert(lFrac > 2.0 * uFrac,
      f"linear control unexpectedly pruned: $lFrac%.2f vs uniform $uFrac%.2f")
    org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
  }

  test("partition adoption preserves pre-existing data: loose parquet and a crashed adoption's .gen-0 become generation 0, never reset") {
    val W = graft.operators.Warehouse
    val root = Files.createTempDirectory("graft_adoptdata").resolve("t").toString
    spark.range(0, 40).toDF("id")
      .withColumn("p", (col("id") % 2).cast("string"))
      .withColumn("v", lit("base"))
      .write.partitionBy("p").mode("overwrite").parquet(root)
    W.compactManifestedPartitioned(spark, root, targetFileBytes = 1L << 30)
    def src(ids: Range, p: String, tag: String) =
      spark.range(ids.start, ids.end).toDF("id")
        .withColumn("p", lit(p)).withColumn("v", lit(tag))

    // (1) LOOSE parquet under a headless leaf — a partitioned write
    // that landed after the root was manifested, awaiting the
    // adoption-on-first-contact contract. The MERGE must adopt those
    // rows as generation 0, then apply its slice — never bootstrap an
    // empty v1 over them (the r17 behavior: loose files orphaned out
    // of every read).
    spark.range(500, 510).toDF("id").withColumn("v", lit("loose"))
      .coalesce(1).write.parquet(s"$root/p=2")
    W.upsertManifestedPartitioned(spark, root,
      src(500 until 503, "2", "upd"), "id")
    val p2 = W.readManifestedPartitioned(spark, root).filter(col("p") === "2")
    assert(p2.count() == 10L,
      s"loose pre-adoption rows were lost: ${p2.count()} of 10")
    assert(p2.filter(col("v") === "upd").count() == 3L)
    assert(p2.filter(col("v") === "loose").count() == 7L)

    // (2) a crashed prior adoption: files already MOVED into .gen-0,
    // no commit (the compactManifested adoption's crash window). The
    // r17 bootstrap recursively DELETED this directory — permanent
    // data loss; the merge must commit its contents as generation 0.
    spark.range(600, 606).toDF("id").withColumn("v", lit("crashed"))
      .coalesce(1).write.parquet(s"$root/p=3/.gen-0")
    W.upsertManifestedPartitioned(spark, root,
      src(606 until 608, "3", "add"), "id")
    val p3 = W.readManifestedPartitioned(spark, root).filter(col("p") === "3")
    assert(p3.count() == 8L,
      s"crashed-adoption .gen-0 rows were lost: ${p3.count()} of 8")
    assert(p3.filter(col("v") === "crashed").count() == 6L)
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(root).getParentFile)
  }

  test("nested partition adoption: a 2-level MERGE introducing new (k1,k2) combos — incl. escaped values — lands in ONE root version") {
    val W = graft.operators.Warehouse
    val root = Files.createTempDirectory("graft_adopt2").resolve("t").toString
    spark.range(0, 40).toDF("id")
      .withColumn("k1", when(col("id") % 2 === 0, lit("a")).otherwise(lit("b")))
      .withColumn("k2", lit("x"))
      .withColumn("v", lit("base"))
      .write.partitionBy("k1", "k2").mode("overwrite").parquet(root)
    W.compactManifestedPartitioned(spark, root, targetFileBytes = 1L << 30)
    val preV = W.rootSnapshots(root).last
    def src(ids: Range, k1: String, k2: String, tag: String) =
      spark.range(ids.start, ids.end).toDF("id")
        .withColumn("k1", lit(k1)).withColumn("k2", lit(k2))
        .withColumn("v", lit(tag))
    // one merge: an update into an existing combo, a new k2 under an
    // existing k1 (mid-tree creation), and a both-levels-new combo
    // whose values need path escaping (space, colon, percent)
    val m = W.upsertManifestedPartitioned(spark, root,
      src(0 until 2, "a", "x", "upd").withColumn("id", col("id") * 2)
        .unionByName(src(100 until 110, "a", "c:d", "new"))
        .unionByName(src(200 until 205, "n w", "q%r", "new2")),
      "id")
    assert(m.keySet == Set("k1=a/k2=x", "k1=b/k2=x",
      "k1=a/k2=c%3Ad", "k1=n w/k2=q%25r"), m.toString)
    assert(W.rootSnapshots(root).last == preV + 1,
      s"nested adoption+data must spend ONE root version: ${W.rootSnapshots(root)}")
    val cur = W.readManifestedPartitioned(spark, root)
    assert(cur.count() == 55L)
    assert(cur.filter(col("k1") === "a" && col("k2") === "c:d").count() == 10L,
      "escaped mid-tree combo failed to route")
    assert(cur.filter(col("k1") === "n w" && col("k2") === "q%r").count() == 5L,
      "both-levels-new escaped combo failed to route")
    assert(cur.filter(col("v") === "upd").count() == 2L)
    // time travel: a reader at preV never sees the adopted combos
    val pre = W.readManifestedPartitionedAt(spark, root, preV)
    assert(pre.count() == 40L)
    assert(pre.filter(col("k2") =!= "x").count() == 0L)
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(root).getParentFile)
  }

  test("a NULL or empty partition value in the merge source routes to the Hive default-partition leaf, matching the staged tree") {
    val W = graft.operators.Warehouse
    val root = Files.createTempDirectory("graft_nullpart").resolve("t").toString
    spark.range(0, 40).toDF("id")
      .withColumn("p", (col("id") % 2).cast("string"))
      .withColumn("v", lit("base"))
      .write.partitionBy("p").mode("overwrite").parquet(root)
    W.compactManifestedPartitioned(spark, root, targetFileBytes = 1L << 30)
    val preV = W.rootSnapshots(root).last
    // nulls (even ids) and empty strings (odd ids) both file under the
    // sentinel — ONE adopted leaf, one root version, no NPE in the
    // adoption probe (the r17 behavior: escapePathName(null) threw an
    // opaque NPE inside the probe's pool thread)
    val srcDf = spark.range(100, 105).toDF("id")
      .withColumn("p", when(col("id") % 2 === 0, lit(null).cast("string"))
        .otherwise(lit("")))
      .withColumn("v", lit("n"))
    W.upsertManifestedPartitioned(spark, root, srcDf, "id")
    assert(W.rootSnapshots(root).last == preV + 1)
    val sentinel = org.apache.spark.sql.catalyst.catalog
      .ExternalCatalogUtils.DEFAULT_PARTITION_NAME
    assert(new java.io.File(s"$root/p=$sentinel").isDirectory,
      "null rows must land under the Hive default-partition leaf")
    val back = W.readManifestedPartitioned(spark, root)
    assert(back.filter(col("p") === sentinel).count() == 5L,
      "probe and staged tree disagreed on the null-partition leaf")
    assert(back.count() == 45L)
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(root).getParentFile)
  }

  test("retention GC graces a never-committed generation: young in-flight dirs survive, aged orphans and expired snapshots are collected") {
    val W = graft.operators.Warehouse
    val root = Files.createTempDirectory("graft_gcgrace").resolve("t").toString
    spark.range(0, 40).toDF("id")
      .withColumn("p", (col("id") % 2).cast("string"))
      .write.partitionBy("p").mode("overwrite").parquet(root)
    W.compactManifestedPartitioned(spark, root, targetFileBytes = 1L << 30)
    // plant a cross-process appender's in-flight (never-committed)
    // generation on the steady leaf, mid-write: data present, commit
    // not yet landed
    val inflight = new java.io.File(s"$root/p=0/.gen-7")
    spark.range(900, 905).toDF("id")
      .coalesce(1).write.parquet(inflight.toString)
    // retain-0 steady walk: the expired pre-fold snapshot goes (count
    // window), but the YOUNG unreferenced dir survives the grace —
    // r17 deleted it mid-write
    W.compactManifestedPartitioned(spark, root, targetFileBytes = 1L << 30,
      retainSnapshots = 0)
    assert(W.snapshots(s"$root/p=0").size == 1,
      W.snapshots(s"$root/p=0").toString)
    assert(inflight.isDirectory,
      "steady-path retention GC deleted a live writer's in-flight generation")
    // once AGED past the vacuum grace it is a true orphan (the writer
    // died): the next retention pass collects it. Backdate, then give
    // the walk an expired manifest so the GC body runs (append+fold).
    def backdate(f: java.io.File): Unit = {
      f.setLastModified(System.currentTimeMillis() - 2L * 60 * 60 * 1000)
      ()
    }
    backdate(inflight)
    inflight.listFiles().foreach(backdate)
    W.appendManifested(spark, s"$root/p=0",
      spark.range(910, 915).toDF("id"))
    W.compactManifestedPartitioned(spark, root, targetFileBytes = 1L << 30,
      retainSnapshots = 0)
    assert(!inflight.exists(),
      "an aged never-committed orphan must be collected once past the grace")
    assert(W.readManifestedPartitioned(spark, root).count() == 45L)
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(root).getParentFile)
  }

  test("CHECK constraints: add validates the table, commits gate batches, lifecycle carries the lines") {
    val W = graft.operators.Warehouse
    val sp = spark; import sp.implicits._
    val base = Files.createTempDirectory("graft_check")
    val dir = base.resolve("t").toString
    def df(rows: (Long, String, java.lang.Double)*) =
      rows.toSeq.toDF("id", "lang", "score")
    def ids(d: String) = W.readManifested(spark, d)
      .select("id").as[Long].collect().toSet

    W.appendManifested(spark, dir, df((1L, "en", 0.5), (2L, "de", 0.9)))
    // add: commits a metadata-only version, listable
    val v1 = W.snapshots(dir).last
    W.addCheckConstraint(spark, dir, "score_pos", "score >= 0")
    assert(W.snapshots(dir).last == v1 + 1, "add must spend one version")
    assert(W.checkConstraints(spark, dir) ==
      Map("score_pos" -> "score >= 0"))
    // duplicate name refuses; a predicate the CURRENT table violates
    // refuses and leaves no trace
    intercept[IllegalArgumentException] {
      W.addCheckConstraint(spark, dir, "score_pos", "score >= 0.1")
    }
    val vBefore = W.snapshots(dir).last
    val e0 = intercept[IllegalArgumentException] {
      W.addCheckConstraint(spark, dir, "high", "score > 0.8")
    }
    assert(e0.getMessage.contains("violate"))
    assert(W.snapshots(dir).last == vBefore &&
      W.checkConstraints(spark, dir).keySet == Set("score_pos"),
      "a refused add must leave no constraint and spend no version")

    // violating APPEND refuses before anything commits
    val v2 = W.snapshots(dir).last
    val e1 = intercept[IllegalArgumentException] {
      W.appendManifested(spark, dir, df((3L, "fr", -1.0)))
    }
    assert(e1.getMessage.contains("score_pos"))
    assert(W.snapshots(dir).last == v2 && ids(dir) == Set(1L, 2L))
    // violating UPSERT refuses identically
    val e2 = intercept[IllegalArgumentException] {
      W.upsertManifested(spark, dir, df((1L, "en", -0.2)), "id")
    }
    assert(e2.getMessage.contains("score_pos"))
    assert(W.snapshots(dir).last == v2)
    // valid commits pass; SQL CHECK semantics: NULL passes
    W.appendManifested(spark, dir, df((3L, "fr", 1.5), (4L, "pt", null)))
    assert(ids(dir) == Set(1L, 2L, 3L, 4L))

    // the fold carries the lines: post-compaction commits still gate
    // (wide retention: the restore below travels back to v1)
    W.compactManifested(spark, dir, targetFileBytes = 1L << 30,
      retainSnapshots = 10)
    assert(W.checkConstraints(spark, dir).keySet == Set("score_pos"))
    intercept[IllegalArgumentException] {
      W.appendManifested(spark, dir, df((5L, "it", -3.0)))
    }
    // clone carries them too (Delta CLONE convention)
    val clone = base.resolve("clone").toString
    W.cloneManifested(spark, dir, clone)
    assert(W.checkConstraints(spark, clone).keySet == Set("score_pos"))
    intercept[IllegalArgumentException] {
      W.appendManifested(spark, clone, df((6L, "es", -1.0)))
    }

    // RESTORE rolls constraint state back with the data: the
    // pre-constraint snapshot is unconstrained again
    W.restoreManifested(spark, dir, v1)
    assert(W.checkConstraints(spark, dir).isEmpty,
      "restore to a pre-constraint snapshot must drop the constraint")
    W.appendManifested(spark, dir, df((7L, "nl", -9.0))) // now legal
    assert(ids(dir).contains(7L))

    // DROP removes the gate; unknown name refuses
    W.addCheckConstraint(spark, dir, "lang_set", "lang IS NOT NULL")
    intercept[IllegalArgumentException] {
      W.dropCheckConstraint(spark, dir, "nope")
    }
    W.dropCheckConstraint(spark, dir, "lang_set")
    assert(W.checkConstraints(spark, dir).isEmpty)
    W.appendManifested(spark, dir, df((8L, null, 0.1)))
    assert(ids(dir).contains(8L))

    // PARTITIONED root: the merge validates its source once against
    // the leaves' shared constraint set before any staging write
    val proot = base.resolve("p").toString
    df((10L, "en", 0.1), (11L, "de", 0.2))
      .write.partitionBy("lang").parquet(proot)
    W.compactManifestedPartitioned(spark, proot, targetFileBytes = 1L << 30)
    graft.operators.ManifestIo
      .list(org.apache.hadoop.fs.FileSystem.getLocal(
        spark.sparkContext.hadoopConfiguration),
        new org.apache.hadoop.fs.Path(proot))
      .filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.startsWith("lang="))
      .foreach(l => W.addCheckConstraint(spark, s"$proot/$l",
        "id_pos", "id > 0"))
    val pe = intercept[IllegalArgumentException] {
      W.upsertManifestedPartitioned(spark, proot,
        df((-5L, "en", 0.3)), "id")
    }
    assert(pe.getMessage.contains("id_pos"))
    assert(W.readManifestedPartitioned(spark, proot).count() == 2L)
    W.upsertManifestedPartitioned(spark, proot, df((12L, "en", 0.3)), "id")
    assert(W.readManifestedPartitioned(spark, proot).count() == 3L)
    org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
  }

  test("partitioned CHECK constraints: one root version, no-trace refusal, union gate under drift, adoption inherits") {
    val W = graft.operators.Warehouse
    val sp = spark; import sp.implicits._
    val base = Files.createTempDirectory("graft_pcheck")
    val root = base.resolve("p").toString
    def df(rows: (Long, String, java.lang.Double)*) =
      rows.toSeq.toDF("id", "lang", "score")
    df((1L, "en", 0.5), (2L, "de", 0.9))
      .write.partitionBy("lang").parquet(root)
    W.compactManifestedPartitioned(spark, root, targetFileBytes = 1L << 30)
    val rv0 = W.rootSnapshots(root).last

    // ADD is table-level: ONE root version; every leaf carries the line
    val rv1 = W.addCheckConstraintPartitioned(spark, root,
      "score_pos", "score >= 0")
    assert(rv1 == rv0 + 1 && W.rootSnapshots(root).last == rv1,
      "add must publish exactly one root version")
    Seq("en", "de").foreach { l =>
      assert(W.checkConstraints(spark, s"$root/lang=$l") ==
        Map("score_pos" -> "score >= 0"), s"leaf $l missing the line")
    }
    // a refused add (existing data violates) leaves NO trace anywhere
    val e0 = intercept[IllegalArgumentException] {
      W.addCheckConstraintPartitioned(spark, root, "high", "score > 0.8")
    }
    assert(e0.getMessage.contains("violate"))
    assert(W.rootSnapshots(root).last == rv1)
    Seq("en", "de").foreach(l => assert(
      W.checkConstraints(spark, s"$root/lang=$l").keySet == Set("score_pos")))
    // same name, different predicate refuses (convergent replays allowed)
    intercept[IllegalArgumentException] {
      W.addCheckConstraintPartitioned(spark, root, "score_pos", "score >= 0.1")
    }

    // violating MERGE refuses before any claim, no trace
    val pe = intercept[IllegalArgumentException] {
      W.upsertManifestedPartitioned(spark, root, df((3L, "en", -1.0)), "id")
    }
    assert(pe.getMessage.contains("score_pos"))
    assert(W.readManifestedPartitioned(spark, root).count() == 2L)

    // DRIFT: strip the line from one leaf by hand — the merge gate is
    // the UNION of the leaves' sets, so it must still refuse (r20
    // ADVICE: first-leaf-only made the gate listing-order dependent)
    W.dropCheckConstraint(spark, s"$root/lang=en", "score_pos")
    val de = intercept[IllegalArgumentException] {
      W.upsertManifestedPartitioned(spark, root, df((3L, "en", -1.0)), "id")
    }
    assert(de.getMessage.contains("score_pos"),
      "a leaf that missed the add must not open the gate for the root")

    // ADOPTION INHERITS: a merge introducing lang=fr bootstraps the
    // new leaf already carrying the live set, and its own leaf-level
    // gate enforces it
    W.upsertManifestedPartitioned(spark, root, df((4L, "fr", 0.7)), "id")
    assert(W.checkConstraints(spark, s"$root/lang=fr").keySet ==
      Set("score_pos"), "adopted partition must inherit the constraint")
    intercept[IllegalArgumentException] {
      W.appendManifested(spark, s"$root/lang=fr",
        Seq((5L, -2.0)).toDF("id", "score"))
    }

    // additive evolution under CHECK (r20 ADVICE): a batch OMITTING
    // the constrained column passes — the scan null-fills, NULL passes
    W.upsertManifestedPartitioned(spark, root,
      Seq((6L, "de")).toDF("id", "lang"), "id")
    assert(W.readManifestedPartitioned(spark, root)
      .filter(col("id") === 6L).count() == 1L)

    // DROP is table-level too: one root version, every leaf cleared
    // (including the adopted one); unknown name refuses
    val rvD = W.dropCheckConstraintPartitioned(spark, root, "score_pos")
    assert(W.rootSnapshots(root).last == rvD)
    Seq("de", "fr").foreach(l =>
      assert(W.checkConstraints(spark, s"$root/lang=$l").isEmpty))
    intercept[IllegalArgumentException] {
      W.dropCheckConstraintPartitioned(spark, root, "nope")
    }
    W.upsertManifestedPartitioned(spark, root, df((3L, "en", -1.0)), "id")
    assert(W.readManifestedPartitioned(spark, root).count() == 5L)

    // leaf-level twin of the ADVICE fix: omitted constrained column
    // passes; a predicate over a column in NEITHER batch nor table
    // still refuses loudly
    val ldir = base.resolve("leaf").toString
    W.appendManifested(spark, ldir, df((1L, "en", 1.0)))
    W.addCheckConstraint(spark, ldir, "score_pos", "score >= 0")
    W.appendManifested(spark, ldir, Seq((2L, "de")).toDF("id", "lang"))
    assert(W.readManifested(spark, ldir).count() == 2L)
    intercept[Exception] {
      W.addCheckConstraint(spark, ldir, "bogus", "no_such_col > 0")
    }
    org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
  }

  test("null-count skipping: IS NULL / IS NOT NULL open only candidate files; legacy manifests read everything, same answer") {
    val W = graft.operators.Warehouse
    val sp = spark; import sp.implicits._
    val base = Files.createTempDirectory("graft_nulls")
    val dir = base.resolve("t").toString
    // gen 0: nulls on odd ids (4 files, every file has some nulls);
    // gen 1: no nulls at all (4 files); gen 2: ALL null (2 files)
    W.appendManifested(spark, dir, spark.range(0, 400)
      .select(col("id"), when(col("id") % 2 === 0, col("id") * 10).as("v"))
      .repartition(4))
    W.appendManifested(spark, dir, spark.range(400, 800)
      .select(col("id"), (col("id") * 10).as("v")).repartition(4))
    W.appendManifested(spark, dir, spark.range(800, 900)
      .select(col("id"), lit(null).cast("bigint").as("v")).repartition(2))
    val full = W.readManifested(spark, dir)

    val isNull = W.readManifestedNull(spark, dir, "v", wantNull = true)
    assert(isNull.count() == 200L + 100L)
    assert(isNull.select("id").as[Long].collect().toSet ==
      full.filter(col("v").isNull).select("id").as[Long].collect().toSet)
    // gen 1's four files skip (one survives as a limit(0) schema
    // branch); gen 0 and the all-null gen 2 read in full
    val nIsNull = isNull.inputFiles.length
    assert(nIsNull <= 7 && nIsNull < full.inputFiles.length,
      s"IS NULL opened $nIsNull of ${full.inputFiles.length} files")

    val notNull = W.readManifestedNull(spark, dir, "v", wantNull = false)
    assert(notNull.count() == 200L + 400L)
    val nNotNull = notNull.inputFiles.length
    assert(nNotNull <= 9 && nNotNull < full.inputFiles.length,
      s"IS NOT NULL opened $nNotNull of ${full.inputFiles.length} files")

    // legacy manifest (pre-r20 writer: no #nulls lines): conservative
    // — every file opens, the answer is unchanged
    val cur = java.nio.file.Paths.get(dir, s"_manifest-${W.snapshots(dir).last}")
    val legacy = Files.readAllLines(cur).asScala
      .filterNot(_.startsWith("#nulls:")).asJava
    Files.write(cur, legacy)
    val isNull2 = W.readManifestedNull(spark, dir, "v", wantNull = true)
    assert(isNull2.count() == 300L)
    assert(isNull2.inputFiles.length == full.inputFiles.length,
      "a stats-less manifest must keep every file")
    org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
  }

  test("shallow clone: zero data copied, version-pinned, locally writable, compaction materializes, source GC breaks it loudly") {
    val W = graft.operators.Warehouse
    val sp = spark; import sp.implicits._
    val base = Files.createTempDirectory("graft_shclone")
    val src = base.resolve("src").toString
    val cl = base.resolve("clone").toString
    def df(rows: (Long, String)*) = rows.toSeq.toDF("id", "s")
    def parquets(d: String): Int = {
      val out = scala.collection.mutable.ArrayBuffer[java.io.File]()
      def walk(f: java.io.File): Unit =
        if (f.isDirectory) f.listFiles().foreach(walk)
        else if (f.getName.endsWith(".parquet")) out += f
      val top = new java.io.File(d)
      if (top.exists()) walk(top)
      out.size
    }
    W.appendManifested(spark, src, spark.range(0, 100)
      .select(col("id"), concat(lit("x"), col("id")).as("s")))
    W.deleteManifested(spark, src,
      spark.range(0, 100).filter(col("id") % 7 === 0).select(col("id")))
    W.addCheckConstraint(spark, src, "id_pos", "id >= 0")

    W.cloneManifestedShallow(spark, src, cl)
    assert(parquets(cl) == 0, "shallow clone must copy zero data files")
    assert(W.readManifested(spark, cl).count() == 85L) // 15 ids are %7
    // the referenced tombstone applies through the clone; the
    // constraint line carries (Delta CLONE convention)
    intercept[IllegalArgumentException] {
      W.appendManifested(spark, cl, df((-5L, "bad")))
    }

    // VERSION PIN: post-clone source mutations are invisible
    W.upsertManifested(spark, src, df((1L, "CHANGED")), "id")
    W.appendManifested(spark, src, df((1000L, "late")))
    assert(W.readManifested(spark, cl).count() == 85L)
    assert(W.readManifested(spark, cl)
      .filter(col("s") === "CHANGED").count() == 0L)

    // clone-local writes land beside the references; source untouched
    W.appendManifested(spark, cl, df((500L, "local")))
    W.upsertManifested(spark, cl, df((2L, "clone-own")), "id")
    assert(W.readManifested(spark, cl).count() == 86L)
    assert(W.readManifested(spark, cl).filter(col("id") === 2L)
      .select("s").as[String].head() == "clone-own")
    assert(W.readManifested(spark, src).filter(col("id") === 500L).count() == 0L)
    assert(W.readManifested(spark, src).filter(col("id") === 2L)
      .select("s").as[String].head() == "x2")
    assert(parquets(cl) > 0) // the LOCAL generations only
    // a shallow clone of the (mutated) shallow clone re-records the
    // RESOLVED directories — references never chain
    val cl2 = base.resolve("clone2").toString
    W.cloneManifestedShallow(spark, cl, cl2)
    assert(parquets(cl2) == 0)
    assert(W.readManifested(spark, cl2).count() == 86L)

    // deep clone OF a shallow clone owns its data and drops the refs
    val deep = base.resolve("deep").toString
    W.cloneManifested(spark, cl, deep)
    assert(parquets(deep) > 0)
    assert(!headBody(deep).contains("#ref:"))
    assert(W.readManifested(spark, deep).count() == 86L)

    // OPTIMIZE materializes: the fold reads through the refs, writes
    // locally, retires the reference lines
    W.compactManifested(spark, cl, targetFileBytes = 1L << 30,
      retainSnapshots = 0)
    assert(!headBody(cl).contains("#ref:"))
    assert(W.readManifested(spark, cl).count() == 86L)

    // the Delta stance, pinned: source compaction + GC retires the
    // referenced generations — the un-materialized clone2 fails
    // LOUDLY, never partial rows; the materialized clone is immune
    W.compactManifested(spark, src, targetFileBytes = 1L << 30,
      retainSnapshots = 0)
    intercept[Exception] { W.readManifested(spark, cl2).count() }
    assert(W.readManifested(spark, cl).count() == 86L)
    org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
  }

  test("shallow clone: DELETE and RESTORE work while unmaterialized (ref-resolved probes)") {
    val W = graft.operators.Warehouse
    val sp = spark; import sp.implicits._
    val base = Files.createTempDirectory("graft_shclone_dr")
    val src = base.resolve("src").toString
    val cl = base.resolve("clone").toString
    W.appendManifested(spark, src, spark.range(0, 50)
      .select(col("id"), concat(lit("x"), col("id")).as("s")))
    W.cloneManifestedShallow(spark, src, cl) // clone v1, zero local files
    // DELETE on the unmaterialized clone: the key-column footer probe
    // must resolve the #ref: entry to the SOURCE directory (r20 ADVICE
    // — upsertManifested got this fix earlier; this pins the twin)
    W.deleteManifested(spark, cl, Seq(3L, 4L).toDF("id"))
    assert(W.readManifested(spark, cl).count() == 48L)
    assert(W.readManifested(spark, src).count() == 50L) // source untouched
    // clone-local append, then RESTORE back to the pinned version 1:
    // the retained-generation probe must also resolve refs (r20 ADVICE)
    W.appendManifested(spark, cl, Seq((1000L, "late")).toDF("id", "s"))
    assert(W.readManifested(spark, cl).count() == 49L)
    W.restoreManifested(spark, cl, 1L)
    assert(W.readManifested(spark, cl).count() == 50L)
    org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
  }

  test("partitioned shallow clone: DELETE and MERGE work while unmaterialized (ref-resolved key probe)") {
    val W = graft.operators.Warehouse
    val sp = spark; import sp.implicits._
    val base = Files.createTempDirectory("graft_pshclone_dm")
    val src = base.resolve("src").toString
    val cl = base.resolve("clone").toString
    def state(d: String) = W.readManifestedPartitioned(spark, d)
      .select(col("id"), col("lang"), col("n")).as[(Long, String, Long)]
      .collect().toSet
    Seq((1L, "en", 10L), (2L, "de", 20L), (3L, "de", 30L))
      .toDF("id", "lang", "n").write.partitionBy("lang").parquet(src)
    W.compactManifestedPartitioned(spark, src, targetFileBytes = 1L << 30)
    val srcBefore = state(src)
    W.cloneManifestedShallowPartitioned(spark, src, cl) // zero local files
    // the root-level key probe reads one leaf's data generation: on an
    // unmaterialized clone that generation lives in the SOURCE leaf,
    // so the probe must resolve the #ref: entry
    W.deleteManifestedPartitioned(spark, cl, Seq(3L).toDF("id"))
    W.upsertManifestedPartitioned(spark, cl,
      Seq((1L, "en", -1L), (4L, "de", 40L)).toDF("id", "lang", "n"), "id")
    assert(state(cl) == Set((1L, "en", -1L), (2L, "de", 20L), (4L, "de", 40L)))
    assert(state(src) == srcBefore, "the source must stay untouched")
    org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
  }

  test("append keeps a cross-process commit that lands while its batch is CHECK-validated") {
    val W = graft.operators.Warehouse
    val sp = spark; import sp.implicits._
    val base = Files.createTempDirectory("graft_earlycap")
    val dir = base.resolve("t").toString
    W.appendManifested(spark, dir, Seq((1L, 1L)).toDF("id", "v"))
    W.addCheckConstraint(spark, dir, "v_pos", "v >= 0")
    Seq((2L, 2L)).toDF("id", "v").write.parquet(s"$dir/.gen-90")
    // evaluating the batch's `v` — which the CHECK validation does —
    // makes another writer commit `.gen-90`, outside this JVM's table
    // lock (a cross-process writer, as far as the lock can tell)
    SinkSpecForeignWriter.fired.set(false)
    val foreign = udf { (v: Long) =>
      if (SinkSpecForeignWriter.fired.compareAndSet(false, true)) {
        val (fs, root) = graft.operators.ManifestIo.resolve(dir,
          new org.apache.hadoop.conf.Configuration())
        val head = graft.operators.Warehouse.trailHead(fs, root)
        val lines = head.body.get.split("\n").toSeq
        graft.operators.Warehouse.commitManifest(fs, root,
          lines.filterNot(_.startsWith("#")) :+ ".gen-90", head.anchor,
          stats = lines.filter(_.startsWith("#")))
      }
      v
    }
    W.appendManifested(spark, dir,
      Seq((3L, 3L)).toDF("id", "v0").select(col("id"), foreign(col("v0")).as("v")))
    assert(SinkSpecForeignWriter.fired.get())
    // the append anchored its CAS before validating: it lost the race,
    // re-read the head and committed past the foreign generation
    assert(W.readManifested(spark, dir).select("id").as[Long].collect().toSet ==
      Set(1L, 2L, 3L), "the concurrent writer's generation was dropped")
    org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
  }

  test("partitioned MERGE refuses a txn appId with ':' or newline before any claim or write") {
    val W = graft.operators.Warehouse
    val sp = spark; import sp.implicits._
    val base = Files.createTempDirectory("graft_ptxnid")
    val dir = base.resolve("root").toString
    Seq((1L, "en", 10L), (2L, "de", 20L)).toDF("id", "lang", "n")
      .write.partitionBy("lang").parquet(dir)
    W.compactManifestedPartitioned(spark, dir, targetFileBytes = 1L << 30)
    val rootsBefore = W.rootSnapshots(dir)
    // a newline would smuggle a generation line into every touched
    // leaf's manifest and a ':' would split the marker — both refuse
    Seq("a\n.gen-77", "a:b").foreach { app =>
      intercept[IllegalArgumentException] {
        W.upsertManifestedPartitioned(spark, dir,
          Seq((1L, "en", 11L)).toDF("id", "lang", "n"), "id", Some(app -> 1L))
      }
    }
    val debris = new java.io.File(dir).listFiles().map(_.getName)
      .filter(n => n.startsWith("_root-claim-") || n.startsWith(".upsert-stage-"))
    assert(debris.isEmpty, s"refusal left ${debris.mkString(", ")}")
    assert(W.rootSnapshots(dir) == rootsBefore)
    assert(W.readManifestedPartitioned(spark, dir).count() == 2L)
    assert(W.readManifestedPartitioned(spark, dir)
      .filter(col("id") === 1L).head.getAs[Long]("n") == 10L)
    assert(W.rootHistory(spark, dir).count() == rootsBefore.size.toLong)
    org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
  }

  test("adopted-leaf constraint inheritance refuses when leaves disagree on one name") {
    val W = graft.operators.Warehouse
    val sp = spark; import sp.implicits._
    val base = Files.createTempDirectory("graft_consclash")
    val dir = base.resolve("root").toString
    Seq((1L, 5L, "a"), (2L, 6L, "b")).toDF("id", "v", "part")
      .write.partitionBy("part").mode("overwrite").parquet(dir)
    W.compactManifestedPartitioned(spark, dir, targetFileBytes = 1L << 30)
    // drift the two leaves: same constraint NAME, different predicates
    W.addCheckConstraint(spark, s"$dir/part=a", "vmax", "v <= 100")
    W.addCheckConstraint(spark, s"$dir/part=b", "vmax", "v <= 200")
    // an upsert that ADOPTS a new leaf would inherit both lines — the
    // Map parse would silently keep only one predicate (r20 ADVICE):
    // refuse loudly instead, naming the clashing constraint
    val e = intercept[IllegalArgumentException] {
      W.upsertManifestedPartitioned(spark, dir,
        Seq((3L, 7L, "c")).toDF("id", "v", "part"), "id")
    }
    assert(e.getMessage.contains("vmax"))
    org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
  }

  test("rootSnapshots resolves the session's Hadoop conf on a thread with no active session") {
    val W = graft.operators.Warehouse
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.hdfslike.impl", classOf[HdfsLikeFileSystem].getName)
    val base = Files.createTempDirectory("graft_rootsnap")
    spark.range(0, 10).toDF("id").withColumn("p", (col("id") % 2).cast("string"))
      .write.partitionBy("p").parquet(s"$base/t")
    W.compactManifestedPartitioned(spark, s"$base/t", targetFileBytes = 1L << 30)
    // a cached FileSystem instance answers without reading the conf it
    // is handed: drop it, so the scheme resolves from the call's conf
    org.apache.hadoop.fs.FileSystem.get(HdfsLikeFileSystem.Uri, conf).close()
    // a raw consumer thread: no active session, only the default one
    val seen = new java.util.concurrent.atomic.AtomicReference[Any]()
    val t = new Thread(() => {
      org.apache.spark.sql.SparkSession.clearActiveSession()
      seen.set(try W.rootSnapshots(s"hdfslike://$base/t")
        catch { case e: Throwable => e })
    })
    t.start(); t.join()
    assert(seen.get() == Seq(1L), String.valueOf(seen.get()))
    org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
  }

  test("history marks exactly one version current: a restore's target is history") {
    val W = graft.operators.Warehouse
    val base = Files.createTempDirectory("graft_histcur")
    val dir = s"$base/t"
    (0L until 3L).foreach(i =>
      W.appendManifested(spark, dir, spark.range(i * 5, i * 5 + 5).toDF("id")))
    assert(W.restoreManifested(spark, dir, 1L) == 4L) // v4 lists v1's entries
    val current = W.history(spark, dir).filter(col("is_current"))
      .collect().map(_.getAs[Long]("version")).toSeq
    assert(current == Seq(4L), s"current versions: $current")
    org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
  }

  test("partitioned change feed: an empty window has the non-empty window's columns in the same order") {
    val W = graft.operators.Warehouse
    val base = Files.createTempDirectory("graft_pcdfcols")
    val root = s"$base/t"
    spark.range(0, 10).toDF("id").withColumn("p", (col("id") % 2).cast("string"))
      .withColumn("v", lit("base")).write.partitionBy("p").parquet(root)
    W.compactManifestedPartitioned(spark, root, targetFileBytes = 1L << 30)
    W.upsertManifestedPartitioned(spark, root, spark.range(0, 2).toDF("id")
      .withColumn("p", lit("0")).withColumn("v", lit("upd")), "id")
    val Seq(r1, r2) = W.rootSnapshots(root)
    val changed = W.tableChangesPartitioned(spark, root, "id", r1, r2)
    val empty = W.tableChangesPartitioned(spark, root, "id", r2, r2)
    assert(changed.count() > 0L && empty.count() == 0L)
    assert(empty.columns.toSeq == changed.columns.toSeq,
      s"${empty.columns.mkString(",")} vs ${changed.columns.mkString(",")}")
    // one SCHEMA too (`change_type` non-nullable in every shape): the empty
    // window, and a window that only adopts a partition (the feed is
    // the adopted leaf's whole snapshot)
    assert(empty.schema == changed.schema, s"${empty.schema} vs ${changed.schema}")
    W.upsertManifestedPartitioned(spark, root, spark.range(20, 22).toDF("id")
      .withColumn("p", lit("2")).withColumn("v", lit("new")), "id")
    val adopted = W.tableChangesPartitioned(spark, root, "id", r2,
      W.rootSnapshots(root).last)
    assert(adopted.count() == 2L)
    assert(adopted.schema == changed.schema, s"${adopted.schema} vs ${changed.schema}")
    // the leaf feed: its empty window has its non-empty window's schema
    val leaf = s"$root/p=0"
    val Seq(l1, l2) = W.snapshots(leaf).takeRight(2)
    val leafChanged = W.tableChanges(spark, leaf, "id", l1, l2)
    assert(leafChanged.count() > 0L)
    assert(W.tableChanges(spark, leaf, "id", l2, l2).schema == leafChanged.schema)
    org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
  }

  test("versioned ops refuse an un-retained snapshot and a garbage-collected generation at every caller") {
    val W = graft.operators.Warehouse
    val base = Files.createTempDirectory("graft_refuse")
    val dir = s"$base/t"
    (0L until 3L).foreach(i =>                                      // v1..v3
      W.appendManifested(spark, dir, spark.range(i * 5, i * 5 + 5).toDF("id")))
    val dst = Iterator.from(1).map(i => s"$base/dst$i")
    val leafOps: Seq[(String, Long => Any)] = Seq(
      "readManifestedAt" -> (v => W.readManifestedAt(spark, dir, v).collect()),
      "restoreManifested" -> (v => W.restoreManifested(spark, dir, v)),
      "cloneManifested" -> (v => W.cloneManifested(spark, dir, dst.next(), Some(v))),
      "cloneManifestedShallow" ->
        (v => W.cloneManifestedShallow(spark, dir, dst.next(), Some(v))),
      "tableChanges" -> (v => W.tableChanges(spark, dir, "id", 1L, v).collect()))
    leafOps.foreach { case (name, op) =>
      val e = intercept[IllegalArgumentException](op(99L))
      assert(e.getMessage.contains("not retained"), s"$name: ${e.getMessage}")
    }
    // v2 stays retained, but the generation it added is deleted
    // out-of-band: every caller refuses instead of reading partially
    val gen = java.nio.file.Files.readString(java.nio.file.Paths.get(dir, "_manifest-2"))
      .trim.split("\n").filter(_.startsWith(".gen-")).last
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir, gen))
    leafOps.foreach { case (name, op) =>
      val e = intercept[IllegalStateException](op(2L))
      assert(e.getMessage.contains("garbage-collected"), s"$name: ${e.getMessage}")
    }
    val root = s"$base/r"
    spark.range(0, 10).toDF("id").withColumn("p", (col("id") % 2).cast("string"))
      .write.partitionBy("p").parquet(root)
    W.compactManifestedPartitioned(spark, root, targetFileBytes = 1L << 30) // root v1
    val rootOps: Seq[(String, Long => Any)] = Seq(
      "readManifestedPartitionedAt" ->
        (v => W.readManifestedPartitionedAt(spark, root, v).collect()),
      "tableChangesPartitioned" ->
        (v => W.tableChangesPartitioned(spark, root, "id", 1L, v).collect()),
      "cloneManifestedPartitioned" ->
        (v => W.cloneManifestedPartitioned(spark, root, dst.next(), Some(v))),
      "restoreManifestedPartitioned" -> (v => W.restoreManifestedPartitioned(spark, root, v)))
    rootOps.foreach { case (name, op) =>
      val e = intercept[IllegalArgumentException](op(99L))
      assert(e.getMessage.contains("not retained"), s"$name: ${e.getMessage}")
    }
    org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
  }
}

/** A once-only flag shared by every task of the JVM: a UDF closure is
  * serialized per task, so the flag must live in an object. */
private object SinkSpecForeignWriter {
  val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
}
