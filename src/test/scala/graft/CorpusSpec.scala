package graft

import org.apache.spark.sql.functions._
import graft.functions.{InterleaveBits, MisraGriesAgg}
import graft.operators.{Corpus, TextAnalysis}

/** Corpus-preparation operators: split determinism, packing invariants,
  * PII redaction, the Misra–Gries guarantee on an adversarially skewed
  * stream, and the Morton-key bit layout. */
class CorpusSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private def docs = graft.sources.Tables(spark, sf, "documents")

  test("bigramSurprise: one dominant first word, counts == groupBy+join c1/c2 reference") {
    import spark.implicits._
    // six "the" then two rare words per doc: 6 of every 7 bigrams have
    // the prefix "the", so its c1 window runs in one task
    val skewed = (0 until 400).map { i =>
      (i.toLong, (Seq.fill(6)("the") ++ Seq(s"w${i % 13}", s"v${i % 3}")).mkString(" "))
    }.toDF("doc_id", "text")
    val tok = skewed.select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("i", "w")))
    val pairs = tok.as("a").join(tok.as("b"),
        col("a.doc_id") === col("b.doc_id") && col("b.i") === col("a.i") + 1)
      .select(col("a.doc_id").as("doc_id"), col("a.w").as("w1"), col("b.w").as("w2"))
    val c2 = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    val c1 = pairs.groupBy("w1").agg(count(lit(1)).as("c1"))
    val top = c1.orderBy(col("c1").desc).first()
    assert(top.getString(0) == "the" && top.getLong(1) * 7 == pairs.count() * 6)
    val want = pairs.join(c2, Seq("w1", "w2")).join(c1, Seq("w1"))
      .select(col("doc_id"), expr("least((c1 * 10000) div c2, 1000000000000)").as("r"))
      .groupBy("doc_id").agg(count(lit(1)).as("n"), sum(col("r")).as("s"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    val got = rows(TextAnalysis.bigramSurprise(skewed)
      .select(col("doc_id"), col("n_bigrams"), col("surprise_sum")))
    assert(got.length == 400 && got == rows(want))
  }

  test("length buckets: batch bound, bucket homogeneity, one partial batch per cell, waste law") {
    val batches = Corpus.lengthBucketBatches(docs).collect()
    assert(batches.nonEmpty)
    batches.foreach { r =>
      val (bucket, n) = (r.getLong(0), r.getLong(3))
      val (mn, mx, waste) = (r.getLong(4), r.getLong(5), r.getLong(6))
      assert(n >= 1 && n <= 16, s"batch size $n out of [1,16]")
      // every member's length lies in the batch's bucket ⇒ the range the
      // waste can span is < bucketWidth
      assert(mn >= bucket * 256 && mx < (bucket + 1) * 256,
        s"bucket $bucket holds lengths [$mn,$mx]")
      // padding waste is bounded by construction: each non-max member
      // wastes < bucketWidth
      assert(waste >= 0 && waste <= (n - 1) * 255, s"waste $waste vs n=$n")
    }
    // conservation: every document lands in exactly one batch
    assert(batches.map(_.getLong(3)).sum == docs.count())
    // within a (bucket, shard) cell only the LAST batch may be partial
    batches.groupBy(r => (r.getLong(0), r.getLong(1))).foreach { case (cell, rs) =>
      assert(rs.count(_.getLong(3) < 16) <= 1, s"cell $cell has >1 partial batch")
      val partialIdx = rs.filter(_.getLong(3) < 16).map(_.getLong(2))
      val maxIdx = rs.map(_.getLong(2)).max
      assert(partialIdx.forall(_ == maxIdx), s"cell $cell: partial batch not last")
    }
  }

  test("source interleave: first min·|sources| positions carry EXACTLY min docs per source") {
    val rows = Corpus.sourceInterleave(docs)
      .orderBy(col("interleave_key")).collect()
    val bySource = rows.groupBy(_.getString(1)).view.mapValues(_.length).toMap
    val ns = bySource.size
    val minCount = bySource.values.min
    assert(ns >= 2, s"fixture needs ≥2 sources, got $bySource")
    // keys are unique and the order is total
    assert(rows.map(_.getLong(3)).distinct.length == rows.length)
    // before any source exhausts (rank < min), the round-robin is exact:
    // every prefix of r full rounds holds exactly r docs of EVERY source
    val prefix = rows.take(minCount * ns)
    prefix.groupBy(_.getString(1)).foreach { case (src, docsOf) =>
      assert(docsOf.length == minCount,
        s"source $src has ${docsOf.length} docs in the first $minCount rounds")
    }
    // determinism: a second evaluation reproduces the identical order
    val again = Corpus.sourceInterleave(docs)
      .orderBy(col("interleave_key")).collect()
    assert(rows.map(_.getLong(0)).toSeq == again.map(_.getLong(0)).toSeq)
  }

  test("hash split: deterministic, id-stable, ~80/10/10") {
    val s1 = Corpus.hashSplit(docs).collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    val s2 = Corpus.hashSplit(docs.orderBy(col("doc_id").desc))
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(s1 == s2) // membership is a pure function of the id
    val n = s1.size.toDouble
    val frac = s1.values.groupBy(identity).view.mapValues(_.size / n).toMap
    assert(frac("train") > 0.7 && frac("train") < 0.9)
    assert(frac("val") > 0.03 && frac("test") > 0.03)
  }

  test("sequence packing: offsets bounded, shard-contiguous, spans ≥ 1") {
    val budget = 128
    val rows = Corpus.sequencePacking(docs, budget = budget, shards = 4)
      .orderBy(col("shard"), col("doc_id")).collect()
    assert(rows.forall { r =>
      val off = r.getAs[Long]("off_in_pack")
      off >= 0 && off < budget && r.getAs[Long]("n_packs_spanned") >= 1
    })
    // within a shard, each start_tok is the previous start + its tokens
    rows.groupBy(_.getAs[Long]("shard")).values.foreach { g =>
      g.sliding(2).foreach {
        case Array(a, b) =>
          assert(b.getAs[Long]("start_tok") ==
            a.getAs[Long]("start_tok") + a.getAs[Long]("n_tokens"))
        case _ =>
      }
    }
  }

  test("pii redact: seeded rows counted, scrubbed text loses the match") {
    import spark.implicits._
    val d = Seq(
      (0L, "write to alice.smith@corp.example.org or 415-555-1234 today"),
      (1L, "no contact details in this row at all"))
      .toDF("doc_id", "text")
    val out = Corpus.piiRedact(d).orderBy(col("doc_id")).collect()
    // row 0: its own email+phone, plus the doc_id%7==0 seeded suffix
    assert(out(0).getAs[Long]("n_emails") == 2 && out(0).getAs[Long]("n_phones") == 2)
    assert(out(1).getAs[Long]("n_emails") == 0 && out(1).getAs[Long]("n_phones") == 0)
    // redacted md5 differs from the md5 of the seeded-but-unredacted text
    val seededMd5 = d.filter(col("doc_id") === 0)
      .select(md5(concat(col("text"), lit(" contact user0@example.com or 555-123-4567"))))
      .head().getString(0)
    assert(out(0).getAs[String]("redacted_md5") != seededMd5)
  }

  test("balanced shards: serpentine totals tight, doc counts even, assignment total") {
    val got = Corpus.balancedShards(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.length == docs.count())
    val byShard = got.groupBy(_._3)
    assert(byShard.keySet == (0L until 8L).toSet)
    // every shard holds n/S ± 1 docs (the deal never skips a shard)
    val counts = byShard.view.mapValues(_.length).values
    assert(counts.max - counts.min <= 1, s"doc counts uneven: $byShard")
    // serpentine on the size-sorted order keeps token totals within one
    // double-cycle's worth of drift — far tighter than the worst doc;
    // assert the operational bound: spread ≤ 2 × the largest doc
    val totals = byShard.view.mapValues(_.map(_._2).sum).values
    val maxDoc = got.map(_._2).max
    assert(totals.max - totals.min <= 2 * maxDoc,
      s"token totals spread ${totals.max - totals.min} vs max doc $maxDoc")
  }

  test("misra-gries: every true heavy hitter survives a skewed stream") {
    import spark.implicits._
    // 900 distinct rare tokens + 2 hot tokens at ~30% and ~15%:
    // adversarial for counter eviction, trivial for the guarantee
    val stream = (Seq.fill(600)("hot") ++ Seq.fill(300)("warm") ++
      (0 until 900).map(i => s"rare$i")).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    val d = stream.toDF("doc_id", "text").repartition(7) // force merges
    val k = 19
    val cand = TextAnalysis.heavyHitterCandidates(d, k)
      .collect().map(_.getString(0)).toSet
    assert(cand.size <= k)
    assert(cand.contains("hot") && cand.contains("warm"))
    // and the catalog pin itself is empty on the fixture
    assert(TextAnalysis.exactHeavyHitters(d, k)
      .except(TextAnalysis.heavyHitterCandidates(d, k)).count() == 0)
  }

  test("morton key: interleaving matches the per-bit definition") {
    def slowMorton(x: Long, y: Long): Long =
      (0 until 32).foldLeft(0L) { (acc, i) =>
        acc | ((x >> i) & 1L) << (2 * i) | ((y >> i) & 1L) << (2 * i + 1)
      }
    val cases = Seq((0L, 0L), (1L, 0L), (0L, 1L), (255L, 255L),
      (0xFFFFFFFFL, 0L), (123456789L, 987654321L))
    cases.foreach { case (x, y) =>
      assert(InterleaveBits.morton(x, y) == slowMorton(x, y), s"($x, $y)")
    }
    // the expression path (codegen) agrees with the object method
    import spark.implicits._
    val got = cases.toDF("x", "y")
      .select(InterleaveBits.interleave_bits(col("x"), col("y"))).collect()
      .map(_.getLong(0)).toSeq
    assert(got == cases.map { case (x, y) => InterleaveBits.morton(x, y) })
  }

  test("misra-gries merge keeps the summary within k entries") {
    val agg = new MisraGriesAgg(5)
    val x = Map("a" -> 10L, "b" -> 8L, "c" -> 6L, "d" -> 4L, "e" -> 2L)
    val y = Map("f" -> 9L, "g" -> 7L, "h" -> 5L, "i" -> 3L, "j" -> 1L)
    val m = agg.merge(x, y)
    assert(m.size <= 5)
    assert(m.contains("a") && m.contains("f")) // largest from both sides
  }

  test("count-min: estimates ≥ exact for EVERY token, partitioning-invariant") {
    import spark.implicits._
    // skewed fixture with deliberate collision pressure (width 16)
    val stream = (Seq.fill(50)("hot") ++ Seq.fill(20)("warm") ++
      (0 until 200).map(i => s"rare${i % 60}")).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    val d = stream.toDF("doc_id", "text")
    def estimates(df: org.apache.spark.sql.DataFrame) =
      TextAnalysis.cmsEstimates(df, depth = 3, width = 16, topn = 62)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val one = estimates(d.repartition(1))
    val many = estimates(d.repartition(7))
    // merge is element-wise add ⇒ identical sketch under any partitioning
    assert(one.toSeq == many.toSeq)
    // one-sided error: never an undercount
    one.foreach { case (tok, exact, est) =>
      assert(est >= exact, s"$tok undercounted: est $est < exact $exact")
    }
    // the hot token's buckets carry at least its own mass
    assert(one.find(_._1 == "hot").get._2 == 50L)
  }

  test("count-min xx family: buckets match the engine's xxhash64, grid exact, invariant") {
    import spark.implicits._
    val stream = Seq.fill(50)("hot") ++ Seq.fill(20)("warm") ++
      (0 until 200).map(i => s"rare${i % 60}")
    val agg = new graft.functions.CountMinAgg(3, 16, "xx")
    // INDEPENDENT reference: the codegen'd built-in xxhash64(tok, r) —
    // the aggregator promises exactly its chained-seed arithmetic, so a
    // broken row seed or wrong byte hashing diverges here (the earlier
    // est≥exact-via-own-buckets check held for ANY deterministic fn)
    val refBuckets = stream.distinct.toDF("w")
      .select(col("w") +: (0 until 3).map(r =>
        pmod(xxhash64(col("w"), lit(r)), lit(16)).cast("int").as(s"b$r")): _*)
      .collect()
      .map(row => row.getString(0) -> (0 until 3).map(i => row.getInt(i + 1)))
      .toMap
    refBuckets.foreach { case (tok, bs) =>
      (0 until 3).foreach { r =>
        assert(agg.bucketOf(r, tok) == bs(r), s"xx bucket diverged: $tok row $r")
      }
    }
    // the row seed must matter (all-rows-identical buckets would gut
    // the min-of-rows error bound)
    assert(refBuckets.exists { case (_, bs) => bs.distinct.size > 1 })
    // grid == reference grid built from the BUILT-IN's buckets
    val exact = stream.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val expect = new Array[Long](48)
    exact.foreach { case (tok, c) =>
      (0 until 3).foreach(r => expect(r * 16 + refBuckets(tok)(r)) += c)
    }
    def grid(parts: Int): Array[Long] =
      stream.toDS().repartition(parts).select(agg.toColumn).collect().head
    val g1 = grid(1)
    assert(g1.toSeq == expect.toSeq)
    // element-wise-add merge ⇒ identical grid under any partitioning
    assert(g1.toSeq == grid(7).toSeq)
    // one-sided error, read via the independent reference buckets
    exact.foreach { case (tok, c) =>
      val est = (0 until 3).map(r => g1(r * 16 + refBuckets(tok)(r))).min
      assert(est >= c, s"$tok undercounted under the xx family")
    }
  }

  test("bpe merge step: argmax pair, greedy non-overlap apply, exact recount") {
    import spark.implicits._
    // vocab: "aaab"×3, "ab"×2, "ba"×1 → pair counts: aa=6 (2 per aaab),
    // ab=5, ba=1 → merge (a,a). Greedy left-to-right: "aaab" → [aa][a][b]
    // so post-merge pairs: (aa,a)=3, (a,b)=3+2, (b,a)=1
    val docs = Seq.fill(3)("aaab").zipWithIndex.map { case (w, i) => (i.toLong, w) } ++
      Seq((10L, "ab ab"), (11L, "ba"))
    val got = graft.operators.TextAnalysis.bpeMergeStep(docs.toDF("doc_id", "text"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == Seq(("a", "b", 5L), ("aa", "a", 3L), ("b", "a", 1L)))
  }

  test("bpe train: merges compose (later rounds render earlier symbols), dry vocab stops early") {
    import spark.implicits._
    // "abc"×3 + "ab": pairs (a,b)=4, (b,c)=3 → round 1 merges (a,b) g=4.
    // vocab becomes {⟨ab⟩c ×3, ⟨ab⟩ ×1}; round 2 merges (⟨ab⟩, c) g=3 —
    // the LEFT symbol is a placeholder and must render as "ab". After
    // that every word is a single symbol: round 3 finds no pair and the
    // trainer emits 2 rows, not 3 (the oracle's empty-CTE chain agrees).
    val docs = (Seq.fill(3)("abc") :+ "ab").zipWithIndex
      .map { case (w, i) => (i.toLong, w) }
    val got = graft.operators.TextAnalysis.bpeTrain(docs.toDF("doc_id", "text"))
      .orderBy("merge_round").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(got == Seq((1L, "a", "b", 4L), (2L, "ab", "c", 3L)), got.toString)
  }

  test("bpe encode: greedy apply per round, placeholder render, exact round-trip") {
    import spark.implicits._
    // Same fixture as the trainer test (merges: round 1 (a,b), round 2
    // (ab,c)), plus a doc whose words exercise the interesting cases:
    //  - "zabc"  → round 1 z⟨ab⟩c, round 2 z⟨abc⟩ → tokens [z, abc]
    //    (the round-2 pattern's LEFT is a placeholder — the encoder must
    //    replay the RAW recurrence, not the rendered digraphs)
    //  - "abab"  → greedy non-overlap → [ab, ab]
    //  - "cab"   → round 1 c⟨ab⟩, round 2 no hit (needs ⟨ab⟩ THEN c) →
    //    [c, ab] — order sensitivity of the pair
    // rounds pinned to 2: a third round would merge (c, ⟨ab⟩) and
    // collapse the order-sensitivity case
    val docs = ((Seq.fill(3)("abc") :+ "ab") :+ "zabc abab cab").zipWithIndex
      .map { case (w, i) => (i.toLong, w) }
    val got = graft.operators.TextAnalysis.bpeEncode(docs.toDF("doc_id", "text"), rounds = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    def toks(id: Long, wi: Long): Seq[String] =
      got.filter(t => t._1 == id && t._2 == wi).sortBy(_._3).map(_._4).toSeq
    assert(toks(0L, 1L) == Seq("abc"))
    assert(toks(3L, 1L) == Seq("ab"))
    assert(toks(4L, 1L) == Seq("z", "abc"))
    assert(toks(4L, 2L) == Seq("ab", "ab"))
    assert(toks(4L, 3L) == Seq("c", "ab"))
    // round-trip law: concatenating a word's tokens in symbol order
    // reconstructs the word, for EVERY (doc, word) coordinate
    val words = docs.flatMap { case (id, text) =>
      text.split(" ", -1).zipWithIndex.collect {
        case (w, i) if w.nonEmpty => ((id, i + 1L), w)
      }
    }.toMap
    val grouped = got.groupBy(t => (t._1, t._2))
    assert(grouped.keySet == words.keySet)
    grouped.foreach { case (k, ts) =>
      assert(ts.sortBy(_._3).map(_._4).mkString == words(k), s"round-trip at $k")
    }
  }

  test("count-min: sketch grid matches a hand-computed reference") {
    import spark.implicits._
    val toks = Seq("a", "b", "a", "c", "a", "b")
    val agg = new graft.functions.CountMinAgg(2, 8)
    val grid = toks.foldLeft(agg.zero)(agg.reduce)
    def bucket(r: Int, tok: String): Int = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$r:$tok".getBytes("UTF-8"))
      (((d(0) & 0xff) << 8) | (d(1) & 0xff)) % 8
    }
    val expect = new Array[Long](16)
    toks.foreach { t =>
      (0 until 2).foreach { r => expect(r * 8 + bucket(r, t)) += 1L }
    }
    assert(grid.toSeq == expect.toSeq)
    // split-point invariance of merge
    val (l, r) = toks.splitAt(2)
    val merged = agg.merge(l.foldLeft(agg.zero)(agg.reduce),
      r.foldLeft(agg.zero)(agg.reduce))
    assert(merged.toSeq == expect.toSeq)
  }
}
