package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** CHECK constraints on manifested tables — Delta's `ALTER TABLE ADD
  * CONSTRAINT ... CHECK (...)` (NOT NULL is the special case
  * `col IS NOT NULL`): a named SQL predicate rides the manifest as a
  * `#constraint:` metadata line and every data-adding commit
  * VALIDATES its incoming rows against all live constraints before
  * anything is written — the writer-side data-quality gate a training
  * corpus table needs (no empty documents, no null languages, scores
  * in range) enforced where the data lands, not hoped for downstream.
  *
  * Semantics are SQL CHECK: a row violates only when the predicate
  * evaluates to FALSE — NULL (unknown) passes, which also gives the
  * right additive-evolution behavior for free (rows written before a
  * constrained column existed read it as null and pass). Validation
  * costs ONE Spark job over the INCOMING batch per commit — O(delta),
  * never a table scan — and zero when the table has no constraints.
  * `addCheckConstraint` validates the EXISTING table once at add time
  * (the Delta convention), so a committed constraint is an invariant
  * of the whole table, not just of later batches.
  *
  * Lifecycle: the lines are versioned manifest metadata, so
  * constraint state TIME-TRAVELS with the data — RESTORE rolls it
  * back, clone carries it, compaction carries it through the fold,
  * and `readManifestedAt` of a pre-constraint snapshot is naturally
  * unconstrained. Line format `#constraint:<name>:<base64(pred)>` —
  * the predicate is base64-coded so arbitrary SQL (colons, quotes,
  * newlines) survives the line-oriented manifest format with
  * deterministic bytes.
  *
  * Partitioned roots: [[addCheckConstraintPartitioned]] /
  * [[dropCheckConstraintPartitioned]] manage the constraint as TABLE
  * state — existing data validated once across all leaves (pooled
  * reads, one Spark job), then the line committed to EVERY leaf under
  * ONE root claim/version, so readers never observe a half-constrained
  * root. [[WarehouseRoot.upsertManifestedPartitioned]] validates its
  * source against every DISTINCT constraint set found across the
  * leaves (steady state: one set, one O(batch) job), so a root whose
  * leaves drifted (a hand-managed leaf that missed an add) still
  * refuses rows violating ANY leaf's constraint instead of trusting
  * directory-listing order.
  */
trait WarehouseConstraints { this: Warehouse.type =>

  private val ConstraintPrefix = "#constraint:"

  private[operators] def constraintLines(body: String): Seq[String] =
    body.trim.split("\n").toSeq.map(_.trim)
      .filter(_.startsWith(ConstraintPrefix))

  /** Decode the committed constraints of a manifest body:
    * name -> predicate SQL. */
  private[operators] def parseConstraints(body: String): Map[String, String] =
    constraintLines(body).map { l =>
      val rest = l.stripPrefix(ConstraintPrefix)
      val i = rest.indexOf(':')
      rest.take(i) -> new String(
        java.util.Base64.getDecoder.decode(rest.drop(i + 1)), "UTF-8")
    }.toMap

  private def constraintLine(name: String, predicate: String): String =
    ConstraintPrefix + name + ":" +
      java.util.Base64.getEncoder.encodeToString(predicate.getBytes("UTF-8"))

  /** The live CHECK constraints of a committed table. */
  def checkConstraints(spark: SparkSession, dir: String): Map[String, String] = {
    val (fs, root) = ManifestIo.resolve(dir, hconf(spark))
    trailHead(fs, root).body.map(parseConstraints).getOrElse(Map.empty)
  }

  /** Validate `df` against the constraints committed in `head` —
    * the shared writer-side gate. ONE job: rows are tagged with the
    * names of every constraint whose predicate is FALSE for them, the
    * first few violators are collected and the refusal names them.
    * No-op (no job) when the head carries no constraints.
    *
    * A legal additive-evolution batch may OMIT a constrained column —
    * the committed scan null-fills it (mergeSchema/unionByName), so
    * the CHECK must see NULL → pass, the SQL semantics documented
    * above, not an unresolved-column refusal. Resolution is probed
    * against the raw batch first; only on a miss is `tableSchema`
    * (by-name — typically one parquet-footer schema read) consulted
    * to null-fill the batch's missing TABLE columns. A predicate
    * referencing a column in neither the batch nor the table still
    * fails loudly. */
  private[operators] def requireConstraints(head: Option[String],
                                            df: DataFrame, op: String,
                                            tableSchema: => org.apache.spark.sql.types.StructType =
                                              org.apache.spark.sql.types.StructType(Nil)): Unit = {
    val cons = head.map(parseConstraints).getOrElse(Map.empty)
    if (cons.isEmpty) return
    val resolvesOnBatch = cons.values.forall { p =>
      try { df.select(expr(p)); true }
      catch { case _: org.apache.spark.sql.AnalysisException => false }
    }
    val target =
      if (resolvesOnBatch) df
      else {
        val have = df.columns.map(_.toLowerCase).toSet
        tableSchema.fields.filterNot(f => have(f.name.toLowerCase))
          .foldLeft(df)((d, f) =>
            d.withColumn(f.name, lit(null).cast(f.dataType)))
      }
    val tags = cons.toSeq.sortBy(_._1).map { case (n, p) =>
      when(coalesce(expr(p), lit(true)) === lit(false), lit(n))
    }
    val bad = target
      .withColumn("_violated",
        filter(array(tags: _*), x => x.isNotNull))
      .filter(size(col("_violated")) > 0)
      .limit(3).collect()
    if (bad.nonEmpty) {
      val sample = bad.map { r =>
        val names = r.getSeq[String](r.fieldIndex("_violated")).mkString(",")
        s"[$names] ${r.mkString(", ")}"
      }.mkString("; ")
      throw new IllegalArgumentException(
        s"$op: incoming rows violate CHECK constraint(s) — nothing was " +
          s"committed. First violators: $sample. Constraints: " +
          cons.toSeq.sortBy(_._1)
            .map { case (n, p) => s"$n CHECK ($p)" }.mkString("; "))
    }
  }

  /** ADD CONSTRAINT: validate the EXISTING table against `predicate`
    * (one scan — a constraint is a whole-table invariant from the
    * moment it commits), then commit a METADATA-ONLY version whose
    * line set adds `#constraint:name`. Refuses a duplicate name, a
    * name with ':'/newline, a predicate referencing no committed
    * column (the expr resolution fails loudly in the validation
    * scan), and a table whose current rows violate it. Returns the
    * committed version. */
  def addCheckConstraint(spark: SparkSession, dir: String, name: String,
                         predicate: String): Long = {
    requireConstraintName("addCheckConstraint", name)
    val (fs, root) = ManifestIo.resolve(dir, hconf(spark))
    addConstraintCommit(spark, fs, root, "addCheckConstraint", name, predicate,
      pinned = None)
  }

  /** DROP CONSTRAINT: metadata-only commit removing the line.
    * Refuses an unknown name. Returns the committed version. */
  def dropCheckConstraint(spark: SparkSession, dir: String,
                          name: String): Long = {
    val (fs, root) = ManifestIo.resolve(dir, hconf(spark))
    dropConstraintCommit(fs, root, "dropCheckConstraint", name, converge = false)
  }

  private def requireConstraintName(op: String, name: String): Unit =
    require(!name.contains(":") && !name.contains("\n") && name.nonEmpty,
      s"$op: constraint name must be nonempty without ':' or newline, " +
        s"got '$name'")

  /** The duplicate probe: refuse an existing constraint `name` — unless
    * `converge` and it already carries this exact predicate (a crashed
    * prior partitioned add), which returns true (nothing to commit). */
  private def constraintPresent(op: String, leaf: HPath, head: String,
                                name: String, predicate: String,
                                converge: Boolean): Boolean =
    parseConstraints(head).get(name) match {
      case Some(p) if converge && p == predicate => true
      case Some(p) => throw new IllegalArgumentException(
        s"$op: $leaf already has constraint '$name' CHECK ($p) — drop it " +
          "first to replace")
      case None => false
    }

  /** The ADD commit step both forms run on [[leafCommit]] (5
    * attempts): probe for a duplicate, validate the leaf's CURRENT rows,
    * commit the line. The validation scan is why the early `expected`
    * capture matters here: a write landing during it surfaces as a CAS
    * loss, and the retry re-reads AND re-scans, so the committed
    * constraint is a whole-table invariant including last-instant
    * arrivals. A partitioned walk passes `pinned` — the head snapshot
    * it took BEFORE its root-wide scan, which already validated this
    * leaf, so only a retry re-scans (leaf-sized, not the root scan) —
    * and converges on a leaf already carrying the line. */
  private def addConstraintCommit(spark: SparkSession, fs: HFs, leaf: HPath,
                                  op: String, name: String, predicate: String,
                                  pinned: Option[TrailHead]): Long = {
    val line = constraintLine(name, predicate)
    leafCommit(fs, leaf, op, attempts = 5, pinned = pinned) { h =>
      if (constraintPresent(op, leaf, h.body, name, predicate, pinned.isDefined))
        h.version
      else {
        if (pinned.isEmpty || h.attempt > 0)
          requireConstraints(Some(manifestBody(Seq.empty, Map.empty, Seq(line))),
            readManifested(spark, leaf.toString), op)
        h.commit(h.gens, h.stats :+ line)
      }
    }
  }

  /** The DROP commit step both forms run on [[leafCommit]] (5
    * attempts). A leaf without the name refuses, or — `converge`, the
    * partitioned walk — is recorded as-is (a crashed prior drop). */
  private def dropConstraintCommit(fs: HFs, leaf: HPath, op: String,
                                   name: String, converge: Boolean): Long =
    leafCommit(fs, leaf, op, attempts = 5) { h =>
      constraintLines(h.body).find(_.startsWith(ConstraintPrefix + name + ":")) match {
        case Some(l) => h.commit(h.gens, h.stats.filterNot(_ == l))
        case None if converge => h.version
        case None => throw new IllegalArgumentException(
          s"$op: $leaf has no constraint '$name' " +
            s"(live: ${parseConstraints(h.body).keys.toSeq.sorted.mkString(", ")})")
      }
    }

  /** ADD CONSTRAINT across a PARTITIONED root — the table-level DDL
    * (Delta constraints are table state; the per-leaf surface alone
    * lets a root drift half-constrained): validate the EXISTING data
    * of ALL leaves in one partitioned scan (so the predicate may also
    * reference the partition columns), then — under ONE root claim —
    * commit the `#constraint:` line to every leaf and publish one
    * root version recording the new heads. Readers therefore see the
    * root unconstrained or fully constrained, never in between, and a
    * validation refusal happens BEFORE the claim — it leaves no trace
    * in any manifest.
    *
    * CONVERGENT for a crashed prior attempt: a leaf already carrying
    * this exact (name, predicate) line skips (its head is recorded
    * as-is); the same name with a DIFFERENT predicate refuses loudly.
    * Returns the published root version. */
  def addCheckConstraintPartitioned(spark: SparkSession, rootDir: String,
                                    name: String, predicate: String): Long = {
    val op = "addCheckConstraintPartitioned"
    requireConstraintName(op, name)
    val (fs, root) = ManifestIo.resolve(rootDir, hconf(spark))
    val leaves = requireKvLeaves(fs, root, op, rootDir, "addCheckConstraint")
    // duplicate probe + head/version SNAPSHOT of every leaf, taken
    // BEFORE the root-wide validation scan: each leaf's first commit
    // attempt anchors on it, so a write landing DURING the scan (a
    // concurrent upsert that claims the root only at commit time, or a
    // direct leaf append) surfaces as a CAS loss and takes the leaf
    // re-validation path. Refusals (dup name with different predicate,
    // headless leaf) happen here, before the claim — they leave
    // nothing behind.
    val pre: Map[HPath, TrailHead] = parCommitLeaves(leaves) { leaf =>
      val head = trailHead(fs, leaf)
      val h = head.body.getOrElse(throw new IllegalArgumentException(
        s"$op: leaf ${relPath(root, leaf)} has no committed table"))
      constraintPresent(op, leaf, h, name, predicate, converge = true)
      leaf -> head
    }.toMap
    requireConstraints(
      Some(manifestBody(Seq.empty, Map.empty, Seq(constraintLine(name, predicate)))),
      readManifestedPartitioned(spark, rootDir), op)
    rootTransition(fs, root, leaves, None, op) { _ =>
      leaves.map(leaf => () => (relPath(root, leaf),
        addConstraintCommit(spark, fs, leaf, op, name, predicate, pre.get(leaf)), ()))
    }._1.next
  }

  /** DROP CONSTRAINT across a partitioned root: the line is removed
    * from every leaf under one root claim/version. A leaf already
    * missing the name skips (a crashed prior drop converges); a root
    * where NO leaf carries it refuses. Returns the published root
    * version. */
  def dropCheckConstraintPartitioned(spark: SparkSession, rootDir: String,
                                     name: String): Long = {
    val op = "dropCheckConstraintPartitioned"
    val (fs, root) = ManifestIo.resolve(rootDir, hconf(spark))
    val leaves = requireKvLeaves(fs, root, op, rootDir, "dropCheckConstraint")
    val anywhere = parCommitLeaves(leaves) { leaf =>
      trailHead(fs, leaf).body.exists(h => parseConstraints(h).contains(name))
    }
    require(anywhere.contains(true),
      s"$op: no leaf of $rootDir has constraint '$name'")
    rootTransition(fs, root, leaves, None, op) { _ =>
      leaves.map(leaf => () => (relPath(root, leaf),
        dropConstraintCommit(fs, leaf, op, name, converge = true), ()))
    }._1.next
  }

  /** The leaves of a partitioned root, refusing a plain leaf. */
  private def requireKvLeaves(fs: HFs, root: HPath, op: String, rootDir: String,
                              leafOp: String): Seq[HPath] = {
    val leaves = manifestLeaves(fs, root)
    require(leaves.nonEmpty && leaves.forall(l => leafKvs(root, l).nonEmpty),
      s"$op: $rootDir has no k=v leaves — it is a plain leaf; use $leafOp")
    leaves
  }
}
