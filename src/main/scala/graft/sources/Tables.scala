package graft.sources

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.{BasicFileAttributes, FileTime}
import java.util.Locale
import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampType}

/** Parquet table registry over a scale-factor directory.
  *
  * The reference discovers tables dynamically from a live PostgreSQL
  * catalog (`OMTZHModifier.java:36-43` via `DatabaseMetaData.getTables`);
  * the Spark-native analogue for a file-backed engine is a directory of
  * parquet datasets enumerated here. Each table is exposed lazily so
  * Catalyst sees a plain `FileSourceScanExec` with full predicate
  * pushdown / column pruning; at cluster scale these paths would be
  * partitioned directories and nothing here changes.
  *
  * Schema cache. The reference reads its catalog's metadata once per
  * run and then only scans; a bare `spark.read.parquet` instead starts
  * one schema-inference Spark job per load. Every load here goes
  * through one JVM-wide cache of the inferred schema, and a hit reads
  * with `spark.read.schema(s)`, which starts no job. The key is
  *  - the path as given;
  *  - the file's identity: size, modification time and the file key
  *    (the inode on Linux), see [[Stamp]];
  *  - the session confs that change parquet inference: `nanosAsLong`,
  *    `inferTimestampNTZ`, `binaryAsString` and `int96AsTimestamp`.
  * A file rewritten in place therefore misses and is inferred again;
  * the cache keeps one entry per path. Not covered, and read with
  * inference as before:
  *  - a directory (Spark-written tables, the warehouse's manifested
  *    generations — `WarehouseLeaf` reads those itself);
  *  - a path that cannot be stat'ed on the local file system (a URI
  *    with a scheme such as `hdfs:` or `file:`);
  *  - a rewrite that keeps the inode, the size and the modification
  *    time to the file system's timestamp resolution.
  */
object Tables {
  /** All driver-generated tables (TESTDATA.md). */
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Load one table from a scale-factor directory.
    *
    * `events.ts` is written as parquet TIMESTAMP(NANOS). Depending on
    * the Spark build, the inferred type is either a long (nanos since
    * epoch, `spark.sql.legacy.parquet.nanosAsLong`, which `GraftSession`
    * sets) or — on builds where NTZ inference takes precedence over that
    * legacy conf — a micros-truncated TIMESTAMP_NTZ. Normalize BOTH to
    * the engine's canonical microsecond TimestampType by inspecting the
    * type the reader actually produced (cached with the schema): long →
    * explicit nanos-div-1000 truncation; NTZ → cast (the session
    * timezone is pinned UTC by GraftSession, so the cast is
    * value-preserving and lands on the same micros-truncated instants).
    * Either path matches DuckDB's TIMESTAMP_NS→TIMESTAMP cast, so
    * oracle comparisons stay exact. */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val raw = read(spark, s"$dir/$name.parquet")
    if (name != "events") raw
    else raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => raw.withColumn("ts", col("ts").cast(TimestampType))
    }
  }

  /** The parquet schema of the file at `path` as the reader infers it,
    * through the schema cache (no Spark job on a hit). */
  def schema(spark: SparkSession, path: String): StructType =
    key(spark, path).flatMap(hit(path, _)).getOrElse(read(spark, path).schema)

  /** Runs `text` through `spark.sql` after registering as temp views
    * only the tables of `dir` that its parsed plan reads (see
    * [[relations]]), each through [[apply]]. */
  def sql(spark: SparkSession, dir: String, text: String): DataFrame = {
    relations(spark.sessionState.sqlParser.parsePlan(text)).distinct
      .foreach(n => apply(spark, dir, n).createOrReplaceTempView(n))
    spark.sql(text)
  }

  /** The names of [[names]] that an unresolved plan reads as a relation:
    * in CTE definitions, subqueries and lateral joins too. A CTE's own
    * name (q27's `p`) is not a table name, so it is never loaded. */
  private[graft] def relations(plan: LogicalPlan): Seq[String] = {
    val here = plan match {
      case r: UnresolvedRelation => r.multipartIdentifier match {
        case Seq(n) => Seq(n.toLowerCase(Locale.ROOT)).filter(names.contains)
        case _ => Nil
      }
      case _ => Nil
    }
    val inner = plan.innerChildren.collect { case p: LogicalPlan => p }
    here ++ (plan.children ++ inner ++ plan.subqueries).flatMap(relations)
  }

  /** A regular local file's size, modification time and file key. Two
    * stamps of the same content agree on [[sameContent]]; a hard link
    * or an attribute-preserving copy (`EventStreams.stagedTable`) keeps
    * them, a rewrite in place changes them. */
  private[graft] final case class Stamp(size: Long, mtime: FileTime, fileKey: AnyRef) {
    def sameContent(o: Stamp): Boolean = size == o.size && mtime == o.mtime
  }

  /** The stamp of `p`; None for a directory or a path that cannot be
    * stat'ed. */
  private[graft] def stamp(p: Path): Option[Stamp] =
    try {
      val a = Files.readAttributes(p, classOf[BasicFileAttributes])
      if (a.isRegularFile) Some(Stamp(a.size, a.lastModifiedTime, a.fileKey)) else None
    } catch { case _: java.io.IOException => None }

  private val InferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp")

  private type Key = (Stamp, Seq[String])

  /** path → (the key it was inferred under, its schema) */
  private val schemas = new ConcurrentHashMap[String, (Key, StructType)]()

  /** The key of a cacheable path; None when `path` is not a regular
    * local file. */
  private def key(spark: SparkSession, path: String): Option[Key] =
    stamp(Paths.get(path)).map(s => (s, InferenceConfs.map(spark.conf.get)))

  private def hit(path: String, k: Key): Option[StructType] =
    Option(schemas.get(path)).collect { case (`k`, s) => s }

  /** The one parquet load of this object: with the cached schema on a
    * hit, else with inference, whose schema then replaces the path's
    * entry. The key is taken before the read, so a file rewritten
    * meanwhile is at worst inferred again. */
  private def read(spark: SparkSession, path: String): DataFrame = {
    val k = key(spark, path)
    k.flatMap(hit(path, _)) match {
      case Some(s) => spark.read.schema(s).parquet(path)
      case None =>
        val df = spark.read.parquet(path)
        k.foreach(kk => schemas.put(path, (kk, df.schema)))
        df
    }
  }
}
