package graft

import org.apache.spark.sql.SparkSession

/** Canonical engine session builder: every entry point (Verify, Bench,
  * tests) builds its session here so the engine-critical confs are never
  * forgotten:
  *
  *  - `mapKeyDedupPolicy=LAST_WIN` — hstore `||` is right-wins merge
  *    (SURVEY.md §2.5 X8); the Spark default EXCEPTION would throw on
  *    re-enriching an already-enriched row;
  *  - `spark.sql.extensions=GraftExtensions` — native zh functions +
  *    the merge-then-extract optimizer rule;
  *  - shuffle partitions sized to the local core count (the 100 TB
  *    deploy would size these to cluster cores × a small factor);
  *  - `codegen.cache.maxEntries=4096` — the JVM-wide cache of compiled
  *    generated classes (`CodeGenerator.cache`, an LRU) must hold the
  *    catalog's working set or it never hits. The full catalog compiles
  *    3,036 distinct classes (`graft.Bench`'s first pass over all 239
  *    rows at sf0.001); one pass of catalog_mix's 9 rows needs 131. At
  *    Spark's default of 100 every pass recompiled nearly every class
  *    (4,949 compiles, 36.5 s, on the full catalog's second pass);
  *  - `artifact.isolation.enabled=false` — the codegen cache is keyed on
  *    `(classloader, code)`, and with isolation each `newSession()` gets
  *    its own artifact classloader, so every stream row (planned on a
  *    fresh [[graft.streaming.EventStreams.scopedSession]]) missed every
  *    entry on every run. The engine adds no jars or artifacts to any
  *    session, so isolation bought nothing; `newSession()` still
  *    isolates the runtime conf, which is all a scoped session needs.
  */
object GraftSession {
  def builder(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
      // engine-wide: nanos timestamps (events.ts) read as longs; set
      // here rather than only as a loader side effect
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.sql.artifact.isolation.enabled", "false")
      // per-process warehouse: managed (bucketed) tables never collide
      // with a previous run's leftover directories
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      // State-store maintenance runs on ONE per-JVM task whose interval
      // is pinned by the FIRST stateful query's conf — setting it only
      // in EventStreams.RocksDbConf would be a no-op whenever a
      // default-conf stateful query ran first in the JVM. Every entry
      // point here runs bounded, seconds-long streams over throwaway
      // checkpoints, so deferring background snapshot consolidation
      // JVM-wide is always right; a durable 100 TB deployment keeps
      // the 60 s default (snapshots bound replay time there).
      .config("spark.sql.streaming.stateStore.maintenanceInterval", "600s")
      .config("spark.ui.enabled", "false")
}
