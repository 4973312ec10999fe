package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Zh._

/** The reference's core pipeline (`OMTZHModifier.java:116-245`) as narrow
  * (shuffle-free) Spark plans over one row-local derivation.
  *
  * zhEnrich    = chunked scan → filter → per-row derive (`OMT:134-146,
  *               196-245`), fused by whole-stage codegen the same way the
  *               reference hand-fuses its JDBC cursor loop.
  * enrichTable = the same derivation merged into each selected row's own
  *               `tags` — the batched `UPDATE … SET tags = tags || hstore`
  *               (`OMT:156-178`) as a right-wins `map_concat` projection.
  *
  * Corrected reference quirks (SURVEY.md §7.5, intentionally NOT
  * replicated): the `names:zh-Hant` read typo (`OMT:136`), the
  * negative-id / exact-divisor scan holes (`OMT:130`), and SQL-literal
  * splicing (`OMT:156-159,184-194` — nothing to escape here).
  *
  * Scale: both are a single narrow stage over one scan of the table (no
  * join, no shuffle), so they scale linearly with the input.
  */
object ZhEnrich {

  private val HansKey = "name:zh-Hans"
  private val HantKey = "name:zh-Hant"
  private val ZhKey = "name:zh"

  /** Empty-string → null coercion (reference `OMT:220-225`). */
  private def nz(c: Column): Column = nullif(c, lit(""))

  /** One row's derivation over its `name` and `tags`: whether the row
    * takes an update, and its Simplified/Traditional targets. */
  private case class Derivation(selected: Column, hans: Column, hant: Column)

  private def derivation(toHans: Column => Column, toHant: Column => Column): Derivation = {
    val eZh = nz(element_at(col("tags"), ZhKey))
    val eHans = nz(element_at(col("tags"), HansKey))
    val eHant = nz(element_at(col("tags"), HantKey))
    // X5 + F3/F4 (OMT:209-218): zh := coalesce(tags[zh], name-if-Han)
    val zh = coalesce(eZh, when(contains_han(col("name")), col("name")))
    Derivation(
      // F2 (OMT:137-138): some Chinese-derivable name AND a target
      // missing — the missing target is also F5's "something derived"
      // (OMT:207,237-244); F3/F4: a zh source exists
      (col("name").isNotNull || eZh.isNotNull) && (eHant.isNull || eHans.isNull) &&
        zh.isNotNull,
      // X6 (OMT:227-236): derive the missing forms
      coalesce(eHans, toHans(zh)),
      coalesce(eHant, toHant(zh)))
  }

  /** df(idCol, name, tags) → df(id, hans, hant): rows needing an update
    * with their derived Simplified/Traditional names.
    *
    * Mirrors `OMT:134-146` (projection+filter) and `OMT:196-245`
    * (per-row derivation) with the corrected `name:zh-Hant` key. */
  def zhEnrich(df: DataFrame, idCol: String = "id"): DataFrame =
    zhEnrichWith(df, idCol, zh_to_simplified, zh_to_traditional)

  /** [[zhEnrich]] with the two conversion functions injected. The default
    * instantiation is the ICU pipeline above; substituting identity for
    * both isolates everything EXCEPT conversion (the F2–F5 filters, X4
    * empty→null, X5 coalesce-guard, X6 conditional derive), which is the
    * DuckDB-expressible fragment — z05 oracle-checks this whole structure
    * so the unverified surface shrinks to the two ICU calls themselves
    * (SURVEY.md §5.1). */
  def zhEnrichWith(df: DataFrame, idCol: String,
                   toHans: Column => Column, toHant: Column => Column): DataFrame = {
    val d = derivation(toHans, toHant)
    df.filter(d.selected)
      .select(col(idCol).cast("long").as("id"), d.hans.as("hans"), d.hant.as("hant"))
  }

  /** Full reference pipeline for one table: each selected row with a
    * non-null long id gets its derived targets merged into its own `tags`
    * (right wins, matching PostgreSQL `||` — requires LAST_WIN dedup
    * policy). Every other column, the column order and the row count are
    * unchanged; a repeated id is just another row. */
  def enrichTable(df: DataFrame, idCol: String = "id"): DataFrame = {
    df.sparkSession.conf.set("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
    val d = derivation(zh_to_simplified, zh_to_traditional)
    df.withColumn("tags",
      when(d.selected && col(idCol).cast("long").isNotNull,
        map_concat(
          coalesce(col("tags"), map()),
          map(lit(HansKey), d.hans, lit(HantKey), d.hant)))
        .otherwise(col("tags")))
  }
}
