package graft.operators

import org.apache.spark.sql.DataFrame
import graft.model.TableClassifier

/** The reference's whole program as one composed entry point
  * (`OMTZHModifier.java:19-82`: connect → discover tables → classify by
  * marker columns → enrich each qualifying table): given any registry
  * of tables, returns the registry with every enrichable table's `tags`
  * map carrying derived `name:zh-Hans`/`name:zh-Hant` keys and every
  * other table passed through untouched. A user of the reference swaps
  * their JDBC url for a table registry and runs this.
  *
  * Each table becomes one independent Spark job (derive and merge are
  * one narrow projection over one scan) — at 100 TB tables can run
  * concurrently, unlike the reference's strictly sequential single
  * connection (`OMT:79-80`).
  */
object ZhModifier {

  /** Enrich every qualifying table; pass through the rest. Returns the
    * new registry plus the classification report (enriched → idCol,
    * skipped names — the reference's two lists at `OMT:48-74`). */
  def enrichAll(tables: Map[String, DataFrame])
      : (Map[String, DataFrame], Map[String, String], Seq[String]) = {
    val (enrichable, skipped) = TableClassifier.classifyAll(tables)
    val out = tables.map { case (name, df) =>
      enrichable.get(name) match {
        case Some(idCol) => name -> ZhEnrich.enrichTable(df, idCol)
        case None => name -> df
      }
    }
    (out, enrichable, skipped)
  }
}
