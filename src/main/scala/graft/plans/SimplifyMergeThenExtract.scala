package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.internal.SQLConf

/** Merge-then-extract simplification (SURVEY.md §4, "optional nicety"):
  *
  *   element_at(map_concat(m1, …, map(k1, v1, k2, v2)), k_lit)  ⇒  v_i
  *
  * when `k_lit` provably matches a literal key of one of the concatenated
  * `CreateMap`s — including through the conditional-merge shape
  * `element_at(CASE WHEN selected THEN map_concat(…) ELSE tags END, k)`
  * that `ZhEnrich.enrichTable` produces, where the extraction distributes
  * into the branches. Chained enrichments (enrichTable → project the
  * merged keys back out, e.g. the z02 pipeline) otherwise build the
  * whole merged map per row only to extract two constant keys from it.
  *
  * Correctness guards:
  *  - only fires under `mapKeyDedupPolicy=LAST_WIN` (the engine default;
  *    under EXCEPTION the merge itself can throw, which we must preserve);
  *  - scans concat args right-to-left and each CreateMap's pairs
  *    right-to-left — the LAST_WIN winner;
  *  - a non-literal key or non-CreateMap arg to the RIGHT of a candidate
  *    match aborts the rewrite (it could shadow the match at runtime);
  *  - `map_concat` returns NULL if ANY argument is null, so the rewrite
  *    keeps an `If(isnull(arg) …, null, v)` guard over the nullable args;
  *  - a key proven absent is NOT rewritten (ANSI element_at on a missing
  *    map key errors; leave that behavior to the built-in).
  */
object SimplifyMergeThenExtract extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    // getConf returns the enum VALUE here, not its string form — compare
    // enum to enum (a string comparison silently never matches).
    if (conf.getConf(SQLConf.MAP_KEY_DEDUP_POLICY).toString !=
        SQLConf.MapKeyDedupPolicy.LAST_WIN.toString) plan
    else plan.transformAllExpressions {
      case ea: ElementAt => simplify(ea).getOrElse(ea)
    }

  private def simplify(ea: ElementAt): Option[Expression] = {
    val key = ea.right match {
      case l: Literal if l.value != null => l
      case _ => return None
    }
    if (ea.defaultValueOutOfBound.nonEmpty) return None
    ea.left match {
      case mc: MapConcat => rewrite(ea, mc, key)

      case cw: CaseWhen
          if cw.branches.exists(_._2.isInstanceOf[MapConcat]) ||
            cw.elseValue.exists(_.isInstanceOf[MapConcat]) =>
        val branches = cw.branches.map { case (c, v) => ext(ea, key, v).map(c -> _) }
        val orElse = cw.elseValue.map(ext(ea, key, _))
        if (branches.forall(_.isDefined) && orElse.forall(_.isDefined))
          Some(CaseWhen(branches.map(_.get), orElse.map(_.get)))
        else None

      case If(pred, tv, fv)
          if tv.isInstanceOf[MapConcat] || fv.isInstanceOf[MapConcat] =>
        for (t <- ext(ea, key, tv); f <- ext(ea, key, fv)) yield If(pred, t, f)

      case _ => None
    }
  }

  /** Extraction of `key` from one conditional branch: simplified if the
    * branch is a rewritable merge, a plain element_at otherwise. */
  private def ext(ea: ElementAt, key: Literal, v: Expression): Option[Expression] =
    v match {
      case mc: MapConcat => rewrite(ea, mc, key)
      case other => Some(ElementAt(other, key, None, ea.failOnError))
    }

  private def rewrite(ea: ElementAt, mc: MapConcat, key: Literal): Option[Expression] = {
    // right-to-left over concat args; within a CreateMap, right-to-left
    // over its (k, v) pairs — first hit is the LAST_WIN winner.
    var found: Option[Expression] = None
    val it = mc.children.reverseIterator
    while (found.isEmpty && it.hasNext) it.next() match {
      case cm: CreateMap =>
        val pairs = cm.children.grouped(2).toSeq.reverseIterator
        while (found.isEmpty && pairs.hasNext) {
          val Seq(k, v) = pairs.next()
          k match {
            case kl: Literal if kl.semanticEquals(key) => found = Some(v)
            case _: Literal => // literal, different key: keep scanning
            case _ => return None // unknown key could shadow any match
          }
        }
      case _ => return None // opaque map arg could shadow any match
    }
    found.map { v =>
      val vv = if (v.dataType == ea.dataType) v else Cast(v, ea.dataType)
      // map_concat is null if any arg is null — preserve that.
      val nullableArgs = mc.children.filter(_.nullable)
      if (nullableArgs.isEmpty) vv
      else If(nullableArgs.map(IsNull(_): Expression).reduce(Or),
        Literal(null, ea.dataType), vv)
    }
  }
}
