package graft.functions

import com.ibm.icu.text.Transliterator
import org.apache.spark.sql.Column
import org.apache.spark.sql.{graftshim => shim}
import org.apache.spark.unsafe.types.UTF8String

/** Chinese-script scalar functions — the reference's three "UDFs"
  * (`OMTZHModifier.java:228,233,247-250`) re-expressed for Spark.
  *
  * The reference uses OpenCC (`com.github.houbb:opencc4j`, build.gradle:31)
  * for Simplified↔Traditional conversion; we use ICU4J's `Transliterator`
  * (ships with Spark's jars). Capability-equivalent, not byte-identical
  * (dictionaries differ slightly) — so these stay out of the DuckDB oracle
  * and are pinned by golden-file unit tests instead (SURVEY.md §5).
  *
  * Thread safety: ICU `Transliterator` instances are NOT thread-safe; one
  * instance per executor thread via `ThreadLocal` (SURVEY.md §7.5). The
  * enclosing object is a Scala module, so the expressions' generated code
  * captures no state — each executor JVM lazily builds its own
  * transliterators.
  */
object Zh {

  private val s2t: ThreadLocal[Transliterator] =
    ThreadLocal.withInitial(() => Transliterator.getInstance("Simplified-Traditional"))
  private val t2s: ThreadLocal[Transliterator] =
    ThreadLocal.withInitial(() => Transliterator.getInstance("Traditional-Simplified"))

  /** Traditional → Simplified (reference `ZhConverterUtil.toSimple`, OMT:228).
    *
    * Short-circuit: the Han transforms only rewrite Han codepoints, so a
    * cheap codepoint scan skips the (∼10,000× more expensive) ICU rule
    * engine for non-Han text — on a mixed-language 100 TB corpus the
    * common case is "nothing to convert". */
  def toSimplified(s: String): String =
    if (s == null) null else if (!hasHan(s)) s else t2s.get().transliterate(s)

  /** Simplified → Traditional (reference `ZhConverterUtil.toTraditional`, OMT:233). */
  def toTraditional(s: String): String =
    if (s == null) null else if (!hasHan(s)) s else s2t.get().transliterate(s)

  /** True iff any codepoint is of Unicode script HAN (reference
    * `isHanScript`, OMT:247-250 — same `Character.UnicodeScript` check). */
  def hasHan(s: String): Boolean =
    s != null && s.codePoints().anyMatch(cp =>
      Character.UnicodeScript.of(cp) == Character.UnicodeScript.HAN)

  // UTF8String bridges called from generated code (ZhExpressions.doGenCode).
  // A Scala object with no companion class emits static forwarders, so
  // `graft.functions.Zh.hasHanU(...)` is a plain static call in Java.
  def hasHanU(s: UTF8String): Boolean = s != null && hasHan(s.toString)
  def toSimplifiedU(s: UTF8String): UTF8String =
    if (s == null) null else {
      val str = s.toString
      if (!hasHan(str)) s else UTF8String.fromString(t2s.get().transliterate(str))
    }
  def toTraditionalU(s: UTF8String): UTF8String =
    if (s == null) null else {
      val str = s.toString
      if (!hasHan(str)) s else UTF8String.fromString(s2t.get().transliterate(str))
    }

  // Column-level API: native codegen'd Catalyst expressions (ZhExpressions).
  def zh_to_simplified(c: Column): Column =
    shim.column(ZhToSimplified(shim.expression(c)))
  def zh_to_traditional(c: Column): Column =
    shim.column(ZhToTraditional(shim.expression(c)))
  def contains_han(c: Column): Column =
    shim.column(ContainsHan(shim.expression(c)))
}
