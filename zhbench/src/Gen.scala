package zhbench

import java.sql.DriverManager
import java.util.SplittableRandom
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Deterministic OSM-shaped input generator.
  *
  * One call produces the rows of a named table from `(seed, table)`;
  * the same pair always yields the same rows. Each row carries the flat
  * `name, zh, hans, hant` columns an OpenMapTiles import holds in its
  * `tags` hstore, in these shares:
  *
  *  - 35 % Han names still missing a target (`hans`/`hant` null or
  *    empty, sometimes one of the two already set, sometimes `zh` too);
  *  - 5 % Latin or null names whose only Chinese is `name:zh`;
  *  - 5 % Han names already enriched (both targets set);
  *  - the rest Latin names, mixed Latin+Han names' Latin halves, nulls
  *    and empty strings, none of which needs an update.
  *
  * The known answer (rows an enrichment pass must update) is counted
  * here from the reference's selection rule, written independently of
  * the engine: a row is updated iff it has a Chinese source (non-empty
  * `zh`, or a name containing a Han codepoint) and a missing target
  * (null or empty `hans` or `hant`).
  */
object Gen {

  final case class Osm(id: Long, name: String, zh: String, hans: String, hant: String)

  final case class Table(name: String, rows: Array[Osm]) {
    lazy val toUpdate: Long = rows.count(needsUpdate).toLong
    /** rows whose two targets are both present before any update */
    lazy val complete: Long = rows.count(r => !blank(r.hans) && !blank(r.hant)).toLong
  }

  // Syllables chosen so most differ between the two scripts
  // (simplified / traditional pairs) and some are shared.
  private val Syllables: Array[String] = Array(
    "广", "廣", "东", "東", "门", "門", "国", "國", "华", "華", "龙", "龍",
    "马", "馬", "湾", "灣", "台", "臺", "发", "發", "头", "頭", "书", "書",
    "车", "車", "桥", "橋", "园", "園", "区", "區", "县", "縣", "镇", "鎮",
    "乡", "鄉", "山", "河", "路", "街", "市", "站", "海", "港", "北", "南",
    "京", "上", "中", "大", "新", "城", "湖", "江", "岛", "島", "阳", "陽")
  private val Suffixes: Array[String] = Array(
    "大街", "公园", "車站", "广场", "醫院", "学校", "機場", "码头", "寺", "廟")
  private val Latin: Array[String] = Array(
    "Main Street", "Springfield", "Riverside Park", "Central Station",
    "Harbour View", "Old Town", "Market Square", "Hill Road", "Lake Shore",
    "North Gate", "Église Saint-Pierre", "Café du Port", "Straße 12")

  def blank(s: String): Boolean = s == null || s.isEmpty

  def hasHan(s: String): Boolean =
    s != null && s.codePoints().anyMatch(cp =>
      Character.UnicodeScript.of(cp) == Character.UnicodeScript.HAN)

  def needsUpdate(r: Osm): Boolean =
    (!blank(r.zh) || hasHan(r.name)) && (blank(r.hans) || blank(r.hant))

  private def hanName(rnd: SplittableRandom): String = {
    val sb = new StringBuilder
    val n = 1 + rnd.nextInt(3)
    var i = 0
    while (i < n) { sb.append(Syllables(rnd.nextInt(Syllables.length))); i += 1 }
    if (rnd.nextInt(3) == 0) sb.append(Suffixes(rnd.nextInt(Suffixes.length)))
    sb.toString
  }

  private def latinName(rnd: SplittableRandom): String =
    Latin(rnd.nextInt(Latin.length)) + " " + rnd.nextInt(1000)

  /** null or empty string — both mean "missing" to the pipeline */
  private def missing(rnd: SplittableRandom): String =
    if (rnd.nextInt(5) == 0) "" else null

  /** Rows of one table; ids start at 1 and are dense. */
  def table(seed: Long, name: String, n: Int): Table = {
    val rnd = new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ name.hashCode.toLong)
    val rows = new Array[Osm](n)
    var i = 0
    while (i < n) {
      val id = (i + 1).toLong
      val p = rnd.nextInt(100)
      rows(i) =
        if (p < 35) { // Han name, at least one target missing
          val nm = hanName(rnd)
          val zh = if (rnd.nextInt(10) < 3) nm else null
          rnd.nextInt(10) match {
            case 0 => Osm(id, nm, zh, nm, missing(rnd))       // only hans set
            case 1 => Osm(id, nm, zh, missing(rnd), nm)       // only hant set
            case _ => Osm(id, nm, zh, missing(rnd), missing(rnd))
          }
        } else if (p < 40) { // only name:zh carries Chinese
          val nm = if (rnd.nextBoolean()) latinName(rnd) else null
          Osm(id, nm, hanName(rnd), missing(rnd), missing(rnd))
        } else if (p < 45) { // already enriched
          val nm = hanName(rnd)
          Osm(id, nm, null, nm + "s", nm + "t")
        } else if (p < 50) Osm(id, null, null, null, null)
        else if (p < 55) Osm(id, "", "", "", null)
        else if (p < 60) Osm(id, latinName(rnd), null, "x", null) // no Chinese source
        else Osm(id, latinName(rnd), null, null, null)
      i += 1
    }
    Table(name, rows)
  }

  // ---- Derby (flat columns; the benchmark assembles `tags` itself)

  def createDerby(url: String, t: Table): Unit = {
    val conn = DriverManager.getConnection(url)
    try {
      conn.setAutoCommit(false)
      val st = conn.createStatement()
      st.execute(s"""CREATE TABLE ${t.name} (
        id BIGINT PRIMARY KEY, name VARCHAR(96), zh VARCHAR(96),
        hans VARCHAR(96), hant VARCHAR(96))""")
      st.close()
      val ins = conn.prepareStatement(s"INSERT INTO ${t.name} VALUES (?, ?, ?, ?, ?)")
      var i = 0
      while (i < t.rows.length) {
        val r = t.rows(i)
        ins.setLong(1, r.id); ins.setString(2, r.name); ins.setString(3, r.zh)
        ins.setString(4, r.hans); ins.setString(5, r.hant)
        ins.addBatch()
        i += 1
        if (i % 5000 == 0) ins.executeBatch()
      }
      ins.executeBatch()
      conn.commit()
    } finally conn.close()
  }

  /** (hans, hant) by id, as stored in Derby now. */
  def readTargets(url: String, table: String): Map[Long, (String, String)] = {
    val conn = DriverManager.getConnection(url)
    try {
      val rs = conn.createStatement().executeQuery(s"SELECT id, hans, hant FROM $table")
      val b = Map.newBuilder[Long, (String, String)]
      while (rs.next()) b += rs.getLong(1) -> ((rs.getString(2), rs.getString(3)))
      b.result()
    } finally conn.close()
  }

  // ---- parquet registry (tags as a map, as a Spark-native import has it)

  val TagsType: MapType = MapType(StringType, StringType, valueContainsNull = true)

  private def tags(r: Osm): Map[String, String] = {
    val b = Map.newBuilder[String, String]
    if (r.zh != null) b += "name:zh" -> r.zh
    if (r.hans != null) b += "name:zh-Hans" -> r.hans
    if (r.hant != null) b += "name:zh-Hant" -> r.hant
    if (r.id % 7 == 0) b += "amenity" -> "cafe"
    b.result()
  }

  /** A table with `idCol, name, tags` (enrichable) or `osm_id, name,
    * area` (no tags: must pass through unchanged). */
  def frame(spark: SparkSession, t: Table, idCol: String, withTags: Boolean): DataFrame = {
    val schema =
      if (withTags) StructType(Seq(StructField(idCol, LongType, nullable = false),
        StructField("name", StringType), StructField("tags", TagsType)))
      else StructType(Seq(StructField(idCol, LongType, nullable = false),
        StructField("name", StringType), StructField("area", DoubleType)))
    val rows = t.rows.toSeq.map(r =>
      if (withTags) Row(r.id, r.name, tags(r)) else Row(r.id, r.name, r.id * 0.5))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
  }
}
