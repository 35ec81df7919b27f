package graft.perfbench

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom
import java.util.zip.{Deflater, GZIPOutputStream}

import scala.collection.mutable

/** A generated warehouse table: first column is the bigint primary key. */
final case class GTable(name: String, cols: Seq[(String, String)], volatile: Boolean) {
  def pk: String = cols.head._1
}

/** One generated dump: per table, its rows as headerless-TSV cells. */
final case class GDump(id: String, seq: Long, createdAt: String, schemaVersion: String,
    finished: Boolean, rows: Map[String, IndexedSeq[Array[String]]]) {
  def rowCount: Long = rows.values.map(_.size.toLong).sum
  def tsvBytes: Long = rows.values.iterator.flatten.map(Gen.tsvLine(_).length + 1L).sum
}

/**
 * Seeded generator of Canvas Data dumps. Every value is a pure function of
 * (seed, table, key, dump sequence), so the same seed yields byte-identical
 * dumps, and the expected keep-latest state is computed from the same rows
 * the fake portal serves.
 */
object Gen {

  val SchemaVersion = "3.4.0"
  val OldSchemaVersion = "3.3.0"

  /** The 12 Canvas column types the loader accepts. */
  val CanvasTypes: Seq[String] = Seq("bigint", "boolean", "double precision", "enum", "int",
    "integer", "text", "timestamp", "date", "varchar", "guid", "datetime")

  private val Words = Array("assignment", "quiz", "module", "course", "grade", "rubric",
    "student", "teacher", "section", "term", "page", "file", "discussion", "reply", "late",
    "missing", "excused", "points", "outcome", "group", "account", "canvas", "submission",
    "attempt", "score", "draft", "published", "weight", "due", "lock")
  private val Enums = Array("active", "deleted", "completed", "invited", "unpublished")

  def mix(a: Long, b: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def rng(parts: Long*): SplittableRandom = new SplittableRandom(parts.foldLeft(0x51A7L)(mix))

  private val epoch2015 = 1420070400L // 2015-01-01T00:00:00Z

  private def stamp(secs: Long): String =
    java.time.LocalDateTime.ofEpochSecond(secs, 0, java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))

  /** One TSV cell of `typ` (never a tab, newline, quote or backslash). */
  def cell(typ: String, r: SplittableRandom): String = typ match {
    case "bigint" => (r.nextLong(2000000000000L) - 1000000000000L).toString
    case "boolean" => if (r.nextBoolean()) "true" else "false"
    case "double precision" => java.lang.Double.toString(r.nextInt(1000000) / 100.0)
    case "enum" => Enums(r.nextInt(Enums.length))
    case "int" | "integer" => (r.nextInt(2000000) - 1000000).toString
    case "text" => Iterator.fill(3 + r.nextInt(10))(Words(r.nextInt(Words.length))).mkString(" ")
    case "varchar" => s"${Words(r.nextInt(Words.length))}_${r.nextInt(100000)}"
    case "guid" => new java.util.UUID(r.nextLong(), r.nextLong()).toString
    case "timestamp" | "datetime" => stamp(epoch2015 + r.nextLong(10L * 365 * 86400))
    case "date" => java.time.LocalDate.ofEpochDay(16436 + r.nextInt(3650)).toString
    case other => throw new IllegalArgumentException(s"not a Canvas type: $other")
  }

  /** The row of `t` for `key` as shipped in the dump with sequence `seq`. */
  def row(seed: Long, tableIdx: Int, t: GTable, key: Long, seq: Long, nullFrac: Double): Array[String] = {
    val r = rng(seed, tableIdx, key, seq)
    val out = new Array[String](t.cols.size)
    out(0) = key.toString
    var i = 1
    while (i < out.length) {
      out(i) = if (r.nextDouble() < nullFrac) "\\N" else cell(t.cols(i)._2, r)
      i += 1
    }
    out
  }

  def tsvLine(cells: Array[String]): String = cells.mkString("\t")

  def createdAt(seq: Long): String = stamp(epoch2015 + 9L * 365 * 86400 + seq * 3600).replace(' ', 'T') + "Z"

  /** Gzip at a fast level: the artifacts are rebuilt on every set-up. */
  def gz(lines: Iterator[String]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new GZIPOutputStream(bos, 1 << 16) { `def`.setLevel(Deflater.BEST_SPEED) }
    try lines.foreach { l => out.write(l.getBytes(UTF_8)); out.write('\n') } finally out.close()
    bos.toByteArray
  }

  def schemaJson(version: String, tables: Seq[GTable]): String = {
    val ts = tables.map { t =>
      val cols = t.cols.map { case (n, ty) => s"""{"name":"$n","type":"$ty"}""" }.mkString(",")
      val dw = if (t.name.endsWith("_fact")) "fact" else "dimension"
      s""""${t.name}":{"dw_type":"$dw","incremental":${!t.volatile},"tableName":"${t.name}","columns":[$cols]}"""
    }.mkString(",")
    s"""{"version":"$version","schema":{$ts}}"""
  }

  /** Expected warehouse state: keep-latest per key for incremental
    * tables, last shipped content for volatile ones. */
  final class Expected(tables: Seq[GTable]) {
    val rows: Map[String, mutable.LinkedHashMap[Long, Array[String]]] =
      tables.map(t => t.name -> mutable.LinkedHashMap.empty[Long, Array[String]]).toMap
    private val volatile = tables.filter(_.volatile).map(_.name).toSet

    def apply(d: GDump): Unit = d.rows.foreach { case (t, rs) =>
      val m = rows(t)
      if (volatile(t)) m.clear()
      rs.foreach(r => m(r(0).toLong) = r)
    }

    def checksum(t: String): Check.Sum = Check.sumOf(rows(t).valuesIterator.map(tsvLine))

    def tsvBytes: Long = rows.values.iterator.flatMap(_.valuesIterator).map(tsvLine(_).length + 1L).sum
  }

  /** A wide table over all 12 Canvas types plus a second text column. */
  def wideTable(name: String, pk: String): GTable =
    GTable(name, (pk -> "bigint") +: (CanvasTypes.zipWithIndex.map { case (ty, i) =>
      s"c${i}_${ty.replace(' ', '_')}" -> ty
    } :+ ("body" -> "text")), volatile = false)

  def narrowTable(name: String, pk: String, volatile: Boolean): GTable =
    GTable(name, Seq(pk -> "bigint", "name" -> "varchar", "workflow_state" -> "enum",
      "score" -> "double precision", "position" -> "int", "is_public" -> "boolean",
      "created_at" -> "timestamp", "due_date" -> "date", "uuid" -> "guid"), volatile)

  /** `n` distinct keys for a delta over a table whose keys are 1..maxKey:
    * `updateFrac` of them existing keys drawn uniformly, the rest new. */
  def deltaKeys(r: SplittableRandom, maxKey: Long, n: Int, updateFrac: Double): IndexedSeq[Long] = {
    val nUpd = math.min(maxKey, math.round(n * updateFrac)).toInt
    val upd = mutable.LinkedHashSet.empty[Long]
    while (upd.size < nUpd) upd += 1 + r.nextLong(maxKey)
    upd.toIndexedSeq ++ (1 to n - nUpd).map(maxKey + _)
  }
}

/** Order-independent table checksums. */
object Check {

  final case class Sum(count: Long, hash: Long) {
    def +(o: Sum): Sum = Sum(count + o.count, hash + o.hash)
    override def toString: String = f"$count%d rows/$hash%016x"
  }
  val Zero: Sum = Sum(0L, 0L)

  def lineHash(line: String): Long = {
    val h1 = scala.util.hashing.MurmurHash3.stringHash(line, 0x3c6ef372)
    val h2 = scala.util.hashing.MurmurHash3.stringHash(line, 0x1b873593)
    (h1.toLong << 32) ^ (h2.toLong & 0xffffffffL)
  }

  def sumOf(lines: Iterator[String]): Sum =
    lines.foldLeft(Zero)((s, l) => Sum(s.count + 1, s.hash + lineHash(l)))

  private val StampFmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  /** A typed value read back from the warehouse or the database, rendered
    * as the TSV cell it was loaded from. */
  def render(v: Any): String = v match {
    case null => "\\N"
    case d: java.lang.Double => java.lang.Double.toString(d)
    case t: java.sql.Timestamp => t.toLocalDateTime.format(StampFmt)
    case t: java.time.LocalDateTime => t.format(StampFmt)
    case t: java.time.Instant => java.time.LocalDateTime.ofInstant(t, java.time.ZoneOffset.UTC).format(StampFmt)
    case d: java.sql.Date => d.toLocalDate.toString
    case c: java.sql.Clob => c.getSubString(1, c.length().toInt)
    case other => other.toString
  }

  /** Checksum of a warehouse frame over `cols`, computed where the rows are. */
  def sumOfFrame(df: org.apache.spark.sql.DataFrame, cols: Seq[String]): Sum = {
    val parts = df.select(cols.map(org.apache.spark.sql.functions.col): _*).rdd
      .mapPartitions { it =>
        Iterator(sumOf(it.map(r => (0 until r.length).map(i => render(r.get(i))).mkString("\t"))))
      }.collect()
    parts.foldLeft(Zero)(_ + _)
  }

  /** Checksum of a database table over `cols`, read on one connection. */
  def sumOfJdbc(conn: java.sql.Connection, table: String, cols: Seq[String]): Sum = {
    val st = conn.createStatement()
    try {
      val rs = st.executeQuery(s"SELECT ${cols.map(c => "\"" + c + "\"").mkString(", ")} FROM \"$table\"")
      var s = Zero
      while (rs.next()) {
        val line = cols.indices.map(i => render(rs.getObject(i + 1))).mkString("\t")
        s = Sum(s.count + 1, s.hash + lineHash(line))
      }
      s
    } finally st.close()
  }
}
