package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import graft.api.Transport

import scala.jdk.CollectionConverters._

/**
 * In-process fake of the hosted-data portal behind [[graft.api.Transport]]:
 * the dump listing, the latest schema, the per-dump `byDump` manifest and
 * the gzipped headerless TSV artifacts. "Downloads" are copies of bytes
 * held in memory. Every request is logged with its timing and size so the
 * traced run can attribute API time from outside the loader.
 */
object Portal {
  /** A listed dump: its manifest entry, and its artifacts per table. */
  final case class Listed(id: String, seq: Long, createdAt: String, schemaVersion: String,
      finished: Boolean, artifacts: Map[String, Seq[(String, Array[Byte])]])

  /** One served request: URL, timing, body size, and whether it was an artifact. */
  final case class Req(url: String, startNs: Long, endNs: Long, bytes: Long, artifact: Boolean)
}

final class Portal(val base: String, schemaJson: String) extends Transport {
  import Portal._

  @volatile private var listing: Vector[Listed] = Vector.empty
  private val artifacts = new java.util.concurrent.ConcurrentHashMap[String, Array[Byte]]()
  val log = new ConcurrentLinkedQueue[Req]()

  /** Split a dump's tables into `filesPerTable` gz artifacts each. */
  def publish(d: GDump, filesPerTable: Int = 1): Listed = {
    val arts = d.rows.map { case (t, rs) =>
      val per = math.max(1, (rs.size + filesPerTable - 1) / filesPerTable)
      t -> rs.grouped(per).zipWithIndex.map { case (chunk, i) =>
        f"$t-$i%05d-${d.id}.gz" -> Gen.gz(chunk.iterator.map(Gen.tsvLine))
      }.toSeq
    }
    val l = Listed(d.id, d.seq, d.createdAt, d.schemaVersion, d.finished, arts)
    arts.foreach { case (_, fs) => fs.foreach { case (f, b) => artifacts.put(s"$base/files/${d.id}/$f", b) } }
    list(l)
    l
  }

  /** Add a manifest entry (a dump with no artifacts, or a re-delivery). */
  def list(l: Listed): Unit = synchronized { listing = listing :+ l }

  def listed: Vector[Listed] = listing

  def requestsSince(mark: Int): Seq[Req] = log.asScala.toSeq.drop(mark)
  def requestCount: Int = log.size()

  private def listingJson: String = listing.map { l =>
    s"""{"dumpId":"${l.id}","sequence":${l.seq},"accountId":"self","numFiles":${l.artifacts.values.map(_.size).sum},"finished":${l.finished},"expires":0,"updatedAt":"${l.createdAt}","createdAt":"${l.createdAt}","schemaVersion":"${l.schemaVersion}"}"""
  }.mkString("[", ",", "]")

  private def byDumpJson(l: Listed): String = {
    val arts = l.artifacts.map { case (t, fs) =>
      val files = fs.map { case (f, _) => s"""{"url":"$base/files/${l.id}/$f","filename":"$f"}""" }.mkString(",")
      s""""$t":{"tableName":"$t","partial":false,"files":[$files]}"""
    }.mkString(",")
    s"""{"accountId":"self","dumpId":"${l.id}","sequence":${l.seq},"schemaVersion":"${l.schemaVersion}","numFiles":${l.artifacts.values.map(_.size).sum},"finished":${l.finished},"expires":0,"createdAt":"${l.createdAt}","updatedAt":"${l.createdAt}","artifactsByTable":{$arts}}"""
  }

  private val ByDump = "/api/account/self/file/byDump/"

  override def get(url: String, headers: Map[String, String]): Array[Byte] = {
    val t0 = System.nanoTime()
    require(headers.contains("Authorization"), s"unsigned API request: $url")
    val path = url.stripPrefix(base)
    val body = path match {
      case "/api/account/self/dump" => listingJson
      case "/api/schema/latest" => schemaJson
      case p if p.startsWith(ByDump) =>
        val id = p.stripPrefix(ByDump)
        byDumpJson(listing.find(_.id == id).getOrElse(throw new java.io.IOException(s"GET $url -> HTTP 404")))
      case _ => throw new java.io.IOException(s"GET $url -> HTTP 404")
    }
    val bytes = body.getBytes(UTF_8)
    log.add(Req(url, t0, System.nanoTime(), bytes.length, artifact = false))
    bytes
  }

  override def download(url: String, headers: Map[String, String], dest: Path): Unit = {
    val t0 = System.nanoTime()
    val bytes = Option(artifacts.get(url)).getOrElse(throw new java.io.IOException(s"GET $url -> HTTP 404"))
    Files.write(dest, bytes)
    log.add(Req(url, t0, System.nanoTime(), bytes.length, artifact = true))
  }
}
