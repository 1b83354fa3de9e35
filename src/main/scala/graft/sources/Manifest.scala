package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}

/** Append-only ingestion manifest (SURVEY S8/S13): one JSON object per
  * line per ingested file — the bookkeeping role of the reference's
  * `data/raw/manifest.json` (`scripts/download_tlc_range_s3.py:186-196`,
  * `check_manifest.py`). JSON-lines instead of a rewritten array so
  * appends are O(1) and crash-safe; driver-side I/O (this is pipeline
  * metadata, not data). */
object Manifest {

  final case class Entry(url: String, yearMonth: String, cabType: String,
                         downloaded: Boolean, sizeBytes: Long,
                         error: Option[String] = None,
                         rows: Option[Long] = None)

  private val json = new com.fasterxml.jackson.databind.ObjectMapper()

  def append(path: String, e: Entry): Unit = {
    val o = json.createObjectNode()
      .put("url", e.url).put("year_month", e.yearMonth).put("type", e.cabType)
      .put("downloaded", e.downloaded).put("size_bytes", e.sizeBytes)
    e.error.fold(o.putNull("error"))(o.put("error", _))
    e.rows.foreach(o.put("rows", _))
    val line = json.writeValueAsString(o) + "\n"
    Files.write(Paths.get(path), line.getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }

  def read(path: String): Seq[Entry] =
    if (!Files.exists(Paths.get(path))) Seq.empty
    else {
      import scala.jdk.CollectionConverters._
      Files.readAllLines(Paths.get(path)).asScala.toSeq.filter(_.nonEmpty).map { l =>
        val n = json.readTree(l)
        def opt(k: String) = Option(n.get(k)).filterNot(_.isNull)
        Entry(
          n.path("url").asText(""),
          n.path("year_month").asText(""),
          n.path("type").asText(""),
          n.path("downloaded").asBoolean(false),
          n.path("size_bytes").asLong(0L),
          opt("error").map(_.asText),
          opt("rows").map(_.asLong))
      }
    }

  /** `check_manifest.py`: count error entries. */
  def errorCount(path: String): Int = read(path).count(_.error.isDefined)
}
