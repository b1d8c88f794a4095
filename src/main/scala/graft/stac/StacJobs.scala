package graft.stac

import java.time.LocalDate

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** The reference's job-message contract (handler.py:22-120): parse and
  * validate the JSON messages that drive cache-daily jobs. Mirrors the
  * reference's required/optional fields, defaults, and error wording,
  * so an operator can point their existing queue payloads at graft.
  *
  * Uses Jackson (already on the Spark classpath) — no extra deps.
  */
object StacJobs {

  final case class CacheDailyRequest(
      collection: HlsCollections.Collection,
      date: String, // YYYY-MM-DD, validated
      dest: Option[String],
      boundingBox: Option[(Double, Double, Double, Double)],
      protocol: String, // "s3" | "https", default "s3" (handler.py:104)
      skipExisting: Boolean) // default true (handler.py:109)

  /** Also serializes the JSON-array daily cache. */
  private[stac] val mapper = new ObjectMapper()

  /** Reference error wording for bad dates (handler.py). */
  def parseDate(s: String): LocalDate =
    try LocalDate.parse(s) catch {
      case _: Exception => throw new IllegalArgumentException(
        s"Invalid date format: $s. Expected ISO format (YYYY-MM-DD)")
    }

  /** The one validating constructor, for queue messages and the CLI
    * alike. Callers supply the defaults: `s3` for messages, `https` for
    * the CLI.
    */
  def cacheDailyRequest(
      collection: String,
      date: String,
      dest: Option[String],
      boundingBox: Option[Seq[Double]],
      protocol: String,
      skipExisting: Boolean): CacheDailyRequest = {
    val c = HlsCollections.byName(collection)
    val day = parseDate(date)
    val bbox = boundingBox.map {
      case Seq(w, s, e, n) => Validation.validateBbox(w, s, e, n); (w, s, e, n)
      case b => throw new IllegalArgumentException(
        s"Invalid bounding_box: expected 4 values, got ${b.size}")
    }
    if (protocol != "s3" && protocol != "https") {
      throw new IllegalArgumentException(
        s"Invalid protocol: $protocol. Must be 's3' or 'https'")
    }
    CacheDailyRequest(c, day.toString, dest, bbox, protocol, skipExisting)
  }

  def parseCacheDailyRequest(json: String): CacheDailyRequest = {
    val node = try mapper.readTree(json) catch {
      case e: Exception =>
        throw new IllegalArgumentException(s"Invalid JSON message: ${e.getMessage}")
    }
    def required(field: String): String =
      Option(node.get(field)).map(_.asText()).getOrElse(
        throw new IllegalArgumentException(
          s"Missing required parameter: '$field'"))
    cacheDailyRequest(
      required("collection"),
      required("date"),
      Option(node.get("dest")).map(_.asText()),
      Option(node.get("bounding_box"))
        .map(_.elements().asScala.map(_.asDouble()).toSeq),
      Option(node.get("protocol")).map(_.asText()).getOrElse("s3"),
      Option(node.get("skip_existing")).forall(_.asBoolean(true)))
  }
}
