package graftbench

import java.util.concurrent.atomic.AtomicLong

import graft.stac.StacFetch

/** What the in-memory object store serves: one body per URL, the URLs
  * that fail, and each URL's fixed GET delay. Held in a JVM-wide
  * object because `local[n]` tasks run in this JVM and the transport
  * itself must stay small enough to ship with every task.
  */
object Store {
  @volatile var bodies: Map[String, Array[Byte]] = Map.empty
  @volatile var errors: Set[String] = Set.empty
  @volatile var delayMs: Map[String, Long] = Map.empty
  val gets = new AtomicLong
  val opens = new AtomicLong
  /** Summed wall time of every get, so mean in-flight gets over an
    * interval is busy time / interval length.
    */
  val busyNs = new AtomicLong

  def get(url: String): Array[Byte] = {
    val t0 = System.nanoTime()
    gets.incrementAndGet()
    try {
      Thread.sleep(delayMs.getOrElse(url, 0L))
      if (errors(url)) throw new java.io.IOException(s"503 SlowDown: $url")
      bodies.getOrElse(url, throw new java.io.FileNotFoundException(url))
    } finally busyNs.addAndGet(System.nanoTime() - t0)
  }
}

/** The benchmark's `StacFetch.Transport`: every (scheme, netloc) opens
  * the same in-memory store. The delay sleeps on the program's own
  * fetch threads.
  */
final class StoreTransport extends StacFetch.Transport {
  def open(scheme: String, netloc: String): String => Array[Byte] = {
    Store.opens.incrementAndGet()
    url => Store.get(url)
  }
}

/** Object-store GET latency: log-normal with a 10 ms median and
  * sigma 1.0 (p90 ≈ 36 ms, p99 ≈ 102 ms), capped at 100 ms.
  */
object Latency {
  /** `n` delays from a fixed stream, so every run serves the same
    * distribution and only the seed decides which URL waits how long.
    */
  def sample(n: Int): Vector[Long] = {
    val rng = new scala.util.Random(0L)
    Vector.fill(n) {
      math.min(100L, math.max(1L, math.round(10.0 * math.exp(rng.nextGaussian()))))
    }
  }
}

/** STAC 1.0 item bodies built around `StacSynth`'s `item_json`: the
  * synthetic id, collection, integer-valued properties and grid cell
  * stay as they are, and the members a real HLS S30 item carries are
  * added — `type`, `stac_version`, `stac_extensions`, a GeoJSON
  * footprint `geometry` (the ~1° MGRS tile around the granule's
  * centroid), `bbox`, `links` and 20 assets.
  */
object ItemBody {
  private val Bands = Seq("B01", "B02", "B03", "B04", "B05", "B06", "B07",
    "B08", "B8A", "B09", "B10", "B11", "B12", "Fmask", "SAA", "SZA", "VAA", "VZA")

  def apply(url: String, itemJson: String, lon: Double, lat: Double): String = {
    val w = math.max(-180.0, lon - 0.5)
    val e = math.min(180.0, lon + 0.5)
    val s = math.max(-90.0, lat - 0.5)
    val n = math.min(90.0, lat + 0.5)
    val base = url.substring(0, url.lastIndexOf('/') + 1)
    val id = url.substring(url.lastIndexOf('/') + 1).stripSuffix("_stac.json")
    val assets = Bands.map { b =>
      s""""$b": {"href": "$base$id.$b.tif", "type": "image/tiff; application=geotiff; profile=cloud-optimized", "title": "$b", "roles": ["data"]}"""
    } ++ Seq(
      s""""thumbnail": {"href": "$base$id.jpg", "type": "image/jpeg", "title": "thumbnail", "roles": ["thumbnail"]}""",
      s""""metadata": {"href": "$base$id.cmr.xml", "type": "application/xml", "title": "metadata", "roles": ["metadata"]}""")
    // item_json ends with its "assets" member; replace it
    val head = itemJson.substring(1, itemJson.indexOf("\"assets\": "))
    s"""{"type": "Feature", "stac_version": "1.0.0", """ +
      s""""stac_extensions": ["https://stac-extensions.github.io/eo/v1.1.0/schema.json", "https://stac-extensions.github.io/view/v1.0.0/schema.json"], """ +
      head +
      s""""geometry": {"type": "Polygon", "coordinates": [[[$w, $s], [$e, $s], [$e, $n], [$w, $n], [$w, $s]]]}, """ +
      s""""bbox": [$w, $s, $e, $n], """ +
      s""""links": [{"rel": "self", "href": "$url", "type": "application/json"}, """ +
      s"""{"rel": "parent", "href": "$base", "type": "application/json"}, """ +
      s"""{"rel": "collection", "href": "${base}collection.json", "type": "application/json"}], """ +
      assets.mkString("\"assets\": {", ", ", "}}")
  }
}
