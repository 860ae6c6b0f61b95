package graft.sinks

import graft.core.BBox

/** Common per-tile sink contract: nodes streamed path-by-path, ways
  * buffered and written at finish (the reference's nodes-before-ways
  * ordering, pyhgtmap/output/__init__.py:83-106). */
trait TileSink {
  /** Write one path's nodes; returns (nextNodeId, prepared way). */
  def writePath(coords: Array[Double], startNodeId: Long, elevation: Long): (Long, PreparedWay)
  def finish(ways: Seq[PreparedWay], startWayId: Long, classifier: Long => String): Unit
}

object TileSink {
  val OsmXmlFormat = "osm"
  val OsmGzFormat = "osm.gz" // reference --gzip (output/factory.py:56-57)
  val O5mFormat = "o5m"
  val PbfFormat = "pbf"
  val XyzFormat = "xyz" // debug triples, reference HgtTile.plotData

  def fileName(bbox: BBox, key: String, format: String, prefix: String = ""): String = {
    // reference --output-prefix: "<prefix>_" before the lon/lat name
    // (output/factory.py:27)
    val pfx = if (prefix.isEmpty) "" else s"${prefix}_"
    val base = OsmXml.tileFileName(bbox.minLon, bbox.minLat, bbox.maxLon, bbox.maxLat,
      prefix = pfx, suffix = if (key.isEmpty) "" else s"_$key")
    format match {
      case OsmGzFormat => base + ".gz"
      case O5mFormat => base.stripSuffix(".osm") + ".o5m"
      case PbfFormat => base + ".pbf"
      case XyzFormat => base.stripSuffix(".osm") + ".xyz"
      case _ => base
    }
  }

  /** Sinks write through the Hadoop FileSystem API, so tile files land on
    * whatever shared FS the path's scheme names (local file://, HDFS, object
    * store) — executors on a real cluster need no shared POSIX mount. */
  def open(path: String, bbox: BBox, format: String,
      osmVersion: Double = 0.6, timestamp: Option[Long] = None): TileSink = {
    val raw = new java.io.BufferedOutputStream(graft.core.Fs.create(path), 1 << 20)
    // reference timestampString: ` timestamp="<utc iso>"` (osmUtil.py:59-62)
    // via naive datetime.isoformat() — NO trailing 'Z' (and seconds always
    // present), so format explicitly instead of Instant.toString
    // Locale.ROOT: the default locale may render non-Latin digits
    val isoNoZ = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd'T'HH:mm:ss", java.util.Locale.ROOT)
    val tsAttr = timestamp
      .map(t => s""" timestamp="${
        java.time.LocalDateTime.ofEpochSecond(t, 0, java.time.ZoneOffset.UTC).format(isoNoZ)}"""")
      .getOrElse("")
    // o5m wire: epoch 0 means "no timestamp" (the version chunk gates
    // author info on a non-zero delta-decoded timestamp), so Some(0)
    // must behave like None or writer and readers desync
    val o5mTs = timestamp.filter(_ != 0L)
    format match {
      case O5mFormat =>
        new O5mTileSink(raw, bbox, o5mTs.getOrElse(0L), o5mTs.isDefined)
      case PbfFormat => new PbfTileSink(raw, bbox)
      case OsmGzFormat =>
        // reference gzip level 9 via gzip.open(..., "wb") default
        // (output/osmUtil.py:42-51); syncFlush off, finish() on close
        val gz = new java.util.zip.GZIPOutputStream(raw, 1 << 16) {
          `def`.setLevel(java.util.zip.Deflater.BEST_COMPRESSION)
        }
        new OsmXmlTileSink(gz, bbox, osmVersion, tsAttr)
      case _ => new OsmXmlTileSink(raw, bbox, osmVersion, tsAttr)
    }
  }
}

/** Shared chunked-node state machine of the binary sinks (pbf/o5m):
  * paths append their quantized nodes to primitive `lons`/`lats` buffers;
  * a buffer past `chunkSize` flushes as one node block to the format
  * writer; ways write at finish. Closed paths drop their repeated last
  * point — the way will close by re-using the first id (same contract as
  * the XML writer). */
abstract class ChunkedNodeSink(chunkSize: Int) extends TileSink {
  /** One node block: ids contiguous from startId, coords (1e-7 degrees)
    * in lons/lats(0 until n). */
  protected def writeNodeChunk(startId: Long, lons: Array[Long], lats: Array[Long], n: Int): Unit
  protected def writeWaysAndClose(ways: Seq[PreparedWay], startWayId: Long, classifier: Long => String): Unit

  private var lons = new Array[Long](chunkSize + 1)
  private var lats = new Array[Long](chunkSize + 1)
  private var pending = 0
  private var chunkStartId = -1L
  private var nextId = -1L

  private def flushChunk(): Unit = if (pending > 0) {
    writeNodeChunk(chunkStartId, lons, lats, pending)
    pending = 0
    chunkStartId = nextId
  }

  final def writePath(coords: Array[Double], startNodeId: Long, elevation: Long): (Long, PreparedWay) = {
    if (chunkStartId < 0) { chunkStartId = startNodeId; nextId = startNodeId }
    val n = coords.length / 2
    val closed = n >= 2 && coords(0) == coords(2 * (n - 1)) && coords(1) == coords(2 * (n - 1) + 1)
    val emitted = if (closed) n - 1 else n
    // a chunk flushes only after the path that crosses chunkSize
    if (pending + emitted > lons.length) {
      val cap = math.max(lons.length * 2, pending + emitted)
      lons = java.util.Arrays.copyOf(lons, cap)
      lats = java.util.Arrays.copyOf(lats, cap)
    }
    var i = 0
    while (i < emitted) {
      lons(pending) = O5m.quantize(coords(2 * i))
      lats(pending) = O5m.quantize(coords(2 * i + 1))
      pending += 1
      i += 1
    }
    nextId += emitted
    if (pending > chunkSize) flushChunk()
    (nextId, PreparedWay(nextId - emitted, emitted.toLong, closed, elevation))
  }

  final def finish(ways: Seq[PreparedWay], startWayId: Long, classifier: Long => String): Unit = {
    flushChunk()
    writeWaysAndClose(ways, startWayId, classifier)
  }
}

/** PBF tile sink: dense-node blocks of <=8000 nodes (the reference chunks
  * via osmium the same way, pbfUtil.py:110-148), ways at finish. */
final class PbfTileSink(out: java.io.OutputStream, bbox: BBox) extends ChunkedNodeSink(8000) {
  private val w = new PbfWriter(out, bbox)
  protected def writeNodeChunk(startId: Long, lons: Array[Long], lats: Array[Long], n: Int): Unit =
    w.writeDenseNodes(startId, lons, lats, n)
  protected def writeWaysAndClose(ways: Seq[PreparedWay], startWayId: Long, classifier: Long => String): Unit = {
    w.writeWays(ways, startWayId, classifier)
    w.done()
  }
}

final class OsmXmlTileSink(out: java.io.OutputStream, bbox: BBox,
    osmVersion: Double = 0.6, tsAttr: String = "") extends TileSink {
  private val w = new OsmXmlWriter(
    out, OsmXml.boundsTag(bbox.minLon, bbox.minLat, bbox.maxLon, bbox.maxLat),
    osmVersion = osmVersion, nodeTimestampString = tsAttr, wayTimestampString = tsAttr)
  def writePath(coords: Array[Double], startNodeId: Long, elevation: Long): (Long, PreparedWay) =
    w.writePath(coords, startNodeId, elevation)
  def finish(ways: Seq[PreparedWay], startWayId: Long, classifier: Long => String): Unit = {
    w.writeWays(ways, startWayId)
    w.done(classifier)
  }
}

/** o5m tile sink: buffers quantized node coords into <=32000-node chunks
  * (reference o5mUtil writeNodes, :273-307). */
final class O5mTileSink(out: java.io.OutputStream, bbox: BBox,
    fileTimestamp: Long = 0L, writeTimestamp: Boolean = false) extends ChunkedNodeSink(32000) {
  private val w = new O5mWriter(out, bbox, fileTimestamp, writeTimestamp)
  protected def writeNodeChunk(startId: Long, lons: Array[Long], lats: Array[Long], n: Int): Unit =
    w.writeNodes(startId, lons, lats, n)
  protected def writeWaysAndClose(ways: Seq[PreparedWay], startWayId: Long, classifier: Long => String): Unit = {
    w.writeWays(ways, startWayId, classifier)
    w.done()
  }
}
