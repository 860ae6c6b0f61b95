package graft.sinks

import java.io.OutputStream
import graft.core.BBox

/** o5m sink, wire-compatible with the reference's writer
  * (/root/reference/pyhgtmap/output/o5mUtil.py:18-307): reset markers,
  * delta-coded ids/coords (coords = degrees x 1e7, truncated toward zero),
  * 15000-entry recent-string table, nodes chunked with a reset per chunk,
  * ways after all nodes. String-table lookups here are O(1)
  * (hash map + ring) where the reference linear-scans.
  */
object O5m {
  val Reset = 0xff
  val EndOfFile = 0xfe
  val NodeType = 0x10
  val WayType = 0x11
  val BBoxType = 0xdb
  val TimestampType = 0xdc
  val HeaderType = 0xe0
  val HundredNano = 10000000L

  def quantize(deg: Double): Long = (deg * HundredNano).toLong // int() truncation
}

final class O5mStringTable(maxRef: Int = 15000) {
  private val ring = new java.util.ArrayDeque[String]()
  // string -> insertion counter; boxed Long so absent keys are null (a
  // scala.Long value type would silently unbox null to 0)
  private val pos = new java.util.HashMap[String, java.lang.Long]()
  private var counter = 0L

  def reset(): Unit = { ring.clear(); pos.clear(); counter = 0L }

  /** Returns either the raw bytes (first sight / too long) or a varint
    * back-reference (1 = most recent). */
  def stringOrIndex(raw: Array[Byte]): Array[Byte] = {
    if (raw.length > 250) return raw
    val key = new String(raw, java.nio.charset.StandardCharsets.ISO_8859_1)
    val existing = pos.get(key)
    if (existing == null) {
      ring.addLast(key)
      pos.put(key, counter)
      counter += 1
      if (ring.size > maxRef) {
        val evicted = ring.removeFirst()
        pos.remove(evicted)
      }
      raw
    } else {
      Varint.unsigned(counter - existing.longValue())
    }
  }
}

final class O5mWriter(
    out: OutputStream,
    bbox: BBox,
    fileTimestamp: Long = 0L,
    writeTimestamp: Boolean = false) {

  private val table = new O5mStringTable()
  private var lastNodeId = 0L
  // reused buffers: one entity's payload, one way's refs, and framed
  // datasets on their way to `out` in pieces of about 64 KiB
  private val entity = new ByteBuf(64)
  private val refs = new ByteBuf(64)
  private val framed = new ByteBuf(1 << 17)

  private def writeReset(): Unit = {
    framed.byte(O5m.Reset)
    lastNodeId = 0L
    table.reset()
  }

  private def dataset(typ: Int, payload: ByteBuf): Unit = {
    framed.byte(typ)
    framed.varint(payload.size.toLong)
    framed.append(payload)
    if (framed.size >= (1 << 16)) flush()
  }

  private def flush(): Unit = { framed.writeTo(out); framed.reset() }

  // header: reset, o5m2 marker, file timestamp, bbox
  locally {
    writeReset()
    framed.byte(O5m.HeaderType)
    framed.varint(4L)
    framed.bytes("o5m2".getBytes("US-ASCII"))
    entity.reset()
    entity.signed(fileTimestamp)
    dataset(O5m.TimestampType, entity)
    entity.reset()
    Seq(bbox.minLon, bbox.minLat, bbox.maxLon, bbox.maxLat).foreach(d => entity.signed(O5m.quantize(d)))
    dataset(O5m.BBoxType, entity)
    flush()
  }

  /** \0 key \0 value \0 (U+0000 is one zero byte in UTF-8). */
  private def stringPair(a: String, b: String): Array[Byte] =
    ("\u0000" + a + "\u0000" + b + "\u0000").getBytes("UTF-8")

  private val emptyUser = Array[Byte](0, 0, 0)

  private def versionChunk(first: Boolean, o: ByteBuf): Unit = {
    o.varint(1L) // version
    if (first && writeTimestamp) o.signed(fileTimestamp)
    else o.signed(0L) // timestamp 0 => no more version info
    if (writeTimestamp) {
      o.signed(if (first) 1L else 0L) // changeset delta
      o.bytes(table.stringOrIndex(emptyUser)) // empty uid/user
    }
  }

  /** Nodes: coords (1e-7 degrees) in lons/lats(0 until n), contiguous ids
    * from startNodeId. Resets delta state first (the reference does per
    * 32000-node chunk). */
  def writeNodes(startNodeId: Long, lons: Array[Long], lats: Array[Long], n: Int): Unit = {
    if (n == 0) return
    writeReset()
    var lastLon = 0L
    var lastLat = 0L
    var i = 0
    while (i < n) {
      entity.reset()
      entity.signed(if (i == 0) startNodeId else 1L)
      versionChunk(i == 0, entity)
      entity.signed(lons(i) - lastLon)
      entity.signed(lats(i) - lastLat)
      dataset(O5m.NodeType, entity)
      lastLon = lons(i); lastLat = lats(i)
      i += 1
    }
    flush()
  }

  /** Ways after all nodes; refs delta-coded across ways. */
  def writeWays(ways: Iterable[PreparedWay], startWayId: Long,
      classifier: Long => String): Unit = {
    if (ways.isEmpty) return
    writeReset()
    var first = true
    ways.foreach { w =>
      entity.reset()
      entity.signed(if (first) startWayId else 1L)
      versionChunk(first, entity)
      refs.reset()
      refs.signed(w.firstNodeId - lastNodeId)
      var i = 1L
      while (i < w.nbNodes) { refs.signed(1L); i += 1 }
      if (w.closed) {
        refs.signed(-(w.nbNodes - 1))
        lastNodeId = w.firstNodeId
      } else lastNodeId = w.firstNodeId + w.nbNodes - 1
      entity.varint(refs.size.toLong)
      entity.append(refs)
      entity.bytes(table.stringOrIndex(stringPair("ele", w.elevation.toString)))
      entity.bytes(table.stringOrIndex(stringPair("contour", "elevation")))
      entity.bytes(table.stringOrIndex(stringPair("contour_ext", classifier(w.elevation))))
      dataset(O5m.WayType, entity)
      first = false
    }
    flush()
  }

  def done(): Unit = {
    out.write(O5m.EndOfFile)
    out.close()
  }
}

/** Minimal o5m reader for round-trip verification (plays the role of the
  * reference's osmium-based decode checks, tests/test_output.py:96-161). */
object O5mReader {
  final case class Decoded(
      bbox: Seq[Long],
      nodes: Seq[(Long, Long, Long)], // id, lon1e7, lat1e7
      ways: Seq[(Long, Seq[Long], Seq[(String, String)])])

  def decode(buf: Array[Byte]): Decoded = {
    var p = 0
    var lastNodeId = 0L
    var lastWayId = 0L
    var lastRef = 0L
    var lastLon = 0L
    var lastLat = 0L
    var lastTs = 0L
    var bbox: Seq[Long] = Nil
    val table = new scala.collection.mutable.ArrayBuffer[Array[Byte]]()
    val nodes = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    val ways = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Long], Seq[(String, String)])]

    def readStringPair(payload: Array[Byte], pos0: Int): ((String, String), Int) = {
      var pos = pos0
      if (payload(pos) == 0) {
        // inline pair: \0 key \0 value \0
        val start = pos
        pos += 1
        val kStart = pos
        while (payload(pos) != 0) pos += 1
        val k = new String(payload, kStart, pos - kStart, "UTF-8")
        pos += 1
        val vStart = pos
        while (payload(pos) != 0) pos += 1
        val v = new String(payload, vStart, pos - vStart, "UTF-8")
        pos += 1
        val raw = java.util.Arrays.copyOfRange(payload, start, pos)
        if (raw.length <= 250) table += raw
        ((k, v), pos)
      } else {
        val (ref, np) = Varint.readUnsigned(payload, pos)
        val raw = table(table.size - ref.toInt)
        // parse raw \0 key \0 value \0
        var q = 1
        val kStart = q
        while (raw(q) != 0) q += 1
        val k = new String(raw, kStart, q - kStart, "UTF-8")
        q += 1
        val vStart = q
        while (raw(q) != 0) q += 1
        val v = new String(raw, vStart, q - vStart, "UTF-8")
        ((k, v), np)
      }
    }

    def readVersion(payload: Array[Byte], pos0: Int): Int = {
      var pos = pos0
      val (version, p1) = Varint.readUnsigned(payload, pos)
      pos = p1
      if (version == 0) return pos
      // the wire carries a timestamp DELTA; author info follows whenever
      // the delta-decoded ABSOLUTE timestamp is non-zero (o5m spec). The
      // writer emits delta 0 on non-first entities after a non-zero first
      // timestamp, so gating on the raw delta would desync the stream.
      val (tsDelta, p2) = Varint.readSigned(payload, pos)
      pos = p2
      lastTs += tsDelta
      if (lastTs != 0) {
        val (_, p3) = Varint.readSigned(payload, pos) // changeset
        pos = p3
        // uid/user string pair (we only ever write the empty pair)
        if (payload(pos) == 0) {
          val start = pos
          pos += 3
          val raw = java.util.Arrays.copyOfRange(payload, start, pos)
          table += raw
        } else {
          val (_, np) = Varint.readUnsigned(payload, pos)
          pos = np
        }
      }
      pos
    }

    while (p < buf.length) {
      (buf(p) & 0xff) match {
        case O5m.Reset =>
          lastNodeId = 0; lastWayId = 0; lastRef = 0; lastLon = 0; lastLat = 0
          lastTs = 0
          table.clear()
          p += 1
        case O5m.EndOfFile => p = buf.length
        case typ =>
          val (len, p1) = Varint.readUnsigned(buf, p + 1)
          val payload = java.util.Arrays.copyOfRange(buf, p1, p1 + len.toInt)
          p = p1 + len.toInt
          typ match {
            case O5m.HeaderType => // "o5m2"
            case O5m.TimestampType => // file timestamp
            case O5m.BBoxType =>
              var q = 0
              val b = scala.collection.mutable.ArrayBuffer.empty[Long]
              while (q < payload.length) {
                val (v, nq) = Varint.readSigned(payload, q); b += v; q = nq
              }
              bbox = b.toSeq
            case O5m.NodeType =>
              val (idD, q1) = Varint.readSigned(payload, 0)
              lastNodeId += idD
              var q = readVersion(payload, q1)
              val (lonD, q2) = Varint.readSigned(payload, q)
              val (latD, q3) = Varint.readSigned(payload, q2)
              q = q3
              lastLon += lonD; lastLat += latD
              nodes += ((lastNodeId, lastLon, lastLat))
            case O5m.WayType =>
              val (idD, q1) = Varint.readSigned(payload, 0)
              lastWayId += idD
              var q = readVersion(payload, q1)
              val (refLen, q2) = Varint.readUnsigned(payload, q)
              q = q2
              val refEnd = q + refLen.toInt
              val refs = scala.collection.mutable.ArrayBuffer.empty[Long]
              while (q < refEnd) {
                val (d, nq) = Varint.readSigned(payload, q)
                lastRef += d
                refs += lastRef
                q = nq
              }
              val tags = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
              while (q < payload.length) {
                val (kv, nq) = readStringPair(payload, q)
                tags += kv
                q = nq
              }
              ways += ((lastWayId, refs.toSeq, tags.toSeq))
            case other => throw new IllegalStateException(s"unknown o5m dataset type 0x${other.toHexString}")
          }
      }
    }
    Decoded(bbox, nodes.toVector, ways.toVector)
  }
}
