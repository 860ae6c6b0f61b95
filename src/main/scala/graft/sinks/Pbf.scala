package graft.sinks

import java.io.OutputStream
import java.util.zip.{Deflater, Inflater}
import graft.core.BBox

/** OSM PBF sink (the reference's pbfUtil delegates to the osmium C++
  * library; this is a from-scratch encoder of the public PBF format:
  * length-prefixed BlobHeader/Blob framing, zlib-compressed HeaderBlock and
  * PrimitiveBlocks, DenseNodes with delta-coded packed sint64, ways with
  * delta-coded refs and string-table tags). Content contract mirrors
  * /root/reference/tests/test_output.py:96-161 (decoded nodes/ways/tags,
  * header bbox, dense encoding efficiency). Granularity 100 => coordinate
  * unit = 1e-7 degree, same quantization as the o5m sink. */
object Pbf {

  /** Protobuf field writes over a ByteBuf (a value class: no wrapper is
    * allocated per call). */
  implicit final class ProtoOut(val b: ByteBuf) extends AnyVal {
    def key(field: Int, wire: Int): Unit = b.varint((field << 3 | wire).toLong)
    def int64(field: Int, v: Long): Unit = { key(field, 0); b.varint(v) }
    def sint64(field: Int, v: Long): Unit = { key(field, 0); b.signed(v) }
    def bytes(field: Int, v: Array[Byte]): Unit = { key(field, 2); b.varint(v.length.toLong); b.bytes(v) }
    def string(field: Int, s: String): Unit = bytes(field, s.getBytes("UTF-8"))
    /** A length-delimited field holding `msg` (a sub-message or a packed
      * repeated field). */
    def message(field: Int, msg: ByteBuf): Unit = { key(field, 2); b.varint(msg.size.toLong); b.append(msg) }
  }

  def unzlib(data: Array[Byte], rawSize: Int): Array[Byte] = {
    val inf = new Inflater()
    inf.setInput(data)
    val out = new Array[Byte](rawSize)
    var off = 0
    while (!inf.finished() && off < rawSize) off += inf.inflate(out, off, rawSize - off)
    inf.end()
    out
  }
}

final class PbfWriter(out: OutputStream, bbox: BBox, generator: String = "graft 0.1.0") {
  import Pbf._

  // one buffer per nesting level, reused for every message: a packed
  // field inside a dense-node or way message, inside a primitive group,
  // inside the block payload; then the deflated payload and the framing
  private val packed = new ByteBuf
  private val msg = new ByteBuf
  private val group = new ByteBuf(1 << 16)
  private val block = new ByteBuf(1 << 16)
  private val zipped = new ByteBuf(1 << 16)
  private val blobHead = new ByteBuf(16)
  private val header = new ByteBuf(32)
  // zlib level of osmium's writer; reset() per blob keeps the bytes of a
  // fresh Deflater without allocating one
  private val deflater = new Deflater(Deflater.DEFAULT_COMPRESSION)

  locally {
    msg.reset()
    msg.sint64(1, (bbox.minLon * 1e9).toLong) // left, nanodegrees
    msg.sint64(2, (bbox.maxLon * 1e9).toLong) // right
    msg.sint64(3, (bbox.maxLat * 1e9).toLong) // top
    msg.sint64(4, (bbox.minLat * 1e9).toLong) // bottom
    block.reset()
    block.message(1, msg)
    block.string(4, "OsmSchema-V0.6")
    block.string(4, "DenseNodes")
    block.string(16, generator)
    writeBlob("OSMHeader")
  }

  /** One framed blob of the payload in `block`: 4-byte BE BlobHeader
    * length, BlobHeader, Blob (raw_size + zlib_data). */
  private def writeBlob(blobType: String): Unit = {
    zipped.deflate(deflater, block)
    blobHead.reset()
    blobHead.int64(2, block.size.toLong) // raw_size
    blobHead.key(3, 2) // zlib_data, its bytes follow from `zipped`
    blobHead.varint(zipped.size.toLong)
    header.reset()
    header.string(1, blobType)
    header.int64(3, (blobHead.size + zipped.size).toLong) // datasize
    val n = header.size
    out.write(n >>> 24); out.write(n >>> 16); out.write(n >>> 8); out.write(n)
    header.writeTo(out)
    blobHead.writeTo(out)
    zipped.writeTo(out)
  }

  /** Packed sint64 field of the deltas of `vs(0 until n)`. */
  private def packedDeltas(field: Int, vs: Array[Long], n: Int): Unit = {
    packed.reset()
    var last = 0L
    var i = 0
    while (i < n) { packed.signed(vs(i) - last); last = vs(i); i += 1 }
    msg.message(field, packed)
  }

  /** Dense nodes: ids contiguous from startId, coords in 1e-7 degrees in
    * `lons`/`lats` (0 until n). */
  def writeDenseNodes(startId: Long, lons: Array[Long], lats: Array[Long], n: Int): Unit = {
    if (n == 0) return
    msg.reset()
    packed.reset()
    packed.signed(startId)
    var i = 1
    while (i < n) { packed.signed(1L); i += 1 }
    msg.message(1, packed)
    packedDeltas(8, lats, n)
    packedDeltas(9, lons, n)
    group.reset()
    group.message(2, msg)
    writePrimitiveBlock(Seq(""))
  }

  /** Ways with ele/contour tags via the block string table. */
  def writeWays(ways: Iterable[PreparedWay], startWayId: Long, classifier: Long => String): Unit = {
    // chunk ways into blocks of <=8000 entities (mirroring the dense-node
    // chunking): a single merged-output run can hold millions of ways, and
    // one unchunked PrimitiveBlock would blow the PBF spec's 16/32 MiB
    // uncompressed blob limit that osmium/osmosis readers enforce. Each
    // block carries its own string table.
    var wayId = startWayId
    val it = ways.iterator
    while (it.hasNext) {
      // string table: index 0 must be empty (dense keys_vals delimiter)
      val strings = scala.collection.mutable.LinkedHashMap[String, Int]("" -> 0)
      def sid(s: String): Int = strings.getOrElseUpdate(s, strings.size)
      val keys = Array(sid("ele"), sid("contour"), sid("contour_ext"))
      // the tag-value string ids of each elevation, added to the table in
      // the order the elevation's first way names them
      val valSids = scala.collection.mutable.LongMap.empty[Array[Int]]
      group.reset()
      var inBlock = 0
      while (inBlock < 8000 && it.hasNext) {
        val w = it.next()
        val vals = valSids.getOrElseUpdate(w.elevation,
          Array(sid(w.elevation.toString), sid("elevation"), sid(classifier(w.elevation))))
        msg.reset()
        msg.int64(1, wayId)
        packed.reset(); keys.foreach(k => packed.varint(k.toLong)); msg.message(2, packed)
        packed.reset(); vals.foreach(v => packed.varint(v.toLong)); msg.message(3, packed)
        packed.reset()
        var last = 0L
        var r = w.firstNodeId
        val end = w.firstNodeId + w.nbNodes
        while (r < end) { packed.signed(r - last); last = r; r += 1 }
        if (w.closed) packed.signed(w.firstNodeId - last)
        msg.message(8, packed)
        group.message(3, msg)
        wayId += 1
        inBlock += 1
      }
      writePrimitiveBlock(strings.keys)
    }
  }

  /** PrimitiveBlock of the group in `group` with its string table. */
  private def writePrimitiveBlock(strings: Iterable[String]): Unit = {
    msg.reset()
    strings.foreach(s => msg.bytes(1, s.getBytes("UTF-8")))
    block.reset()
    block.message(1, msg)
    block.message(2, group)
    block.int64(17, 100L) // granularity: 100 nanodeg = 1e-7 deg
    writeBlob("OSMData")
  }

  def done(): Unit = {
    deflater.end()
    out.close()
  }
}

/** Minimal PBF decoder for round-trip verification (plays the role of the
  * reference's osmium decode, tests/test_output.py:96-161). */
object PbfReader {
  import Pbf._

  final case class Decoded(
      bboxNano: Seq[Long], // left, right, top, bottom
      features: Seq[String],
      nodes: Seq[(Long, Long, Long)], // id, lon1e7, lat1e7
      ways: Seq[(Long, Seq[Long], Seq[(String, String)])])

  private final class ProtoIn(val buf: Array[Byte]) {
    var pos = 0
    def hasMore: Boolean = pos < buf.length
    def varint(): Long = {
      var shift = 0; var v = 0L; var b = 0L
      do { b = buf(pos) & 0xffL; v |= (b & 0x7f) << shift; shift += 7; pos += 1 } while ((b & 0x80) != 0)
      v
    }
    def zigzag(): Long = { val u = varint(); (u >>> 1) ^ -(u & 1) }
    def lenBytes(): Array[Byte] = {
      val n = varint().toInt
      val r = java.util.Arrays.copyOfRange(buf, pos, pos + n)
      pos += n
      r
    }
    def skip(wire: Int): Unit = wire match {
      case 0 => varint()
      case 2 => lenBytes()
      case 5 => pos += 4
      case 1 => pos += 8
      case w => throw new IllegalStateException(s"wire $w")
    }
  }

  def decode(file: Array[Byte]): Decoded = {
    var pos = 0
    var bbox: Seq[Long] = Nil
    val features = scala.collection.mutable.ArrayBuffer.empty[String]
    val nodes = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    val ways = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Long], Seq[(String, String)])]
    while (pos + 4 <= file.length) {
      val hlen = ((file(pos) & 0xff) << 24) | ((file(pos + 1) & 0xff) << 16) |
        ((file(pos + 2) & 0xff) << 8) | (file(pos + 3) & 0xff)
      pos += 4
      val header = new ProtoIn(java.util.Arrays.copyOfRange(file, pos, pos + hlen))
      pos += hlen
      var blobType = ""
      var datasize = 0
      while (header.hasMore) {
        val k = header.varint()
        (k >> 3).toInt match {
          case 1 => blobType = new String(header.lenBytes(), "UTF-8")
          case 3 => datasize = header.varint().toInt
          case _ => header.skip((k & 7).toInt)
        }
      }
      val blob = new ProtoIn(java.util.Arrays.copyOfRange(file, pos, pos + datasize))
      pos += datasize
      var payload: Array[Byte] = null
      var rawSize = -1
      var zdata: Array[Byte] = null
      while (blob.hasMore) {
        val k = blob.varint()
        (k >> 3).toInt match {
          case 1 => payload = blob.lenBytes()
          case 2 => rawSize = blob.varint().toInt
          case 3 => zdata = blob.lenBytes()
          case _ => blob.skip((k & 7).toInt)
        }
      }
      if (payload == null) payload = unzlib(zdata, rawSize)
      if (blobType == "OSMHeader") {
        val hb = new ProtoIn(payload)
        while (hb.hasMore) {
          val k = hb.varint()
          (k >> 3).toInt match {
            case 1 =>
              val bb = new ProtoIn(hb.lenBytes())
              val vals = scala.collection.mutable.ArrayBuffer.empty[Long]
              while (bb.hasMore) { val kk = bb.varint(); vals += bb.zigzag() }
              bbox = vals.toSeq
            case 4 => features += new String(hb.lenBytes(), "UTF-8")
            case _ => hb.skip((k & 7).toInt)
          }
        }
      } else {
        decodeData(payload, nodes, ways)
      }
    }
    Decoded(bbox, features.toSeq, nodes.toVector, ways.toVector)
  }

  private def decodeData(
      payload: Array[Byte],
      nodes: scala.collection.mutable.ArrayBuffer[(Long, Long, Long)],
      ways: scala.collection.mutable.ArrayBuffer[(Long, Seq[Long], Seq[(String, String)])]): Unit = {
    val block = new ProtoIn(payload)
    var granularity = 100L
    val strings = scala.collection.mutable.ArrayBuffer.empty[String]
    val groups = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    while (block.hasMore) {
      val k = block.varint()
      (k >> 3).toInt match {
        case 1 =>
          val st = new ProtoIn(block.lenBytes())
          while (st.hasMore) { val kk = st.varint(); strings += new String(st.lenBytes(), "UTF-8") }
        case 2 => groups += block.lenBytes()
        case 17 => granularity = block.varint()
        case _ => block.skip((k & 7).toInt)
      }
    }
    val scale = granularity / 100L // -> 1e-7 degree units
    groups.foreach { g =>
      val group = new ProtoIn(g)
      while (group.hasMore) {
        val k = group.varint()
        (k >> 3).toInt match {
          case 2 => // dense
            val dense = new ProtoIn(group.lenBytes())
            var ids = Array.emptyLongArray
            var lats = Array.emptyLongArray
            var lons = Array.emptyLongArray
            while (dense.hasMore) {
              val kk = dense.varint()
              (kk >> 3).toInt match {
                case 1 => ids = packed(dense.lenBytes(), signed = true)
                case 8 => lats = packed(dense.lenBytes(), signed = true)
                case 9 => lons = packed(dense.lenBytes(), signed = true)
                case _ => dense.skip((kk & 7).toInt)
              }
            }
            require(lats.length == ids.length && lons.length == ids.length,
              s"dense nodes: ${ids.length} ids, ${lats.length} lats, ${lons.length} lons")
            var id = 0L; var lat = 0L; var lon = 0L
            var i = 0
            while (i < ids.length) {
              id += ids(i); lat += lats(i); lon += lons(i)
              nodes += ((id, lon * scale, lat * scale))
              i += 1
            }
          case 3 => // way
            val way = new ProtoIn(group.lenBytes())
            var id = 0L
            var keys = Array.emptyLongArray
            var vals = Array.emptyLongArray
            var refs = Array.emptyLongArray
            while (way.hasMore) {
              val kk = way.varint()
              (kk >> 3).toInt match {
                case 1 => id = way.varint()
                case 2 => keys = packed(way.lenBytes(), signed = false)
                case 3 => vals = packed(way.lenBytes(), signed = false)
                case 8 =>
                  refs = packed(way.lenBytes(), signed = true)
                  var i = 1
                  while (i < refs.length) { refs(i) += refs(i - 1); i += 1 }
                case _ => way.skip((kk & 7).toInt)
              }
            }
            val tags = keys.toSeq.zip(vals).map { case (ki, vi) => (strings(ki.toInt), strings(vi.toInt)) }
            ways += ((id, scala.collection.immutable.ArraySeq.unsafeWrapArray(refs), tags))
          case _ => group.skip((k & 7).toInt)
        }
      }
    }
  }

  /** A packed repeated varint field, decoded into a primitive array (the
    * byte count with a clear high bit is the value count). */
  private def packed(b: Array[Byte], signed: Boolean): Array[Long] = {
    var n = 0
    b.foreach(x => if ((x & 0x80) == 0) n += 1)
    val in = new ProtoIn(b)
    val out = new Array[Long](n)
    var i = 0
    while (i < n) { out(i) = if (signed) in.zigzag() else in.varint(); i += 1 }
    out
  }
}
