package graft.sinks

/** Growable byte buffer with the varint writes both binary sinks frame
  * their messages in. A writer keeps one per nesting level and `reset()`s
  * it for every message, so encoding a node or a way allocates nothing;
  * unlike ByteArrayOutputStream it takes no lock per byte. */
final class ByteBuf(initial: Int = 256) {
  private var buf = new Array[Byte](initial)
  private var len = 0

  def size: Int = len
  def reset(): Unit = len = 0

  private def ensure(n: Int): Unit =
    if (len + n > buf.length) buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, len + n))

  def byte(b: Int): Unit = { ensure(1); buf(len) = b.toByte; len += 1 }
  def bytes(b: Array[Byte]): Unit = {
    ensure(b.length); System.arraycopy(b, 0, buf, len, b.length); len += b.length
  }
  def append(o: ByteBuf): Unit = {
    ensure(o.len); System.arraycopy(o.buf, 0, buf, len, o.len); len += o.len
  }

  /** Unsigned LEB128 (protobuf varint; o5m's unsigned number). */
  def varint(v0: Long): Unit = {
    ensure(10)
    var v = v0
    while ((v & ~0x7fL) != 0) { buf(len) = ((v & 0x7f) | 0x80).toByte; len += 1; v >>>= 7 }
    buf(len) = v.toByte
    len += 1
  }
  /** Zigzag signed varint: protobuf sint64, and o5m's signed number
    * (reference: -1 encodes as 1, 1 as 2). */
  def signed(v: Long): Unit = varint((v << 1) ^ (v >> 63))

  /** Replaces the content with `src` zlib-compressed by `d`, which is reset
    * first so one Deflater serves every blob of a writer. */
  def deflate(d: java.util.zip.Deflater, src: ByteBuf): Unit = {
    reset()
    d.reset()
    d.setInput(src.buf, 0, src.len)
    d.finish()
    while (!d.finished()) {
      ensure(8192)
      len += d.deflate(buf, len, buf.length - len)
    }
  }

  def writeTo(out: java.io.OutputStream): Unit = out.write(buf, 0, len)
  def toByteArray: Array[Byte] = java.util.Arrays.copyOf(buf, len)
}

/** o5m varint codecs (reference semantics: pyhgtmap/varint.py:1-38 —
  * unsigned LEB128 and the zigzag signed variant). */
object Varint {

  def unsigned(n: Long): Array[Byte] = { val o = new ByteBuf(10); o.varint(n); o.toByteArray }
  def signed(n: Long): Array[Byte] = { val o = new ByteBuf(10); o.signed(n); o.toByteArray }

  /** Reader over a byte array; returns (value, nextPos). */
  def readUnsigned(buf: Array[Byte], pos: Int): (Long, Int) = {
    var p = pos
    var shift = 0
    var v = 0L
    var b = 0L
    var more = true
    while (more) {
      b = buf(p) & 0xffL
      v |= (b & 0x7f) << shift
      shift += 7
      p += 1
      more = (b & 0x80) != 0
    }
    (v, p)
  }

  def readSigned(buf: Array[Byte], pos: Int): (Long, Int) = {
    val (u, p) = readUnsigned(buf, pos)
    val v = if ((u & 1) == 0) u >>> 1 else -((u >>> 1) + 1)
    (v, p)
  }
}
