package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import java.util.zip.CRC32

import org.apache.hadoop.fs.{FileSystem, Path}

/** The PUBLIC Delta Lake deletion-vector format (PROTOCOL.md,
  * "Deletion Vectors" + "Deletion Vector Format"): row-level deletes as
  * a per-file bitmap of deleted row indexes, stored either inline in
  * the log or in `deletion_vector_<uuid>.bin` sidecar files. This
  * object is the codec — both directions, so the compat reader
  * ([[DeltaCompat]]) can APPLY DVs written by real Delta writers and
  * the test fixtures can WRITE spec-shaped DVs without a Delta library.
  *
  * Layout replayed here, from the open spec:
  *  - the descriptor in an `add` action: `storageType` (`u` = relative
  *    sidecar addressed by a Z85-encoded UUID, `i` = inline Z85 bytes,
  *    `p` = absolute path), `pathOrInlineDv`, `offset`, `sizeInBytes`,
  *    `cardinality`;
  *  - the sidecar file: version byte `1`, then per DV at `offset`: a
  *    4-byte BIG-endian data size, the bitmap bytes, and a 4-byte
  *    BIG-endian CRC-32 of those bytes;
  *  - the bitmap bytes: the 64-bit RoaringBitmapArray "portable"
  *    serialization — magic `1681511377` (4-byte little-endian), an
  *    8-byte little-endian bitmap count, then per 32-bit sub-bitmap its
  *    4-byte little-endian key followed by the STANDARD 32-bit roaring
  *    portable format (the published RoaringFormatSpec: cookie 12346 /
  *    12347, descriptive headers, array / bitmap / run containers).
  *
  * Scale posture: a DV is bounded by the rows of ONE parquet file
  * (the spec ties each DV to a single add), so parsing is a few KB-MB
  * of driver-side metadata per deleted file — the data plane never
  * sees the bitmaps, only an anti-join on (file, row_index).
  */
object DeletionVectors {

  /** A parsed `add.deletionVector` descriptor. */
  final case class Descriptor(
      storageType: String,
      pathOrInlineDv: String,
      offset: Option[Int],
      sizeInBytes: Int,
      cardinality: Long)

  // ---------------------------------------------------------------
  // Z85 (the ZeroMQ base-85 alphabet Delta uses for DV UUIDs/inline)
  // ---------------------------------------------------------------

  private val Z85Alphabet =
    "0123456789abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ" +
      ".-:+=^!/*?&<>()[]{}@%$#"
  private val Z85Decode: Array[Int] = {
    val t = Array.fill(128)(-1)
    Z85Alphabet.zipWithIndex.foreach { case (c, i) => t(c.toInt) = i }
    t
  }

  /** Z85-encode; input length must be a multiple of 4 (5 chars / 4 B). */
  def z85Encode(bytes: Array[Byte]): String = {
    require(bytes.length % 4 == 0, s"Z85 needs 4-byte groups, got ${bytes.length}")
    val sb = new StringBuilder(bytes.length / 4 * 5)
    var i = 0
    while (i < bytes.length) {
      var v = 0L
      var j = 0
      while (j < 4) { v = (v << 8) | (bytes(i + j) & 0xffL); j += 1 }
      var div = 85L * 85 * 85 * 85
      while (div >= 1) {
        sb.append(Z85Alphabet(((v / div) % 85).toInt))
        div /= 85
      }
      i += 4
    }
    sb.toString
  }

  /** Z85-decode; input length must be a multiple of 5. */
  def z85Decode(s: String): Array[Byte] = {
    require(s.length % 5 == 0, s"Z85 needs 5-char groups, got ${s.length}")
    val out = new Array[Byte](s.length / 5 * 4)
    var i = 0
    var o = 0
    while (i < s.length) {
      var v = 0L
      var j = 0
      while (j < 5) {
        val c = s.charAt(i + j)
        val d = if (c < 128) Z85Decode(c.toInt) else -1
        require(d >= 0, s"invalid Z85 character '$c' in '$s'")
        v = v * 85 + d
        j += 1
      }
      out(o) = ((v >>> 24) & 0xff).toByte
      out(o + 1) = ((v >>> 16) & 0xff).toByte
      out(o + 2) = ((v >>> 8) & 0xff).toByte
      out(o + 3) = (v & 0xff).toByte
      i += 5
      o += 4
    }
    out
  }

  private def uuidToBytes(u: java.util.UUID): Array[Byte] = {
    val bb = ByteBuffer.allocate(16)
    bb.putLong(u.getMostSignificantBits)
    bb.putLong(u.getLeastSignificantBits)
    bb.array()
  }

  private def bytesToUuid(b: Array[Byte]): java.util.UUID = {
    val bb = ByteBuffer.wrap(b)
    new java.util.UUID(bb.getLong, bb.getLong)
  }

  /** The sidecar path for a `u`-typed descriptor: pathOrInlineDv is
    * `<optional random prefix><20-char Z85 UUID>`; the file lives at
    * `<table>/<prefix>/deletion_vector_<canonical uuid>.bin`. */
  def sidecarPath(tableDir: String, d: Descriptor): Path = {
    require(d.storageType == "u", s"not a relative DV: ${d.storageType}")
    val enc = d.pathOrInlineDv
    require(enc.length >= 20, s"DV pathOrInlineDv too short: '$enc'")
    val prefix = enc.dropRight(20)
    val uuid = bytesToUuid(z85Decode(enc.takeRight(20)))
    val name = s"deletion_vector_$uuid.bin"
    if (prefix.isEmpty) new Path(tableDir, name)
    else new Path(new Path(tableDir, prefix), name)
  }

  // ---------------------------------------------------------------
  // RoaringBitmapArray portable serialization (64-bit positions)
  // ---------------------------------------------------------------

  private val MagicNumber = 1681511377
  private val NoRunCookie = 12346
  private val RunCookie = 12347

  /** Parse the portable RoaringBitmapArray bytes into sorted deleted
    * row indexes. Handles all three 32-bit container kinds (array /
    * bitmap / run) so bitmaps written by real roaring encoders load. */
  def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val magic = bb.getInt
    require(magic == MagicNumber,
      s"not a portable RoaringBitmapArray (magic $magic != $MagicNumber)")
    val nBitmaps = bb.getLong
    require(nBitmaps >= 0 && nBitmaps <= Int.MaxValue, s"bad bitmap count $nBitmaps")
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    var b = 0L
    while (b < nBitmaps) {
      val key = bb.getInt.toLong & 0xffffffffL
      readRoaring32(bb, v => out += (key << 32) | (v.toLong & 0xffffffffL))
      b += 1
    }
    out.toArray
  }

  /** One 32-bit roaring bitmap in the standard portable format,
    * emitting each contained value ascending. */
  private def readRoaring32(bb: ByteBuffer, emit: Int => Unit): Unit = {
    val cookie = bb.getInt
    val hasRuns = (cookie & 0xffff) == RunCookie
    val size =
      if (hasRuns) (cookie >>> 16) + 1
      else {
        require(cookie == NoRunCookie, s"bad roaring cookie $cookie")
        bb.getInt
      }
    val runBitset =
      if (hasRuns) { val a = new Array[Byte]((size + 7) / 8); bb.get(a); a }
      else Array.emptyByteArray
    val keys = new Array[Int](size)
    val cards = new Array[Int](size)
    var i = 0
    while (i < size) {
      keys(i) = bb.getShort & 0xffff
      cards(i) = (bb.getShort & 0xffff) + 1
      i += 1
    }
    // the offset header exists without runs, or with runs at size >= 4;
    // containers are read sequentially so it is skipped either way
    if (!hasRuns || size >= 4) bb.position(bb.position() + 4 * size)
    i = 0
    while (i < size) {
      val hi = keys(i) << 16
      val isRun = hasRuns && ((runBitset(i / 8) >> (i % 8)) & 1) == 1
      if (isRun) {
        val nRuns = bb.getShort & 0xffff
        var r = 0
        while (r < nRuns) {
          val start = bb.getShort & 0xffff
          val len = bb.getShort & 0xffff
          var v = start
          while (v <= start + len) { emit(hi | v); v += 1 }
          r += 1
        }
      } else if (cards(i) <= 4096) {
        var j = 0
        while (j < cards(i)) { emit(hi | (bb.getShort & 0xffff)); j += 1 }
      } else {
        var w = 0
        while (w < 1024) {
          val word = bb.getLong
          var bit = 0
          while (bit < 64) {
            if ((word >>> bit & 1L) == 1L) emit(hi | (w * 64 + bit))
            bit += 1
          }
          w += 1
        }
      }
      i += 1
    }
  }

  /** Serialize sorted-or-not row indexes to the portable
    * RoaringBitmapArray format (array containers up to 4096 values,
    * bitmap containers above — the standard thresholds). */
  def serialize(positions: Array[Long]): Array[Byte] = {
    val sorted = positions.distinct.sorted
    sorted.foreach(p => require(p >= 0, s"negative row index $p"))
    val byHigh = sorted.groupBy(_ >>> 32).toSeq.sortBy(_._1)
    val body = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(body)
    def putIntLE(v: Int): Unit = {
      out.write(v & 0xff); out.write((v >> 8) & 0xff)
      out.write((v >> 16) & 0xff); out.write((v >> 24) & 0xff)
    }
    def putShortLE(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    def putLongLE(v: Long): Unit = { putIntLE(v.toInt); putIntLE((v >>> 32).toInt) }
    putIntLE(MagicNumber)
    putLongLE(byHigh.size.toLong)
    byHigh.foreach { case (key, vals) =>
      putIntLE(key.toInt)
      val lows = vals.map(v => (v & 0xffffffffL).toInt)
      val containers = lows.groupBy(v => v >>> 16).toSeq.sortBy(_._1)
      putIntLE(NoRunCookie)
      putIntLE(containers.size)
      containers.foreach { case (hi, cs) =>
        putShortLE(hi)
        putShortLE(cs.length - 1)
      }
      // offset header: byte offsets of each container from the cookie
      var off = 4 + 4 + 4 * containers.size + 4 * containers.size
      containers.foreach { case (_, cs) =>
        putIntLE(off)
        off += (if (cs.length <= 4096) 2 * cs.length else 8192)
      }
      containers.foreach { case (_, cs) =>
        if (cs.length <= 4096) cs.foreach(v => putShortLE(v & 0xffff))
        else {
          val words = new Array[Long](1024)
          cs.foreach { v =>
            val low16 = v & 0xffff
            words(low16 >>> 6) |= 1L << (low16 & 63)
          }
          words.foreach(putLongLE)
        }
      }
    }
    out.flush()
    body.toByteArray
  }

  // ---------------------------------------------------------------
  // Sidecar file I/O
  // ---------------------------------------------------------------

  /** Read + verify the bitmap bytes a descriptor points at, returning
    * the deleted row indexes. Inline (`i`) descriptors decode from the
    * log itself; relative (`u`) ones read the sidecar at `offset` and
    * check the CRC-32; absolute (`p`) paths are refused like absolute
    * `add` paths (external files are out of this reader's scope). Every
    * read checks the position count against the declared cardinality. */
  def readDeleted(fs: FileSystem, tableDir: String, d: Descriptor): Array[Long] = {
    val positions = d.storageType match {
      case "i" => deserialize(z85Decode(d.pathOrInlineDv))
      case "u" =>
        val p = sidecarPath(tableDir, d)
        require(fs.exists(p), s"deletion vector sidecar $p is missing")
        val in = fs.open(p)
        try {
          val version = in.readByte()
          require(version == 1, s"unsupported DV file version $version at $p")
          val off = d.offset.getOrElse(
            throw new IllegalArgumentException(s"on-disk DV needs an offset: $d"))
          in.seek(off.toLong)
          val dataSize = in.readInt() // big-endian per spec
          require(dataSize == d.sizeInBytes,
            s"DV at $p#$off declares $dataSize bytes, descriptor says ${d.sizeInBytes}")
          val data = new Array[Byte](dataSize)
          in.readFully(data)
          val expected = in.readInt()
          val crc = new CRC32()
          crc.update(data)
          require(crc.getValue.toInt == expected,
            s"DV checksum mismatch at $p#$off")
          deserialize(data)
        } finally in.close()
      case "p" => throw new IllegalArgumentException(
        s"absolute-path deletion vector '${d.pathOrInlineDv}' (external " +
          "file) is out of scope for this compat reader")
      case other => throw new IllegalArgumentException(
        s"unknown deletion-vector storageType '$other'")
    }
    require(positions.length.toLong == d.cardinality,
      s"deletion vector ${d.pathOrInlineDv} declares cardinality " +
        s"${d.cardinality} but holds ${positions.length} positions")
    positions
  }

  /** Fixture/export writer: serialize `positions`, write a fresh
    * one-DV sidecar under `tableDir`, and return the descriptor to
    * embed in the `add` action. */
  def writeSidecar(fs: FileSystem, tableDir: String,
      positions: Array[Long]): Descriptor = {
    val data = serialize(positions)
    val uuid = java.util.UUID.randomUUID()
    val enc = z85Encode(uuidToBytes(uuid))
    val p = new Path(tableDir, s"deletion_vector_$uuid.bin")
    val out = fs.create(p, true)
    try {
      out.writeByte(1) // format version
      val offset = 1
      out.writeInt(data.length) // big-endian
      out.write(data)
      val crc = new CRC32()
      crc.update(data)
      out.writeInt(crc.getValue.toInt) // big-endian
      Descriptor("u", enc, Some(offset), data.length,
        positions.distinct.length.toLong)
    } finally out.close()
  }

  /** Fixture writer: an INLINE descriptor (small DVs ride in the log). */
  def inlineDescriptor(positions: Array[Long]): Descriptor = {
    var data = serialize(positions)
    if (data.length % 4 != 0)
      data = data ++ new Array[Byte](4 - data.length % 4) // Z85 pads to 4B
    Descriptor("i", z85Encode(data), None, data.length,
      positions.distinct.length.toLong)
  }
}
