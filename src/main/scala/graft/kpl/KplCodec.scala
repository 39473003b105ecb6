package graft.kpl

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

/** KPL (Kinesis Producer Library) aggregated-record codec.
  *
  * Wire format (reference: /root/reference/consumer/consumer.go:22,169-191 and
  * /root/reference/aggregated/aggregated.proto:1-20):
  *
  * {{{
  *   magic 0xF3 0x89 0x9A 0xC2  |  proto2 AggregatedRecord body  |  MD5(body)
  * }}}
  *
  * proto2 schema (aggregated.proto:4-20):
  * {{{
  *   message AggregatedRecord {
  *     repeated string partition_key_table     = 1;
  *     repeated string explicit_hash_key_table = 2;
  *     repeated Record records                 = 3; }
  *   message Record {
  *     required uint64 partition_key_index     = 1;
  *     optional uint64 explicit_hash_key_index = 2;
  *     required bytes  data                    = 3;
  *     repeated Tag    tags                    = 4; }
  *   message Tag { required string key = 1; optional string value = 2; }
  * }}}
  *
  * No protobuf runtime exists in /opt/spark/jars (and spark-protobuf cannot
  * handle proto2 `required` anyway), so this is a hand-rolled byte-level
  * codec. Pure JVM, no Spark types — callable from UDFs, Expressions and
  * plain unit tests alike.
  *
  *  - Decode is ONE pass over the frame bytes ([[parse]]), linear in the
  *    frame size: it copies nothing and reports fields as offsets into the
  *    frame to a [[Visitor]]. [[children]] is the consume path's view
  *    (key-table offsets plus one (key index, data range) per child, the
  *    key indexes range-checked once after the pass), [[deaggregate]] its
  *    Scala-typed form and [[decodeBody]] the full-message view.
  *  - Encode sizes every field up front and writes the framed record into
  *    one array, the MD5 trailer digested in place over the body region.
  */
object KplCodec {

  val Magic: Array[Byte] = Array(0xF3, 0x89, 0x9A, 0xC2).map(_.toByte)
  private val Md5Size = 16

  final case class Tag(key: String, value: Option[String])
  final case class SubRecord(
      partitionKeyIndex: Long,
      explicitHashKeyIndex: Option[Long],
      data: Array[Byte],
      tags: Seq[Tag])
  final case class AggregatedRecord(
      partitionKeyTable: Seq[String],
      explicitHashKeyTable: Seq[String],
      records: Seq[SubRecord])

  /** Magic-prefix detect — consumer.go:169-171. */
  def isAggregated(data: Array[Byte]): Boolean =
    data != null && data.length >= Magic.length &&
      Magic.indices.forall(i => data(i) == Magic(i))

  private val md5Tl: ThreadLocal[MessageDigest] = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  /** MD5-trailer VERIFICATION — the optional C4 extension (SURVEY §2 C4):
    * the reference strips the trailer without ever checking it
    * (consumer.go:174), and [[deaggregate]] keeps that parity; this
    * predicate is the strict-mode flag a pipeline can filter or alert on.
    * True iff `data` is a well-formed KPL frame (magic prefix + room for a
    * 16-byte trailer) whose body MD5 equals the trailer; false for
    * anything else — a total predicate, so the codegen'd expression stays
    * a primitive boolean with no null branch of its own.
    */
  def md5Ok(data: Array[Byte]): Boolean =
    isAggregated(data) && data.length >= Magic.length + Md5Size && {
      val md = md5Tl.get()
      md.reset()
      md.update(data, Magic.length, data.length - Magic.length - Md5Size)
      java.util.Arrays.equals(md.digest(), 0, Md5Size,
        data, data.length - Md5Size, data.length)
    }

  // ------------------------------------------------------------------ decode

  /** Mutable cursor over `buf[pos, end)`; any structural violation throws,
    * and [[parse]] turns that into a dropped frame (mirrors
    * proto.Unmarshal's all-or-nothing error at consumer.go:177-179).
    */
  private final class Reader(buf: Array[Byte], var pos: Int, var end: Int) {
    def hasRemaining: Boolean = pos < end
    def fail(msg: String): Nothing = throw new IllegalArgumentException(msg)

    def readVarint(): Long = {
      var shift = 0; var result = 0L
      while (shift < 64) {
        if (pos >= end) fail("truncated varint")
        val b = buf(pos); pos += 1
        result |= (b & 0x7FL) << shift
        if ((b & 0x80) == 0) return result
        shift += 7
      }
      fail("varint too long")
    }

    /** Length of the length-delimited field at the cursor; its bytes
      * start at `pos` afterwards.
      */
    def readLength(): Int = {
      val len = readVarint()
      if (len < 0 || len > end - pos) fail("truncated length-delimited field")
      len.toInt
    }

    /** Skip an unknown field of the given wire type (proto2 skips unknowns). */
    def skip(wireType: Int): Unit = wireType match {
      case 0 => readVarint()
      case 1 => if (end - pos < 8) fail("truncated fixed64") else pos += 8
      case 2 => val len = readLength(); pos += len // not `pos += readLength()`: that reads pos first
      case 5 => if (end - pos < 4) fail("truncated fixed32") else pos += 4
      case _ => fail(s"unsupported wire type $wireType")
    }
  }

  /** What one [[parse]] pass reports, in wire order, as offsets into the
    * parsed bytes. A record's tags are reported before the record itself.
    */
  sealed abstract class Visitor {
    private[kpl] def partitionKey(off: Int, len: Int): Unit
    private[kpl] def explicitHashKey(off: Int, len: Int): Unit = ()
    /** `valueOff` < 0: the tag has no value. */
    private[kpl] def tag(keyOff: Int, keyLen: Int, valueOff: Int, valueLen: Int): Unit = ()
    private[kpl] def record(partitionKeyIndex: Long, explicitHashKeyIndex: Long,
        hasExplicitHashKey: Boolean, dataOff: Int, dataLen: Int): Unit
  }

  /** Parses the AggregatedRecord body `buf[from, until)` in one pass,
    * reporting to `v`. False on any structural error — a truncated varint
    * or length, an unsupported wire type, a Record without
    * `partition_key_index` or `data`, a Tag without `key` — after which
    * the caller drops the whole frame. Unknown fields are skipped.
    */
  private def parse(buf: Array[Byte], from: Int, until: Int, v: Visitor): Boolean = {
    val r = new Reader(buf, from, until)
    try {
      while (r.hasRemaining) {
        val tag = r.readVarint(); val field = (tag >> 3).toInt; val wire = (tag & 7).toInt
        if (wire == 2 && field >= 1 && field <= 3) {
          val len = r.readLength(); val off = r.pos
          r.pos += len
          if (field == 1) v.partitionKey(off, len)
          else if (field == 2) v.explicitHashKey(off, len)
          else parseRecord(r, off, off + len, v)
        } else r.skip(wire)
      }
      true
    } catch { case _: IllegalArgumentException => false }
  }

  /** One Record in `[from, until)`; leaves `r` where it found it. */
  private def parseRecord(r: Reader, from: Int, until: Int, v: Visitor): Unit = {
    val pos0 = r.pos; val end0 = r.end
    r.pos = from; r.end = until
    var pki = 0L; var hasPki = false
    var ehki = -1L; var hasEhki = false
    var dataOff = -1; var dataLen = 0
    while (r.hasRemaining) {
      val tag = r.readVarint(); val field = (tag >> 3).toInt; val wire = (tag & 7).toInt
      if (field == 1 && wire == 0) { pki = r.readVarint(); hasPki = true }
      else if (field == 2 && wire == 0) { ehki = r.readVarint(); hasEhki = true }
      else if (field == 3 && wire == 2) { dataLen = r.readLength(); dataOff = r.pos; r.pos += dataLen }
      else if (field == 4 && wire == 2) {
        val len = r.readLength(); val off = r.pos
        r.pos += len
        parseTag(r, off, off + len, v)
      } else r.skip(wire)
    }
    if (!hasPki) r.fail("Record.partition_key_index is required")
    if (dataOff < 0) r.fail("Record.data is required")
    v.record(pki, ehki, hasEhki, dataOff, dataLen)
    r.pos = pos0; r.end = end0
  }

  private def parseTag(r: Reader, from: Int, until: Int, v: Visitor): Unit = {
    val pos0 = r.pos; val end0 = r.end
    r.pos = from; r.end = until
    var keyOff = -1; var keyLen = 0; var valueOff = -1; var valueLen = 0
    while (r.hasRemaining) {
      val tag = r.readVarint(); val field = (tag >> 3).toInt; val wire = (tag & 7).toInt
      if (field == 1 && wire == 2) { keyLen = r.readLength(); keyOff = r.pos; r.pos += keyLen }
      else if (field == 2 && wire == 2) { valueLen = r.readLength(); valueOff = r.pos; r.pos += valueLen }
      else r.skip(wire)
    }
    if (keyOff < 0) r.fail("Tag.key is required")
    v.tag(keyOff, keyLen, valueOff, valueLen)
    r.pos = pos0; r.end = end0
  }

  /** The children of one framed record, as offsets into its bytes: child
    * `i` is key-table entry `keyIndex(i)`, whose UTF-8 is
    * `bytes[keyOff(k), keyOff(k) + keyLen(k))`, and its data. Explicit
    * hash keys and tags are parsed (and checked) but not kept.
    */
  final class Children private[KplCodec] (bytes: Array[Byte]) extends Visitor {
    private var keys = new Array[Int](32) // (off, len) per key-table entry
    private var recs = new Array[Int](48) // (key index, data off, data len) per child
    private var nKeys = 0
    private var nRecs = 0

    def size: Int = nRecs
    def keyCount: Int = nKeys
    def keyOff(k: Int): Int = keys(2 * k)
    def keyLen(k: Int): Int = keys(2 * k + 1)
    def keyIndex(i: Int): Int = recs(3 * i)
    def key(i: Int): String = {
      val k = keyIndex(i)
      new String(bytes, keyOff(k), keyLen(k), StandardCharsets.UTF_8)
    }
    /** Child `i`'s data, copied out of the frame. */
    def data(i: Int): Array[Byte] = {
      val off = recs(3 * i + 1)
      java.util.Arrays.copyOfRange(bytes, off, off + recs(3 * i + 2))
    }

    private[kpl] override def partitionKey(off: Int, len: Int): Unit = {
      if (2 * nKeys + 2 > keys.length) keys = java.util.Arrays.copyOf(keys, 2 * keys.length)
      keys(2 * nKeys) = off; keys(2 * nKeys + 1) = len
      nKeys += 1
    }
    private[kpl] override def record(partitionKeyIndex: Long, explicitHashKeyIndex: Long,
        hasExplicitHashKey: Boolean, dataOff: Int, dataLen: Int): Unit = {
      if (3 * nRecs + 3 > recs.length) recs = java.util.Arrays.copyOf(recs, 2 * recs.length)
      // an index past Int range can never be in range: keyIndex reads it as -1
      recs(3 * nRecs) =
        if (partitionKeyIndex >= 0 && partitionKeyIndex < Int.MaxValue) partitionKeyIndex.toInt
        else -1
      recs(3 * nRecs + 1) = dataOff; recs(3 * nRecs + 2) = dataLen
      nRecs += 1
    }

    /** Every child's key index names a key-table entry. */
    private[KplCodec] def keysInRange: Boolean = {
      var i = 0
      while (i < nRecs && recs(3 * i) >= 0 && recs(3 * i) < nKeys) i += 1
      i == nRecs
    }
  }

  private val Dropped = new Children(Array.emptyByteArray)

  /** De-aggregate one framed physical record — consumer.go:173-191.
    * Semantics preserved exactly:
    *  - body = data[4 : len-16] (MD5 trailer stripped, checksum NOT verified
    *    — the reference never checks it, consumer.go:174);
    *  - any decode error → no children, whole record silently dropped;
    *  - child partition key = partition_key_table[partition_key_index];
    *  - tags and explicit hash keys are parsed but unused.
    * One deliberate divergence: an out-of-range partition_key_index panics
    * the reference process; here it drops the frame like a decode error,
    * so a poisoned record cannot kill an executor.
    */
  def children(data: Array[Byte]): Children =
    if (data == null || data.length < Magic.length + Md5Size) Dropped
    else {
      val c = new Children(data)
      if (parse(data, Magic.length, data.length - Md5Size, c) && c.keysInRange) c else Dropped
    }

  /** [[children]] as (partitionKey, data) pairs. */
  def deaggregate(data: Array[Byte]): Seq[(String, Array[Byte])] = {
    val c = children(data)
    (0 until c.size).map(i => (c.key(i), c.data(i)))
  }

  /** Decode a bare proto2 AggregatedRecord body (no magic/MD5 framing)
    * into the full message, tags and explicit hash keys included — the
    * same [[parse]] pass [[children]] runs. None on any structural error.
    * Key indexes are not checked against the table here.
    */
  def decodeBody(body: Array[Byte]): Option[AggregatedRecord] = {
    def str(off: Int, len: Int) = new String(body, off, len, StandardCharsets.UTF_8)
    val pkt = Vector.newBuilder[String]; val ehkt = Vector.newBuilder[String]
    val recs = Vector.newBuilder[SubRecord]
    var tags = Vector.newBuilder[Tag]
    val whole = new Visitor {
      override def partitionKey(off: Int, len: Int): Unit = pkt += str(off, len)
      override def explicitHashKey(off: Int, len: Int): Unit = ehkt += str(off, len)
      override def tag(keyOff: Int, keyLen: Int, valueOff: Int, valueLen: Int): Unit =
        tags += Tag(str(keyOff, keyLen),
          if (valueOff < 0) None else Some(str(valueOff, valueLen)))
      override def record(pki: Long, ehki: Long, hasEhki: Boolean,
          dataOff: Int, dataLen: Int): Unit = {
        recs += SubRecord(pki, if (hasEhki) Some(ehki) else None,
          java.util.Arrays.copyOfRange(body, dataOff, dataOff + dataLen), tags.result())
        tags = Vector.newBuilder[Tag]
      }
    }
    if (parse(body, 0, body.length, whole))
      Some(AggregatedRecord(pkt.result(), ehkt.result(), recs.result()))
    else None
  }

  // ------------------------------------------------------------------ encode

  private def varintSize(v0: Long): Int = {
    var v = v0 >>> 7; var n = 1
    while (v != 0) { v >>>= 7; n += 1 }
    n
  }

  /** Encoded size of a length-delimited field with a one-byte key. */
  private def delimitedSize(len: Int): Int = 1 + varintSize(len.toLong) + len

  /** Exact-size output: every length is known before the first byte. */
  private final class Writer(val buf: Array[Byte], var pos: Int) {
    def writeVarint(v0: Long): Unit = {
      var v = v0
      while ((v & ~0x7FL) != 0) { buf(pos) = ((v & 0x7F) | 0x80).toByte; pos += 1; v >>>= 7 }
      buf(pos) = v.toByte; pos += 1
    }
    def writeField(field: Int, wire: Int): Unit = writeVarint((field.toLong << 3) | wire)
    def writeHeader(field: Int, len: Int): Unit = { writeField(field, 2); writeVarint(len.toLong) }
    def writeBytes(field: Int, b: Array[Byte]): Unit = {
      writeHeader(field, b.length)
      System.arraycopy(b, 0, buf, pos, b.length); pos += b.length
    }
    def writeUint(field: Int, v: Long): Unit = { writeField(field, 0); writeVarint(v) }
  }

  private def utf8(s: String): Array[Byte] = s.getBytes(StandardCharsets.UTF_8)

  /** An AggregatedRecord with its strings as UTF-8 and every nested
    * length computed, ready to write into `size` bytes.
    */
  private final class Sized(agg: AggregatedRecord) {
    private val pkt = agg.partitionKeyTable.iterator.map(utf8).toArray
    private val ehkt = agg.explicitHashKeyTable.iterator.map(utf8).toArray
    private val recs = agg.records.toArray
    /** Per record, its tags' UTF-8 as (key, value or null) pairs; null
      * when it has none.
      */
    private val tagBytes: Array[Array[Array[Byte]]] = recs.map(r =>
      if (r.tags.isEmpty) null
      else r.tags.iterator.flatMap(t => Iterator(utf8(t.key), t.value.map(utf8).orNull)).toArray)
    private val recLens = new Array[Int](recs.length)

    private def tagLen(tb: Array[Array[Byte]], j: Int): Int =
      delimitedSize(tb(j).length) + (if (tb(j + 1) == null) 0 else delimitedSize(tb(j + 1).length))

    val size: Int = {
      var n = 0
      pkt.foreach(b => n += delimitedSize(b.length))
      ehkt.foreach(b => n += delimitedSize(b.length))
      var i = 0
      while (i < recs.length) {
        val r = recs(i)
        var len = 1 + varintSize(r.partitionKeyIndex) + delimitedSize(r.data.length)
        if (r.explicitHashKeyIndex.isDefined) len += 1 + varintSize(r.explicitHashKeyIndex.get)
        val tb = tagBytes(i)
        if (tb != null) {
          var j = 0
          while (j < tb.length) { len += delimitedSize(tagLen(tb, j)); j += 2 }
        }
        recLens(i) = len
        n += delimitedSize(len)
        i += 1
      }
      n
    }

    def writeTo(w: Writer): Unit = {
      pkt.foreach(w.writeBytes(1, _))
      ehkt.foreach(w.writeBytes(2, _))
      var i = 0
      while (i < recs.length) {
        val r = recs(i)
        w.writeHeader(3, recLens(i))
        w.writeUint(1, r.partitionKeyIndex)
        if (r.explicitHashKeyIndex.isDefined) w.writeUint(2, r.explicitHashKeyIndex.get)
        w.writeBytes(3, r.data)
        val tb = tagBytes(i)
        if (tb != null) {
          var j = 0
          while (j < tb.length) {
            w.writeHeader(4, tagLen(tb, j))
            w.writeBytes(1, tb(j))
            if (tb(j + 1) != null) w.writeBytes(2, tb(j + 1))
            j += 2
          }
        }
        i += 1
      }
    }
  }

  /** Encode a bare proto2 AggregatedRecord body. */
  def encodeBody(agg: AggregatedRecord): Array[Byte] = {
    val s = new Sized(agg)
    val w = new Writer(new Array[Byte](s.size), 0)
    s.writeTo(w)
    w.buf
  }

  /** Magic prefix + the `bodyLen` body bytes `fill` writes at offset 4 +
    * their MD5, digested in place — one array, no copy of the body.
    */
  private def framed(bodyLen: Int)(fill: Writer => Unit): Array[Byte] = {
    val out = new Array[Byte](Magic.length + bodyLen + Md5Size)
    System.arraycopy(Magic, 0, out, 0, Magic.length)
    fill(new Writer(out, Magic.length))
    val md = md5Tl.get()
    md.reset()
    md.update(out, Magic.length, bodyLen)
    md.digest(out, Magic.length + bodyLen, Md5Size)
    out
  }

  /** Frame a body with magic prefix + MD5 trailer — mirrors the reference
    * test encoder (consumer_test.go:346-377) and is the produce-side
    * aggregation the reference left unimplemented (command/produce.go:26).
    */
  def frame(body: Array[Byte]): Array[Byte] = framed(body.length) { w =>
    System.arraycopy(body, 0, w.buf, w.pos, body.length)
  }

  /** Aggregate (partitionKey, data) children into one framed KPL record —
    * the exact shape createAggregateRecord builds at consumer_test.go:346-377:
    * each child appends its key to the table and indexes it positionally.
    */
  def aggregate(children: Seq[(String, Array[Byte])]): Array[Byte] = {
    val keys = children.map(_._1)
    val recs = children.zipWithIndex.map { case ((_, data), i) =>
      SubRecord(i.toLong, None, data, Nil)
    }
    val s = new Sized(AggregatedRecord(keys, Nil, recs))
    framed(s.size)(s.writeTo)
  }
}
