package graft

import graft.kpl.KplCodec
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets

/** Pure-codec suite — ports the reference's consumer tests
  * (consumer_test.go) that exercise the KPL wire format, plus scalacheck
  * round-trip properties the Go suite hand-rolled.
  */
class KplCodecSpec extends AnyFunSuite {

  /** Run a scalacheck property under ScalaTest (scalatestplus bridge is not
    * in the offline cache, so drive scalacheck's runner directly).
    */
  private def check(prop: Prop): Unit = {
    val result = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(result.passed, result.status.toString)
  }

  private def b(s: String): Array[Byte] = s.getBytes(StandardCharsets.UTF_8)

  // ---- TestIsAggregated (consumer_test.go:299-323)
  test("isAggregated: plain bytes are not aggregated") {
    assert(!KplCodec.isAggregated(b("not aggregated")))
  }
  test("isAggregated: magic-prefixed bytes are aggregated") {
    assert(KplCodec.isAggregated(KplCodec.Magic ++ b("aggregated")))
  }
  test("isAggregated: null and short inputs") {
    assert(!KplCodec.isAggregated(null))
    assert(!KplCodec.isAggregated(Array[Byte](0xF3.toByte)))
    assert(KplCodec.isAggregated(KplCodec.Magic)) // prefix alone matches, like bytes.HasPrefix
  }

  // ---- TestDeaggregate round trip (consumer_test.go:325-344 + 346-377)
  test("deaggregate(aggregate(x)) == x") {
    val input = Seq("key1" -> b("record1"), "key2" -> b("record2"))
    val framed = KplCodec.aggregate(input)
    assert(KplCodec.isAggregated(framed))
    val out = KplCodec.deaggregate(framed)
    assert(out.map(_._1) == Seq("key1", "key2"))
    assert(out.map(p => new String(p._2, StandardCharsets.UTF_8)) == Seq("record1", "record2"))
  }

  test("duplicate partition keys keep positional table entries") {
    val input = Seq("k" -> b("a"), "k" -> b("b"))
    val out = KplCodec.deaggregate(KplCodec.aggregate(input))
    assert(out.map(_._1) == Seq("k", "k"))
  }

  // ---- decode-error drop semantics (consumer.go:177-179)
  test("corrupt body → whole record silently dropped") {
    val corrupt = KplCodec.Magic ++ Array.fill(20)(0xFF.toByte)
    assert(KplCodec.deaggregate(corrupt) == Nil)
  }
  test("truncated frame → dropped") {
    val framed = KplCodec.aggregate(Seq("key1" -> b("record1")))
    val truncated = framed.dropRight(framed.length / 2)
    assert(KplCodec.deaggregate(truncated) == Nil)
  }
  test("frame shorter than magic+md5 → dropped") {
    assert(KplCodec.deaggregate(KplCodec.Magic) == Nil)
    assert(KplCodec.deaggregate(null) == Nil)
  }
  test("missing required Record.data → dropped") {
    // hand-encode: records[0] = { partition_key_index = 0 } (no data field)
    val sub = Array[Byte](0x08, 0x00) // field 1 varint 0
    val body = Array[Byte](0x0A, 0x02, 'p', 'k', // partition_key_table "pk"
      0x1A, sub.length.toByte) ++ sub             // records[0]
    assert(KplCodec.decodeBody(body).isEmpty)
    assert(KplCodec.deaggregate(KplCodec.frame(body)) == Nil)
  }
  test("out-of-range partition_key_index → dropped (reference would panic)") {
    val agg = KplCodec.AggregatedRecord(Seq("only"),
      Nil, Seq(KplCodec.SubRecord(5L, None, b("x"), Nil)))
    assert(KplCodec.deaggregate(KplCodec.frame(KplCodec.encodeBody(agg))) == Nil)
  }

  test("unknown fields are skipped, not fatal") {
    val body = KplCodec.encodeBody(KplCodec.AggregatedRecord(
      Seq("k"), Nil, Seq(KplCodec.SubRecord(0L, None, b("payload"), Nil))))
    val extra = Array[Byte](0x78, 0x2A) // field 15 wire 0, varint 42
    val out = KplCodec.deaggregate(KplCodec.frame(body ++ extra))
    assert(out.map(_._1) == Seq("k"))
  }

  test("explicit hash keys and tags decode and are carried (then unused)") {
    val agg = KplCodec.AggregatedRecord(
      Seq("pk0"), Seq("ehk0"),
      Seq(KplCodec.SubRecord(0L, Some(0L), b("data"),
        Seq(KplCodec.Tag("tk", Some("tv")), KplCodec.Tag("solo", None)))))
    val decoded = KplCodec.decodeBody(KplCodec.encodeBody(agg))
    assert(decoded.exists(_.explicitHashKeyTable == Seq("ehk0")))
    assert(decoded.exists(_.records.head.tags ==
      Seq(KplCodec.Tag("tk", Some("tv")), KplCodec.Tag("solo", None))))
    // consumer.go:183-188 only surfaces (partitionKey, data):
    assert(KplCodec.deaggregate(KplCodec.frame(KplCodec.encodeBody(agg)))
      .map(_._1) == Seq("pk0"))
  }

  test("non-UTF8 binary payloads survive the round trip") {
    val payload = Array.tabulate(256)(i => i.toByte)
    val out = KplCodec.deaggregate(KplCodec.aggregate(Seq("bin" -> payload)))
    assert(out.head._2.toSeq == payload.toSeq)
  }

  test("md5 trailer is stripped but never verified (reference parity)") {
    val body = KplCodec.encodeBody(KplCodec.AggregatedRecord(
      Seq("k"), Nil, Seq(KplCodec.SubRecord(0L, None, b("d"), Nil))))
    val badMd5 = KplCodec.Magic ++ body ++ Array.fill(16)(0x00.toByte)
    assert(KplCodec.deaggregate(badMd5).map(_._1) == Seq("k"))
  }

  test("md5Ok extension: valid frames verify, any corruption fails") {
    val frame = KplCodec.aggregate(Seq(
      "k1" -> b("payload one"), "k2" -> b("payload two")))
    assert(KplCodec.md5Ok(frame), "pristine frame must verify")
    // one flipped BODY byte (magic is 0-3, body starts at 4)
    val bodyTamper = frame.clone()
    bodyTamper(6) = (bodyTamper(6) ^ 0x01).toByte
    assert(!KplCodec.md5Ok(bodyTamper))
    // one flipped TRAILER byte
    val trailerTamper = frame.clone()
    trailerTamper(frame.length - 1) = (trailerTamper(frame.length - 1) ^ 0x01).toByte
    assert(!KplCodec.md5Ok(trailerTamper))
    // non-KPL, truncated, and null inputs are all simply "not verified"
    assert(!KplCodec.md5Ok(b("plain record")))
    assert(!KplCodec.md5Ok(KplCodec.Magic)) // magic with no room for a trailer
    assert(!KplCodec.md5Ok(null))
    // and deaggregate still accepts what md5Ok rejects (reference parity):
    // verification is an EXTENSION, never a gate on the parity path
    val body = KplCodec.encodeBody(KplCodec.AggregatedRecord(
      Seq("k"), Nil, Seq(KplCodec.SubRecord(0L, None, b("d"), Nil))))
    val badMd5 = KplCodec.Magic ++ body ++ Array.fill(16)(0x00.toByte)
    assert(!KplCodec.md5Ok(badMd5) && KplCodec.deaggregate(badMd5).nonEmpty)
  }

  // ---- large frames: the decoder is one linear pass, whatever the size
  private val bigKeys = (0 until 40).map(k => f"pk-$k%05d")
  private def bigChild(i: Int): Array[Byte] = Array.tabulate(i % 300)(j => ((i * 31 + j * 7) & 0xFF).toByte)
  private val bigRecords = (0 until 2000).map(i =>
    KplCodec.SubRecord(i % 40, None, bigChild(i), Nil))
  /** The 2,000-child body over a 40-entry key table; `last` (a Record
    * message body under 128 bytes) replaces its last record when given.
    */
  private def bigBody(last: Option[Array[Byte]] = None): Array[Byte] = last match {
    case None => KplCodec.encodeBody(KplCodec.AggregatedRecord(bigKeys, Nil, bigRecords))
    case Some(rec) =>
      KplCodec.encodeBody(KplCodec.AggregatedRecord(bigKeys, Nil, bigRecords.init)) ++
        Array[Byte](0x1A, rec.length.toByte) ++ rec
  }

  test("a 2,000-child frame with 40 repeated keys round-trips positionally") {
    val input = (0 until 2000).map(i => bigKeys(i % 40) -> bigChild(i))
    val out = KplCodec.deaggregate(KplCodec.aggregate(input))
    assert(out.map(_._1) == input.map(_._1))
    assert(out.map(_._2.toSeq) == input.map(_._2.toSeq))
    val viaTable = KplCodec.deaggregate(KplCodec.frame(bigBody()))
    assert(viaTable.map(_._1) == input.map(_._1))
    assert(viaTable.map(_._2.toSeq) == input.map(_._2.toSeq))
  }

  test("a 2,000-child frame drops whole when its last child is bad") {
    val d = b("d")
    // records[1999] = { partition_key_index = 40 (table has 40), data = "d" }
    val outOfRange = Array[Byte](0x08, 40, 0x1A, 0x01) ++ d
    // data claims 5 bytes, 2 remain in the record
    val truncatedData = Array[Byte](0x08, 0x00, 0x1A, 0x05) ++ b("ab")
    // one Tag holding only a value (Tag.key is required)
    val keylessTag = Array[Byte](0x08, 0x00, 0x1A, 0x01) ++ d ++ Array[Byte](0x22, 0x03, 0x12, 0x01) ++ b("v")
    val valid = Array[Byte](0x08, 0x00, 0x1A, 0x01) ++ d
    assert(KplCodec.deaggregate(KplCodec.frame(bigBody(Some(valid)))).size == 2000)
    for ((what, last) <- Seq("out-of-range key index" -> outOfRange,
        "truncated data" -> truncatedData, "Tag without a key" -> keylessTag))
      assert(KplCodec.deaggregate(KplCodec.frame(bigBody(Some(last)))) == Nil, what)
  }

  test("an unknown top-level field between records is skipped") {
    val first = KplCodec.encodeBody(KplCodec.AggregatedRecord(bigKeys, Nil, bigRecords.take(1000)))
    val rest = KplCodec.encodeBody(KplCodec.AggregatedRecord(Nil, Nil, bigRecords.drop(1000)))
    val unknown = Array[Byte](0x4A, 0x03) ++ b("xyz") ++ // field 9, length-delimited
      Array[Byte](0x78, 0x2A) ++                          // field 15, varint
      Array[Byte](0x31) ++ Array.fill[Byte](8)(7) ++      // field 6, fixed64
      Array[Byte](0x3D) ++ Array.fill[Byte](4)(7)         // field 7, fixed32
    val out = KplCodec.deaggregate(KplCodec.frame(first ++ unknown ++ rest))
    assert(out.map(_._1) == (0 until 2000).map(i => bigKeys(i % 40)))
    assert(out.map(_._2.toSeq) == (0 until 2000).map(i => bigChild(i).toSeq))
  }

  test("aggregate's bytes are pinned: 1,000 children, sha256") {
    val children = (0 until 1000).map { i =>
      (if (i % 97 == 0) s"schlüssel-$i" else f"pk-${i % 40}%05d") -> bigChild(i)
    }
    val sha = java.security.MessageDigest.getInstance("SHA-256")
      .digest(KplCodec.aggregate(children)).map(x => f"${x & 0xFF}%02x").mkString
    // recorded from the ByteArrayOutputStream encoder this one replaced
    assert(sha == "51f9a07373ea63bbee135f115e661ebed1744ad96c92d2a7fb394f0c9973f480")
  }

  // ---- property: round trip over arbitrary keys and binary payloads
  test("property: deaggregate(aggregate(children)) == children") {
    val genChild = for {
      key <- Gen.alphaNumStr.suchThat(_.length <= 64)
      data <- Gen.containerOf[Array, Byte](Gen.chooseNum(Byte.MinValue, Byte.MaxValue))
    } yield (key, data)
    val genChildren = Gen.listOfN(10, genChild).flatMap(l => Gen.someOf(l)).map(_.toList)
    check(Prop.forAll(genChildren) { children =>
      val out = KplCodec.deaggregate(KplCodec.aggregate(children))
      out.map(_._1) == children.map(_._1) &&
        out.map(_._2.toSeq) == children.map(_._2.toSeq)
    })
  }

  test("property: random garbage after magic never crashes, at worst drops") {
    val genBytes = Gen.containerOf[Array, Byte](Gen.chooseNum(Byte.MinValue, Byte.MaxValue))
    check(Prop.forAll(genBytes) { garbage =>
      val rec = KplCodec.Magic ++ garbage
      KplCodec.deaggregate(rec) // must not throw
      true
    })
  }
}
