package graft.functions

import java.nio.ByteBuffer
import java.util.zip.CRC32

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf

/** The reference's exact DbusEventV2 binary envelope — encode / decode /
  * validate, plus the test-side corruption toggles.
  *
  * Layout (DbusEventV2.java:33-72, offsets :76-92):
  * {{{
  *   fixed header (45 B):
  *     version(1)=2 | magic(4)=0xCAFEDEED | headerLen(4) | headerCrc(4) |
  *     bodyCrc(4) | totalLen(4) | attributes(2) | nanoTimestamp(8) |
  *     sourceId(4) | partitionId(2) | sequence(8)
  *   variable header: key — long(8) | len(4)+stringBytes | DbusEventPart
  *   then: optional metadata DbusEventPart, optional payload DbusEventPart
  * }}}
  * DbusEventPart = dataLen(4) | attrs(2: schemaVersion<<2 | digestType) |
  * digest(16 MD5 / 4 CRC32) | data   (DbusEventPart.java:41,113-134).
  *
  * Attributes short = 12-bit flags | 2-bit key type | 2-bit opcode (LSB)
  * (DbusEventV2.java:96-110): opcode 0=control/1=UPSERT/2=DELETE, key type
  * 1=LONG/2=STRING/3=SCHEMA, flags 0x10 replicated / 0x20 trace / 0x40
  * has-metadata / 0x80 has-payload. Control events carry a negative
  * sourceId (DbusEventUtils.isControlSrcId); the end-of-window marker uses
  * sourceId -2 (DbusEventInternalWritable.EOPMarkerSrcId).
  *
  * CRCs (DbusEventV2.java:661-675,830-841): bodyCrc = CRC32 of
  * [headerLen, totalLen); headerCrc = CRC32 of [13, headerLen) — i.e. it
  * covers the bodyCrc and totalLen fields plus attributes..key. Stored as
  * the low 32 bits (unsigned) of java.util.zip.CRC32. Byte order:
  * big-endian (the reference parameterizes the buffer's order; network
  * order is this engine's canonical choice).
  */
object DbusV2 {

  val Version: Byte = 2
  val Magic = 0xCAFEDEED

  // fixed-header offsets (DbusEventV2.java:76-92)
  val HeaderLenOffset = 5
  val HeaderCrcOffset = 9
  val BodyCrcOffset = 13
  val TotalLenOffset = 17
  val AttributesOffset = 21
  val TimestampOffset = 23
  val SourceIdOffset = 31
  val PartitionIdOffset = 35
  val SequenceOffset = 37
  val FixedHeaderLen = 45

  // attributes bits (DbusEventV2.java:96-110)
  val OpControl = 0
  val OpUpsert = 1
  val OpDelete = 2
  val KeyTypeLong = 1
  val KeyTypeString = 2
  val KeyTypeSchema = 3
  val KeyTypeShift = 2
  val FlagReplicated = 0x10
  val FlagTrace = 0x20
  val FlagHasMetadata = 0x40
  val FlagHasPayload = 0x80

  // DbusEventPart digest types (DbusEventPart.java:43-46)
  val DigestMd5 = 0
  val DigestCrc32 = 1

  /** EOW control marker sourceId (DbusEventInternalWritable.java:34). */
  val EowSrcId = -2

  /** DbusEventCorrupter.CORRUPTION_PATTERN. */
  val CorruptionPattern = 0x55

  case class Part(digestType: Int, digest: Array[Byte], schemaVersion: Short,
      data: Array[Byte]) {
    require(digest.length == (if (digestType == DigestMd5) 16 else 4),
      s"digest length ${digest.length} wrong for type $digestType")
    def encodedLength: Int = 4 + 2 + digest.length + data.length
  }

  /** One envelope-level event. Exactly one of keyLong/keyString/keyPart is
    * set (LONG / STRING / SCHEMA key types). */
  case class Event(
      sequence: Long, timestampNs: Long, sourceId: Int, partitionId: Short,
      opcode: Int,
      keyLong: Option[Long] = None,
      keyString: Option[Array[Byte]] = None,
      keyPart: Option[Part] = None,
      metadata: Option[Part] = None,
      payload: Option[Part] = None,
      replicated: Boolean = false, trace: Boolean = false) {
    def isControl: Boolean = sourceId < 0
    def isEow: Boolean = sourceId == EowSrcId
  }

  private def putPart(b: ByteBuffer, p: Part): Unit = {
    b.putInt(p.data.length)
    b.putShort(((p.schemaVersion << 2) | p.digestType).toShort)
    b.put(p.digest)
    b.put(p.data)
    ()
  }

  private def crc32(bytes: Array[Byte], off: Int, len: Int): Int = {
    val c = new CRC32
    c.update(bytes, off, len)
    c.getValue.toInt
  }

  def encode(e: Event): Array[Byte] = {
    val keyLen =
      if (e.keyLong.isDefined) 8
      else if (e.keyString.isDefined) 4 + e.keyString.get.length
      else e.keyPart.map(_.encodedLength).getOrElse(
        throw new IllegalArgumentException("event has no key"))
    val headerLen = FixedHeaderLen + keyLen
    val totalLen = headerLen + e.metadata.map(_.encodedLength).getOrElse(0) +
      e.payload.map(_.encodedLength).getOrElse(0)
    val out = new Array[Byte](totalLen)
    val b = ByteBuffer.wrap(out) // big-endian by default
    b.put(Version)
    b.putInt(Magic)
    b.putInt(headerLen)
    b.putInt(0) // headerCrc placeholder
    b.putInt(0) // bodyCrc placeholder
    b.putInt(totalLen)
    var attrs = if (e.isControl) OpControl else e.opcode
    attrs |= (if (e.keyLong.isDefined) KeyTypeLong
      else if (e.keyString.isDefined) KeyTypeString
      else KeyTypeSchema) << KeyTypeShift
    if (e.replicated) attrs |= FlagReplicated
    if (e.trace) attrs |= FlagTrace
    if (e.metadata.isDefined) attrs |= FlagHasMetadata
    if (e.payload.isDefined) attrs |= FlagHasPayload
    b.putShort(attrs.toShort)
    b.putLong(e.timestampNs)
    b.putInt(e.sourceId)
    b.putShort(e.partitionId)
    b.putLong(e.sequence)
    e.keyLong.foreach(b.putLong)
    e.keyString.foreach { k => b.putInt(k.length); b.put(k) }
    e.keyPart.foreach(putPart(b, _))
    e.metadata.foreach(putPart(b, _))
    e.payload.foreach(putPart(b, _))
    // body CRC first, then header CRC over [BodyCrcOffset, headerLen)
    // which covers it (DbusEventV2.serializeEvent:830-841)
    b.putInt(BodyCrcOffset, crc32(out, headerLen, totalLen - headerLen))
    b.putInt(HeaderCrcOffset,
      crc32(out, BodyCrcOffset, headerLen - BodyCrcOffset))
    out
  }

  /** EOW marker (serializeEndOfPeriodMarker, DbusEventV2.java:952-975):
    * control opcode, sourceId -2, long key 0, no parts. */
  def eowMarker(sequence: Long, partitionId: Short, timestampNs: Long = 0L)
      : Array[Byte] =
    encode(Event(sequence, timestampNs, EowSrcId, partitionId, OpControl,
      keyLong = Some(0L)))

  /** Total event length at `off` (no validation beyond bounds). */
  def eventLength(bytes: Array[Byte], off: Int): Int =
    ByteBuffer.wrap(bytes, off + TotalLenOffset, 4).getInt

  /** Validation: None = intact; Some(reason) mirrors the reference's
    * scanEvent/isValid checks (DbusEventV2.java:335-360,258-285). */
  def validate(bytes: Array[Byte], off: Int = 0): Option[String] = {
    if (bytes.length - off < FixedHeaderLen) return Some("truncated_header")
    val b = ByteBuffer.wrap(bytes, off, bytes.length - off).slice()
    if (b.get(0) != Version) return Some("bad_version")
    if (b.getInt(1) != Magic) return Some("bad_magic")
    val headerLen = b.getInt(HeaderLenOffset)
    val totalLen = b.getInt(TotalLenOffset)
    if (headerLen < FixedHeaderLen || headerLen > bytes.length - off)
      return Some("bad_header_len")
    if (b.getInt(HeaderCrcOffset) !=
        crc32(bytes, off + BodyCrcOffset, headerLen - BodyCrcOffset))
      return Some("header_crc")
    if (totalLen < headerLen || totalLen > bytes.length - off)
      return Some("bad_total_len")
    if (b.getInt(BodyCrcOffset) !=
        crc32(bytes, off + headerLen, totalLen - headerLen))
      return Some("body_crc")
    None
  }

  private def readPart(b: ByteBuffer): Part = {
    val dataLen = b.getInt
    val attrs = b.getShort
    val digestType = attrs & 0x3
    val schemaVersion = (attrs >> 2).toShort
    val digest = new Array[Byte](if (digestType == DigestMd5) 16 else 4)
    b.get(digest)
    val data = new Array[Byte](dataLen)
    b.get(data)
    Part(digestType, digest, schemaVersion, data)
  }

  /** Strict decode (call [[validate]] first for untrusted bytes). */
  def decode(bytes: Array[Byte], off: Int = 0): Event = {
    val b = ByteBuffer.wrap(bytes, off, bytes.length - off).slice()
    require(b.get(0) == Version && b.getInt(1) == Magic, "not a V2 event")
    val attrs = b.getShort(AttributesOffset) & 0xFFFF
    val opcode = attrs & 0x3
    val keyType = (attrs >> KeyTypeShift) & 0x3
    val tsNs = b.getLong(TimestampOffset)
    val srcId = b.getInt(SourceIdOffset)
    val partId = b.getShort(PartitionIdOffset)
    val seq = b.getLong(SequenceOffset)
    b.position(FixedHeaderLen)
    var keyLong: Option[Long] = None
    var keyString: Option[Array[Byte]] = None
    var keyPart: Option[Part] = None
    keyType match {
      case KeyTypeLong => keyLong = Some(b.getLong)
      case KeyTypeString =>
        val k = new Array[Byte](b.getInt); b.get(k); keyString = Some(k)
      case KeyTypeSchema => keyPart = Some(readPart(b))
      case other => throw new IllegalArgumentException(s"bad key type $other")
    }
    val metadata = if ((attrs & FlagHasMetadata) != 0) Some(readPart(b)) else None
    val payload = if ((attrs & FlagHasPayload) != 0) Some(readPart(b)) else None
    Event(seq, tsNs, srcId, partId, opcode, keyLong, keyString, keyPart,
      metadata, payload,
      replicated = (attrs & FlagReplicated) != 0,
      trace = (attrs & FlagTrace) != 0)
  }

  // ---- corruption toggles (DbusEventCorrupter.toggleEventCorruption:
  // LENGTH / HEADERCRC / PAYLOAD / PAYLOADCRC, pattern 0x55). Each is an
  // involution: applying it twice restores the original bytes. ----

  private def xorInt(bytes: Array[Byte], at: Int, pattern: Int): Unit = {
    val b = ByteBuffer.wrap(bytes)
    b.putInt(at, b.getInt(at) ^ pattern)
    ()
  }

  def toggleLength(bytes: Array[Byte], off: Int = 0): Unit =
    xorInt(bytes, off + TotalLenOffset, CorruptionPattern)

  def toggleHeaderCrc(bytes: Array[Byte], off: Int = 0): Unit =
    xorInt(bytes, off + HeaderCrcOffset, CorruptionPattern)

  def toggleBodyCrc(bytes: Array[Byte], off: Int = 0): Unit =
    xorInt(bytes, off + BodyCrcOffset, CorruptionPattern)

  /** Flip the first payload byte (no-op when there is no payload data). */
  def togglePayloadByte(bytes: Array[Byte], off: Int = 0): Unit = {
    val b = ByteBuffer.wrap(bytes, off, bytes.length - off).slice()
    val attrs = b.getShort(AttributesOffset) & 0xFFFF
    if ((attrs & FlagHasPayload) == 0) return
    val headerLen = b.getInt(HeaderLenOffset)
    var p = headerLen
    if ((attrs & FlagHasMetadata) != 0) {
      val metaDataLen = b.getInt(p)
      val metaDigestLen = if ((b.getShort(p + 4) & 0x3) == DigestMd5) 16 else 4
      p += 4 + 2 + metaDataLen + metaDigestLen
    }
    val payloadDataLen = b.getInt(p)
    val payloadDigestLen = if ((b.getShort(p + 4) & 0x3) == DigestMd5) 16 else 4
    if (payloadDataLen > 0) {
      val dataStart = off + p + 4 + 2 + payloadDigestLen
      bytes(dataStart) = (bytes(dataStart) ^ CorruptionPattern).toByte
    }
  }

  // ---- column codec surface ----

  /** Decoded envelope struct (column shape of [[decode]]). `key_schema`
    * carries a SCHEMA key's part data (DbusEventKey.java:30-35 third key
    * kind); exactly one of key_long / key_string / key_schema is set. */
  case class DecodedV2(
      sequence: Long, ts_ns: Long, source_id: Int, partition_id: Int,
      opcode: String, key_long: Option[Long], key_string: Option[Array[Byte]],
      key_schema: Option[Array[Byte]],
      schema_version: Int, schema_digest: Option[Array[Byte]],
      payload: Option[Array[Byte]], meta: Option[Array[Byte]],
      total_len: Int, replicated: Boolean, trace: Boolean)

  /** Encode a long-keyed data event column-wise: (sequence, tsNs, sourceId,
    * partitionId, opcode, keyLong, payloadBytes, metaBytes?) → envelope
    * bytes. The payload part carries `digest`/`schemaVersion` (MD5 schema
    * id); the metadata part, when present, is CRC32-typed with a zero
    * digest (carrier for engine-side metadata such as the per-event seq). */
  def encodeUdf(digest: Array[Byte], schemaVersion: Short)
      : (Column, Column, Column, Column, Column, Column, Column, Column) => Column = {
    val f = udf { (seq: Long, tsNs: Long, srcId: Int, partId: Int,
        opcode: String, key: Long, payload: Array[Byte], meta: Array[Byte]) =>
      encode(Event(seq, tsNs, srcId, partId.toShort,
        if (opcode == "DELETE") OpDelete else OpUpsert,
        keyLong = Some(key),
        metadata = Option(meta).map(m =>
          Part(DigestCrc32, new Array[Byte](4), 1, m)),
        payload = Option(payload).map(p => Part(DigestMd5, digest,
          schemaVersion, p))))
    }
    (seq, tsNs, srcId, partId, opcode, key, payload, meta) =>
      f(seq, tsNs, srcId, partId, opcode, key, payload, meta)
  }

  /** Strict decode to a struct column. */
  val decodeUdf: Column => Column = {
    val f = udf { (bytes: Array[Byte]) =>
      val e = decode(bytes)
      DecodedV2(e.sequence, e.timestampNs, e.sourceId, e.partitionId.toInt,
        if (e.isControl) "CONTROL"
        else if (e.opcode == OpDelete) "DELETE" else "UPSERT",
        e.keyLong, e.keyString, e.keyPart.map(_.data),
        e.payload.map(_.schemaVersion.toInt).getOrElse(0),
        e.payload.map(_.digest), e.payload.map(_.data), e.metadata.map(_.data),
        eventLength(bytes, 0), e.replicated, e.trace)
    }
    bytes => f(bytes)
  }

  /** Validation error as a nullable string column (null = intact). */
  val errorUdf: Column => Column = {
    val f = udf { (bytes: Array[Byte]) => validate(bytes) }
    bytes => f(bytes)
  }
}
