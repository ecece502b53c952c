package graft.proto

import java.io.ByteArrayOutputStream

/** Protobuf wire-format primitives, written from the public wire spec
  * (https://protobuf.dev/programming-guides/encoding/).
  *
  * Mirrors the behavior the reference gets from protobuf-java's
  * CodedInputStream/CodedOutputStream (used via DynamicMessage at
  * /root/reference/src/main/java/com/github/whiver/nifi/service/ProtobufService.java:64,122)
  * — reimplemented from scratch because protobuf-java is not available
  * in this offline build.
  */
object Wire {

  // Wire types
  final val WtVarint = 0
  final val WtFixed64 = 1
  final val WtLen = 2
  final val WtStartGroup = 3
  final val WtEndGroup = 4
  final val WtFixed32 = 5

  final class ProtoParseException(msg: String) extends RuntimeException(msg)

  /** Cursor-based reader over a byte slice. */
  final class Reader(val buf: Array[Byte], var pos: Int, val limit: Int) {
    def this(buf: Array[Byte]) = this(buf, 0, buf.length)

    def hasRemaining: Boolean = pos < limit

    def readByte(): Int = {
      if (pos >= limit) throw new ProtoParseException(s"truncated: need byte at $pos, limit $limit")
      val b = buf(pos) & 0xff
      pos += 1
      b
    }

    /** Unsigned LEB128 varint, up to 10 bytes. */
    def readVarint64(): Long = {
      var shift = 0
      var result = 0L
      while (shift < 64) {
        val b = readByte()
        result |= (b & 0x7fL) << shift
        if ((b & 0x80) == 0) return result
        shift += 7
      }
      throw new ProtoParseException("malformed varint (>10 bytes)")
    }

    def readFixed32(): Int = {
      if (pos + 4 > limit) throw new ProtoParseException("truncated fixed32")
      val v = (buf(pos) & 0xff) |
        ((buf(pos + 1) & 0xff) << 8) |
        ((buf(pos + 2) & 0xff) << 16) |
        ((buf(pos + 3) & 0xff) << 24)
      pos += 4
      v
    }

    def readFixed64(): Long = {
      if (pos + 8 > limit) throw new ProtoParseException("truncated fixed64")
      var v = 0L
      var i = 7
      while (i >= 0) {
        v = (v << 8) | (buf(pos + i) & 0xffL)
        i -= 1
      }
      pos += 8
      v
    }

    def readBytes(): Array[Byte] = {
      val len = readVarint64()
      if (len < 0 || len > limit - pos)
        throw new ProtoParseException(s"truncated length-delimited field: len=$len, remaining=${limit - pos}")
      val out = java.util.Arrays.copyOfRange(buf, pos, pos + len.toInt)
      pos += len.toInt
      out
    }

    /** Returns (pos, len) of a length-delimited slice and advances. */
    def readSlice(): (Int, Int) = {
      val len = readVarint64()
      if (len < 0 || len > limit - pos)
        throw new ProtoParseException(s"truncated length-delimited field: len=$len, remaining=${limit - pos}")
      val p = pos
      pos += len.toInt
      (p, len.toInt)
    }

    /** Reads a tag; returns (fieldNumber, wireType). */
    def readTag(): (Int, Int) = {
      val tag = readVarint64()
      val wt = (tag & 0x7).toInt
      val fn = (tag >>> 3).toInt
      if (fn == 0) throw new ProtoParseException("invalid field number 0")
      (fn, wt)
    }

    /** From just after a (fn, WtStartGroup) tag: scans to the MATCHING
      * END_GROUP tag (nested groups balance via skip), returns (pos, len)
      * of the group CONTENT — the field records between the delimiters —
      * and leaves the cursor after the end tag. A group's content is a
      * plain field stream, so concatenating occurrences' contents gives
      * protobuf merge semantics, exactly like embedded-message slices. */
    def groupSlice(fn: Int): (Int, Int) = {
      val start = pos
      while (true) {
        if (!hasRemaining) throw new ProtoParseException("truncated group")
        val tagStart = pos
        val (fn2, wt) = readTag()
        if (wt == WtEndGroup) {
          if (fn2 != fn)
            throw new ProtoParseException(s"mismatched END_GROUP: expected $fn, got $fn2")
          return (start, tagStart - start)
        }
        skip(wt, fn2)
      }
      throw new IllegalStateException("unreachable")
    }

    /** Skips a field of the given wire type (for unknown-field preservation the
      * caller captures the byte range instead). An UNKNOWN group is skipped by
      * balancing START/END tags whose FIELD NUMBERS match (protobuf-java
      * rejects a mismatched end-group tag, so accepting any END_GROUP here
      * could silently desync on malformed nesting); a DECLARED proto2 group
      * decodes via groupSlice + the group's message descriptor. */
    def skip(wireType: Int, fieldNum: Int): Unit = skipNested(wireType, fieldNum, 0)

    private def skipNested(wireType: Int, fieldNum: Int, groupDepth: Int): Unit = wireType match {
      case WtVarint  => readVarint64(); ()
      case WtFixed64 => if (pos + 8 > limit) throw new ProtoParseException("truncated fixed64"); pos += 8
      case WtLen     => readSlice(); ()
      case WtFixed32 => if (pos + 4 > limit) throw new ProtoParseException("truncated fixed32"); pos += 4
      case WtStartGroup =>
        if (groupDepth > 100) throw new ProtoParseException("group nesting exceeds 100 levels")
        var done = false
        while (!done) {
          if (!hasRemaining) throw new ProtoParseException("truncated group")
          val (fn2, wt) = readTag()
          if (wt == WtEndGroup) {
            if (fn2 != fieldNum)
              throw new ProtoParseException(
                s"mismatched END_GROUP in unknown group: expected $fieldNum, got $fn2")
            done = true
          } else skipNested(wt, fn2, groupDepth + 1)
        }
      case WtEndGroup =>
        throw new ProtoParseException("unmatched END_GROUP tag")
      case other => throw new ProtoParseException(s"invalid wire type $other")
    }
  }

  def zigzagDecode32(n: Int): Int = (n >>> 1) ^ -(n & 1)
  def zigzagDecode64(n: Long): Long = (n >>> 1) ^ -(n & 1L)
  def zigzagEncode32(n: Int): Int = (n << 1) ^ (n >> 31)
  def zigzagEncode64(n: Long): Long = (n << 1) ^ (n >> 63)

  /** Append-only writer. */
  final class Writer {
    private val out = new ByteArrayOutputStream(64)

    def size: Int = out.size()
    def toBytes: Array[Byte] = out.toByteArray

    def writeRaw(bytes: Array[Byte]): Unit = out.write(bytes, 0, bytes.length)

    def writeVarint64(value: Long): Unit = {
      var v = value
      while ((v & ~0x7fL) != 0) {
        out.write(((v & 0x7f) | 0x80).toInt)
        v >>>= 7
      }
      out.write(v.toInt)
    }

    def writeFixed32(value: Int): Unit = {
      out.write(value & 0xff)
      out.write((value >>> 8) & 0xff)
      out.write((value >>> 16) & 0xff)
      out.write((value >>> 24) & 0xff)
    }

    def writeFixed64(value: Long): Unit = {
      var i = 0
      while (i < 8) {
        out.write(((value >>> (8 * i)) & 0xff).toInt)
        i += 1
      }
    }

    def writeTag(fieldNumber: Int, wireType: Int): Unit =
      writeVarint64((fieldNumber.toLong << 3) | wireType.toLong)

    def writeLenDelimited(fieldNumber: Int, bytes: Array[Byte]): Unit = {
      writeTag(fieldNumber, WtLen)
      writeVarint64(bytes.length.toLong)
      writeRaw(bytes)
    }
  }
}
