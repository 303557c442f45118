package graft.sources

import java.io.{DataInputStream, DataOutputStream, EOFException}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField}
import org.apache.spark.unsafe.types.UTF8String

/** The graftlog record codec. Format, chosen to make pushdown REAL
  * rather than cosmetic:
  *   file   := record*
  *   record := [len: int32][event_id: int64][user_id: int64]
  *             [value: float64][etype_len: int16][etype: utf8 bytes]
  *             [present: byte][value] per ADDED column
  * Fixed-width fields sit at fixed offsets, the one var-width field last —
  * so the reader evaluates pushed predicates on the fixed fields WITHOUT
  * materializing the string, and column pruning decodes only requested
  * fields. A file has no header, so concatenating whole files in publish
  * order IS their merge (compaction's byte copy). The scan cursor
  * ([[GraftLogCursor]]) decodes records field by field; everything else
  * that reads raw records goes through [[GraftLogCodec.foreachRecord]]. */
private[sources] object GraftLogCodec {
  /** Encode one row: the fixed base (len-prefixed, fixed offsets — the
    * pushdown contract) + the schema-evolution tail, one
    * [present: byte][value] field per ADDED column (values: int64 /
    * float64 / [int16 len][bytes]). Shared by the plain, bucketed and
    * replace-data writers, and (with `off = 1`, round 18) by the cluster
    * rewrite, whose rows lead with the carried `_pub_stamp` column.
    * @param off ordinal of the row's first TABLE column
    * @return total bytes written (length prefix included) — the cluster
    *         rewrite's segment-boundary bookkeeping */
  private[sources] def encodeRecord(out: DataOutputStream, r: InternalRow,
      extra: Array[StructField], off: Int = 0,
      stats: GraftStatsTracker = null): Int = {
    val etype = r.getUTF8String(off + 3).getBytes
    if (stats != null) {
      stats.add(r.getLong(off), r.getLong(off + 1), r.getDouble(off + 2))
      stats.addEtype(etype)
    }
    // int16 length field: a >32767-byte string would wrap silently here
    // and only surface as a corrupt record at READ time, after commit —
    // fail the task before publishing instead (r13 review)
    require(etype.length <= Short.MaxValue,
      s"event_type exceeds the format's int16 length field (${etype.length} bytes)")
    var extraLen = 0
    val vals: Array[AnyRef] =
      if (extra.isEmpty) null
      else {
        val vs = new Array[AnyRef](extra.length)
        var i = 0 // slot index (the record tail is positional by slot)
        var ro = 0 // row ordinal among ACTIVE columns (Spark's view)
        while (i < extra.length) {
          if (GraftLog.droppedCol(extra(i))) { vs(i) = null; extraLen += 1 }
          else {
            if (r.isNullAt(off + 4 + ro)) { vs(i) = null; extraLen += 1 }
            else extra(i).dataType match {
              case LongType => vs(i) = Long.box(r.getLong(off + 4 + ro)); extraLen += 9
              case DoubleType => vs(i) = Double.box(r.getDouble(off + 4 + ro)); extraLen += 9
              case StringType =>
                val b = r.getUTF8String(off + 4 + ro).getBytes
                require(b.length <= Short.MaxValue,
                  s"${extra(i).name} exceeds the format's int16 length field (${b.length} bytes)")
                vs(i) = b; extraLen += 3 + b.length
              case other => throw new IllegalStateException(
                s"unencodable added-column type $other") // alterTable validates
            }
            ro += 1
          }
          if (stats != null) stats.addExtra(i, vs(i))
          i += 1
        }
        vs
      }
    val len = 8 + 8 + 8 + 2 + etype.length + extraLen
    out.writeInt(len)
    out.writeLong(r.getLong(off))
    out.writeLong(r.getLong(off + 1))
    out.writeDouble(r.getDouble(off + 2))
    out.writeShort(etype.length)
    out.write(etype)
    if (vals != null) {
      var i = 0
      while (i < vals.length) {
        vals(i) match {
          case null => out.writeByte(0)
          case l: java.lang.Long => out.writeByte(1); out.writeLong(l.longValue())
          case d: java.lang.Double => out.writeByte(1); out.writeDouble(d.doubleValue())
          case b: Array[Byte] =>
            out.writeByte(1); out.writeShort(b.length); out.write(b)
        }
        i += 1
      }
    }
    4 + len
  }

  /** Re-track a raw encoded record's zone-map stats — the upsert
    * writer's duplicate-drop pass recomputes its file's stats from the
    * SURVIVING records (round 19): the streaming tracker saw the
    * superseded rows too, and while superset BOUNDS would stay sound, a
    * superset row COUNT would corrupt the pushed metadata-aggregate
    * path. Mirrors the cursor's decode exactly (big-endian, nullable
    * [present][value] tail). */
  private[sources] def trackRecordStats(buf: Array[Byte], len: Int,
      extra: Array[StructField], stats: GraftStatsTracker): Unit = {
    val bb = java.nio.ByteBuffer.wrap(buf, 0, len)
    val eid = bb.getLong; val uid = bb.getLong; val v = bb.getDouble
    stats.add(eid, uid, v)
    val etLen = bb.getShort
    val et = new Array[Byte](etLen); bb.get(et)
    stats.addEtype(et)
    var i = 0
    while (i < extra.length && bb.remaining() > 0) {
      val present = bb.get()
      if (present != 0) {
        require(present == 1, "corrupt record tail in upsert rewrite")
        extra(i).dataType match {
          case LongType => stats.addExtra(i, Long.box(bb.getLong))
          case DoubleType => stats.addExtra(i, Double.box(bb.getDouble))
          case _ =>
            val l = bb.getShort
            val b = new Array[Byte](l); bb.get(b)
            stats.addExtra(i, b)
        }
      }
      i += 1
    }
  }

  /** The one raw-record walk: calls `f(buf, len)` for every record of
    * `in` in file order, with the record's `len` bytes (length prefix
    * stripped) at the front of `buf`. `buf` is reused across records, so
    * `f` must copy what it keeps. Returns at end of file. */
  private[sources] def foreachRecord(in: DataInputStream)(f: (Array[Byte], Int) => Unit): Unit = {
    var buf = new Array[Byte](256)
    while (true) {
      val len = try in.readInt() catch { case _: EOFException => return }
      if (buf.length < len) buf = new Array[Byte](len)
      in.readFully(buf, 0, len)
      f(buf, len)
    }
  }

  /** A raw encoded record's long key at its fixed offset (event_id at 0,
    * user_id at 8; big-endian). */
  def recordLong(buf: Array[Byte], ord: Int): Long = {
    var v = 0L
    var i = ord * 8
    while (i < ord * 8 + 8) { v = (v << 8) | (buf(i) & 0xffL); i += 1 }
    v
  }
  /** A raw encoded record's event_type: length-prefixed at offset 24,
    * wrapped without a copy. */
  def recordEtype(buf: Array[Byte]): UTF8String =
    UTF8String.fromBytes(buf, 26, ((buf(24) & 0xff) << 8) | (buf(25) & 0xff))
}
