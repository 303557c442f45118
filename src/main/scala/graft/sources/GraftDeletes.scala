package graft.sources

import org.apache.spark.unsafe.types.UTF8String

import scala.reflect.ClassTag

/** The deletes that apply to one data file, or, loaded with commit stamps,
  * to one change window: sorted position ordinals plus one sorted key set
  * per equality-key kind. The companion owns graftlog's whole delete-key
  * rule: the `.graftdel` line codec, the one loader, the one dead-row
  * probe and the one key-range zone test. The upsert sink writes through
  * it; the scan cursor, compaction's absorb walk and the changelog (batch
  * and stream) read through it.
  *
  * Format. A position-delete file has no header; each line is
  * `<dataFileName>\t<ordinal>`. An equality-delete file starts with the
  * header `eq <col>[,<col>...]` naming its key columns (event_id, user_id,
  * event_type) in key order, then holds one key per line: a long
  * component as decimal digits, the string component as base64url of its
  * bytes with the empty string as the lone marker '.', and the components
  * of a composite key joined by ':'. Neither ':' nor '.' occurs in another
  * component's encoding, so the codec is injective, and no key line is
  * blank or equal to a header. An equality-delete file applies to every
  * data file its manifest coverage names. */
private[sources] final case class GraftDeletes(pos: Array[Long],
    keys: Array[GraftDeletes.KeySet]) {
  /** Some key kind reads event_type, so a probing reader must decode it. */
  def needsEtype: Boolean = keys.exists(_.ords.contains(3))

  /** The row's key is in some kind's set. */
  def dead(eid: Long, uid: Long, ety: UTF8String): Boolean = {
    var i = 0
    while (i < keys.length) {
      if (keys(i).indexOf(eid, uid, ety) >= 0) return true
      i += 1
    }
    false
  }

  /** First-kill stamp of the row's key across kinds (a stamped load),
    * Long.MinValue when no kind kills it. */
  def killStamp(eid: Long, uid: Long, ety: UTF8String): Long = {
    var st = Long.MaxValue
    var i = 0
    while (i < keys.length) {
      val j = keys(i).indexOf(eid, uid, ety)
      if (j >= 0) st = math.min(st, keys(i).stamps(j))
      i += 1
    }
    if (st == Long.MaxValue) Long.MinValue else st
  }
}

private[sources] object GraftDeletes {
  val NONE: GraftDeletes = GraftDeletes(Array.emptyLongArray, Array.empty)

  // ---- line codec ------------------------------------------------------

  private val EQ_DELETE_HEADER = "eq "

  /** Header line of an equality-delete file keyed on `ords`. */
  def header(ords: Seq[Int]): String =
    EQ_DELETE_HEADER + ords.map(GraftLog.colName).mkString(",")

  /** Key ordinals named by a delete file's first line; None for a
    * position-delete file, which has no header. */
  def headerOrds(head: String): Option[Seq[Int]] =
    if (!head.startsWith(EQ_DELETE_HEADER)) None
    else {
      val ords = head.substring(EQ_DELETE_HEADER.length).split(',').toSeq
        .map(GraftLog.ordinal)
      require(ords.forall(o => o == 0 || o == 1 || o == 3) &&
          ords.distinct.size == ords.size,
        s"corrupt equality-delete header: '$head'")
      Some(ords)
    }

  // The string component: base64url, with the empty key as '.' (a plain
  // encode of "" is an empty line, which readers skip as a blank).
  private def encEqKeyLine(k: Array[Byte]): String =
    if (k.isEmpty) "." else GraftBinBounds.enc(k)
  private def decEqKeyLine(s: String): Array[Byte] =
    if (s == ".") Array.emptyByteArray else GraftBinBounds.dec(s)

  /** The key line of a row for key columns `ords`; slots outside the key
    * are ignored. */
  def encKey(eid: Long, uid: Long, ety: UTF8String, ords: Seq[Int]): String =
    ords.map {
      case 0 => eid.toString
      case 1 => uid.toString
      case _ => encEqKeyLine(ety.getBytes)
    }.mkString(":")

  private def corrupt(where: String, line: String, kind: String): Nothing =
    throw new IllegalArgumentException(s"corrupt $kind record in $where: '$line'")
  private def decLong(s: String, line: String, where: String,
      kind: String = "equality-delete"): Long =
    if (s.startsWith("+")) corrupt(where, line, kind)
    else try java.lang.Long.parseLong(s) catch {
      case _: NumberFormatException => corrupt(where, line, kind)
    }
  private def decStr(s: String, line: String, where: String): UTF8String =
    try UTF8String.fromBytes(decEqKeyLine(s)) catch {
      case _: IllegalArgumentException => corrupt(where, line, "equality-delete")
    }

  /** One key line of kind `ords` as its (event_id, user_id, event_type)
    * slots; slots outside the key stay 0 / null. */
  def decKey(line: String, ords: Seq[Int], where: String): (Long, Long, UTF8String) = {
    val parts = if (ords.lengthIs == 1) Array(line) else line.split(":", -1)
    if (parts.length != ords.length) corrupt(where, line, "equality-delete")
    var eid = 0L; var uid = 0L; var ety: UTF8String = null
    ords.indices.foreach { i =>
      ords(i) match {
        case 0 => eid = decLong(parts(i), line, where)
        case 1 => uid = decLong(parts(i), line, where)
        case _ => ety = decStr(parts(i), line, where)
      }
    }
    (eid, uid, ety)
  }

  /** One position-delete line as (data file name, record ordinal). */
  def decPos(line: String, where: String): (String, Long) = {
    val t = line.indexOf('\t')
    if (t <= 0) corrupt(where, line, "delete")
    (line.substring(0, t), decLong(line.substring(t + 1), line, where, "delete"))
  }

  /** A delete file's text for one key set: header plus one line per key;
    * empty for an empty set. */
  def render(set: KeySet): String = {
    val lines = set.lines
    if (!lines.hasNext) ""
    else {
      val sb = new StringBuilder(header(set.ords)).append('\n')
      lines.foreach(l => sb.append(l).append('\n'))
      sb.toString
    }
  }

  // ---- loader ------------------------------------------------------------

  /** The deletes covering data file `dataName`, read from the delete files
    * `paths`: its position ordinals and every equality key. */
  def load(paths: Seq[String], dataName: String): GraftDeletes =
    read(paths.map(p => (p, 0L)), dataName, stamped = false)

  /** A change window's kill sets, read from its delete files with their
    * commit stamps in commit order: each key keeps its first-kill stamp.
    * The changes stream derives deletes from keys only, so a position
    * record refuses. */
  def loadStamped(files: Seq[(String, Long)]): GraftDeletes =
    read(files, "", stamped = true)

  private def read(files: Seq[(String, Long)], dataName: String,
      stamped: Boolean): GraftDeletes = {
    if (files.isEmpty) return NONE
    val pos = Array.newBuilder[Long]
    val kinds = scala.collection.mutable.LinkedHashMap.empty[Seq[Int], KindBuilder]
    files.foreach { case (p, stamp) =>
      val lines = GraftFs.readString(p).split('\n')
      headerOrds(if (lines.nonEmpty) lines(0) else "") match {
        case Some(ords) =>
          val into = kinds.getOrElseUpdate(ords, new KindBuilder(ords))
          lines.iterator.drop(1).foreach(l => if (l.nonEmpty) into.add(l, p, stamp))
        case None => lines.foreach { line =>
          if (line.nonEmpty) {
            val t = line.indexOf('\t')
            if (t <= 0) corrupt(p, line, "delete")
            require(!stamped,
              "the graftlog changes STREAM supports equality-delete windows " +
                "(the streaming upsert sink's shape); the commit stamped " +
                s"$stamp added position-delete records ($p) — read that " +
                "window with the batch readChanges surface instead")
            if (t == dataName.length && line.regionMatches(0, dataName, 0, t))
              pos += decLong(line.substring(t + 1), line, p, "delete")
          }
        }
      }
    }
    GraftDeletes(pos.result().sorted,
      kinds.valuesIterator.map(_.result(stamped)).toArray)
  }

  /** One kind's keys as the loader decodes them, with their stamps. */
  private final class KindBuilder(ords: Seq[Int]) {
    private val longs = Array.newBuilder[Long]
    private val strs = Array.newBuilder[UTF8String]
    private val tuples = Array.newBuilder[String]
    private val stamps = Array.newBuilder[Long]
    def add(line: String, where: String, stamp: Long): Unit = {
      ords match {
        case Seq(3) => strs += decStr(line, line, where)
        case Seq(_) => longs += decLong(line, line, where)
        case _ => // canonical re-encode: the probe compares encodes
          val (e, u, t) = decKey(line, ords, where)
          tuples += encKey(e, u, t, ords)
      }
      stamps += stamp
    }
    def result(stamped: Boolean): KeySet = {
      val st = if (stamped) stamps.result() else null
      ords match {
        case Seq(3) =>
          val (k, s) = sortedDistinct(strs.result(), st); new StrKeys(k, s)
        case Seq(o) =>
          val (k, s) = sortedDistinct(longs.result(), st); new LongKeys(o, k, s)
        case _ =>
          val (k, s) = sortedDistinct(tuples.result(), st); new TupleKeys(ords, k, s)
      }
    }
  }

  /** Keys sorted and distinct; with stamps (aligned), each key keeps its
    * smallest. */
  private def sortedDistinct[K: ClassTag: Ordering](ks: Array[K],
      st: Array[Long]): (Array[K], Array[Long]) =
    if (st == null) (ks.distinct.sorted, null)
    else {
      val first = scala.collection.mutable.HashMap.empty[K, Long]
      ks.indices.foreach(i => first.updateWith(ks(i)) {
        case Some(s) => Some(math.min(s, st(i)))
        case None => Some(st(i))
      })
      val k = first.keysIterator.toArray.sorted
      (k, k.map(first))
    }

  // ---- probe -------------------------------------------------------------

  /** One key kind's sorted, distinct keys, with the aligned first-kill
    * stamps of a stamped load (else null). */
  sealed abstract class KeySet extends Serializable {
    def ords: Seq[Int]
    def stamps: Array[Long]
    /** Index of the row's key among the sorted keys, negative if absent. */
    def indexOf(eid: Long, uid: Long, ety: UTF8String): Int
    /** The key lines, in key order. */
    def lines: Iterator[String]
    /** Range of the first key component; None for an empty set. */
    def range: Option[KeyRange]
  }

  final class LongKeys(ord: Int, keys: Array[Long],
      val stamps: Array[Long]) extends KeySet {
    val ords: Seq[Int] = Seq(ord)
    def indexOf(eid: Long, uid: Long, ety: UTF8String): Int =
      java.util.Arrays.binarySearch(keys, if (ord == 0) eid else uid)
    def lines: Iterator[String] = keys.iterator.map(_.toString)
    def range: Option[KeyRange] =
      if (keys.isEmpty) None else Some(LongRange(ord, keys.head, keys.last))
  }

  /** event_type keys in UTF-8 byte order, UTF8String's own order. */
  final class StrKeys(keys: Array[UTF8String],
      val stamps: Array[Long]) extends KeySet {
    val ords: Seq[Int] = Seq(3)
    def indexOf(eid: Long, uid: Long, ety: UTF8String): Int =
      if (ety == null) -1
      else java.util.Arrays.binarySearch(keys.asInstanceOf[Array[AnyRef]], ety)
    def lines: Iterator[String] = keys.iterator.map(k => encEqKeyLine(k.getBytes))
    def range: Option[KeyRange] =
      if (keys.isEmpty) None
      else Some(BytesRange(keys.head.getBytes, keys.last.getBytes))
  }

  /** Composite keys as sorted canonical key lines. Most rows are not
    * deleted, so the probe first searches the sorted first components,
    * allocation-free, and builds the row's key line only on a hit. */
  final class TupleKeys(val ords: Seq[Int], keys: Array[String],
      val stamps: Array[Long]) extends KeySet {
    private val first = ords.head
    private val firstLongs: Array[Long] =
      if (first == 3) null
      else keys.map(k => k.substring(0, k.indexOf(':')).toLong).sorted
    private val firstStrs: Array[UTF8String] =
      if (first != 3) null
      else keys.map(k =>
        UTF8String.fromBytes(decEqKeyLine(k.substring(0, k.indexOf(':'))))).sorted
    def indexOf(eid: Long, uid: Long, ety: UTF8String): Int = {
      val hit = first match {
        case 0 => java.util.Arrays.binarySearch(firstLongs, eid) >= 0
        case 1 => java.util.Arrays.binarySearch(firstLongs, uid) >= 0
        case _ => ety != null && java.util.Arrays.binarySearch(
          firstStrs.asInstanceOf[Array[AnyRef]], ety) >= 0
      }
      if (!hit) -1
      else java.util.Arrays.binarySearch(keys.asInstanceOf[Array[AnyRef]],
        encKey(eid, uid, ety, ords))
    }
    def lines: Iterator[String] = keys.iterator
    def range: Option[KeyRange] =
      if (keys.isEmpty) None
      else if (first == 3) Some(BytesRange(firstStrs.head.getBytes, firstStrs.last.getBytes))
      else Some(LongRange(first, firstLongs.head, firstLongs.last))
  }

  // ---- zone test ---------------------------------------------------------

  /** A key set's range on its first key component: a data file whose zone
    * map lies outside it holds none of the keys. */
  sealed trait KeyRange extends Serializable {
    /** False only when `st` proves the file holds no key in range. */
    def overlaps(st: GraftStats): Boolean
  }
  final case class LongRange(ord: Int, lo: Long, hi: Long) extends KeyRange {
    def overlaps(st: GraftStats): Boolean =
      if (ord == 0) st.eidMax >= lo && st.eidMin <= hi
      else st.uidMax >= lo && st.uidMin <= hi
  }
  /** UTF-8 byte-order range. The file's string bounds are truncated, so
    * they prune only when provably disjoint: minBytes is a lower bound on
    * the file's true min, maxBytes an upper bound on its true max. A file
    * without string bounds stays. */
  final case class BytesRange(lo: Array[Byte], hi: Array[Byte]) extends KeyRange {
    def overlaps(st: GraftStats): Boolean = st.etype.forall(b =>
      java.util.Arrays.compareUnsigned(b.minBytes, hi) <= 0 &&
        b.maxBytes.forall(m => java.util.Arrays.compareUnsigned(m, lo) >= 0))
  }
}
