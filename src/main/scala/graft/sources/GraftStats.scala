package graft.sources

import org.apache.spark.sql.types.{DoubleType, LongType, StructField}

/** Per-file column statistics (round 17 — the manifest's zone map):
  * min/max of the three fixed numeric columns, recorded by the task
  * writers at encode time and carried through the manifest so a scan can
  * skip whole files on any pushed range/equality predicate — Iceberg's
  * per-file stats, the data-skipping lever that makes a range query on a
  * clustered 100 TB landing open only the overlapping files. Bounds, not
  * exact sets: compaction merges them without decoding (a superset bound
  * stays sound when position deletes shrink a file), and files without
  * stats (pre-r17 manifests, foreign appends) are simply never skipped.
  * The base columns are non-nullable by schema, so no null bookkeeping;
  * a file with any NaN `value` row records no stats at all (NaN orders
  * with nothing). This file holds the model (bounds per column, their
  * merge and their manifest tokens) and [[GraftStatsTracker]], the
  * writers' accumulator; [[GraftLogPredicates.statsAccepts]] reads it.
  */

/** Truncated binary-collation bounds for a STRING column (round 18 —
  * Iceberg's truncate(16) bound semantics): `minB64` holds a <=16-byte
  * prefix of the true minimum (truncation only lowers a lower bound, so
  * it stays sound); `maxB64` holds a sound UPPER bound — the true
  * maximum when it fit, else its 16-byte prefix with the last non-0xff
  * byte incremented and the tail dropped, or None when every prefix byte
  * was 0xff (unbounded above). Base64url keeps the manifest token free
  * of spaces/commas/colons. */
private[sources] final case class GraftBinBounds(minB64: String,
    maxB64: Option[String]) {
  def minBytes: Array[Byte] = GraftBinBounds.dec(minB64)
  def maxBytes: Option[Array[Byte]] = maxB64.map(GraftBinBounds.dec)
  def merge(o: GraftBinBounds): GraftBinBounds = {
    val mn = if (java.util.Arrays.compareUnsigned(minBytes, o.minBytes) <= 0)
      minB64 else o.minB64
    val mx = (maxBytes, o.maxBytes) match {
      case (Some(a), Some(b)) =>
        Some(if (java.util.Arrays.compareUnsigned(a, b) >= 0) maxB64.get
          else o.maxB64.get)
      case _ => None
    }
    GraftBinBounds(mn, mx)
  }
  def encode: String = s"$minB64:${maxB64.getOrElse(".")}"
}
private[sources] object GraftBinBounds {
  def enc(b: Array[Byte]): String =
    java.util.Base64.getUrlEncoder.withoutPadding.encodeToString(b)
  def dec(s: String): Array[Byte] = java.util.Base64.getUrlDecoder.decode(s)
  /** Bounds from the TRUE min/max byte strings, truncated soundly. */
  def of(minFull: Array[Byte], maxFull: Array[Byte]): GraftBinBounds =
    GraftBinBounds(enc(minFull.take(16)),
      (if (maxFull.length <= 16) Some(maxFull) else upper(maxFull.take(16)))
        .map(enc))
  /** Smallest byte string GREATER than every string with this prefix:
    * last non-0xff byte incremented, tail dropped; None if all 0xff. */
  def upper(prefix: Array[Byte]): Option[Array[Byte]] = {
    var i = prefix.length - 1
    while (i >= 0 && prefix(i) == -1) i -= 1
    if (i < 0) None
    else {
      val out = java.util.Arrays.copyOf(prefix, i + 1)
      out(i) = (out(i) + 1).toByte
      Some(out)
    }
  }
  def decode(body: String, where: String): GraftBinBounds = {
    val i = body.indexOf(':')
    require(i >= 0, s"bad string-bounds token '$body' in $where")
    val mx = body.substring(i + 1)
    GraftBinBounds(body.substring(0, i), if (mx == ".") None else Some(mx))
  }
}

/** Per-ADDED-column statistics (round 18, schema-evolution zone maps):
  * `present` counts the file's NON-NULL values; bounds cover exactly
  * those. Absent bounds with present > 0 = poisoned (a NaN double) — no
  * claims; present == 0 = the column is all-null in this file (older
  * records, or genuinely null rows), which value predicates can prune
  * on. Kind-tagged manifest encodings: l/d/s/n. */
private[sources] sealed trait GraftColBounds {
  def present: Long
  def merge(o: GraftColBounds): GraftColBounds = (this, o) match {
    case (a, b) if a.present == 0 && a.isInstanceOf[GraftAbsentBounds] => b
    case (a, b) if b.present == 0 && b.isInstanceOf[GraftAbsentBounds] => a
    case (GraftLongBounds(p1, a1, b1), GraftLongBounds(p2, a2, b2)) =>
      GraftLongBounds(p1 + p2, math.min(a1, a2), math.max(b1, b2))
    case (GraftDoubleBounds(p1, a1, b1), GraftDoubleBounds(p2, a2, b2)) =>
      GraftDoubleBounds(p1 + p2, math.min(a1, a2), math.max(b1, b2))
    case (GraftStrColBounds(p1, b1), GraftStrColBounds(p2, b2)) =>
      GraftStrColBounds(p1 + p2, b1.merge(b2))
    // a poisoned side (or a kind clash, which only corruption produces)
    // degrades to claim-nothing — sound in the keep-the-file direction
    case (a, b) => GraftAbsentBounds(a.present + b.present)
  }
  def encode: String
}
private[sources] final case class GraftLongBounds(present: Long,
    min: Long, max: Long) extends GraftColBounds {
  def encode = s"l:$present:$min:$max"
}
private[sources] final case class GraftDoubleBounds(present: Long,
    min: Double, max: Double) extends GraftColBounds {
  def encode = s"d:$present:${java.lang.Double.doubleToRawLongBits(min)}:" +
    s"${java.lang.Double.doubleToRawLongBits(max)}"
}
private[sources] final case class GraftStrColBounds(present: Long,
    bounds: GraftBinBounds) extends GraftColBounds {
  def encode = s"s:$present:${bounds.encode}"
}
/** All-null (present = 0) or bounds-poisoned (present > 0, e.g. NaN). */
private[sources] final case class GraftAbsentBounds(present: Long)
    extends GraftColBounds {
  def encode = s"n:$present"
}
private[sources] object GraftColBounds {
  def decode(body: String, where: String): (Int, GraftColBounds) = {
    // split with limit -1: Java's default split DROPS trailing empty
    // tokens, and a string column whose non-null values are all empty
    // strings encodes its bounds as '<i>:s:<p>::' (base64 of "" is "") —
    // the default split would hand back 3 parts and every subsequent
    // resolve of the table would fail on its own committed manifest
    // (r18 advice, high).
    val parts = body.split(":", -1)
    def bad() = throw new IllegalStateException(
      s"bad column-bounds token '$body' in $where")
    if (parts.length < 3) bad()
    val idx = parts(0).toInt
    val cb = parts(1) match {
      case "l" if parts.length == 5 =>
        GraftLongBounds(parts(2).toLong, parts(3).toLong, parts(4).toLong)
      case "d" if parts.length == 5 =>
        GraftDoubleBounds(parts(2).toLong,
          java.lang.Double.longBitsToDouble(parts(3).toLong),
          java.lang.Double.longBitsToDouble(parts(4).toLong))
      case "s" if parts.length == 5 =>
        GraftStrColBounds(parts(2).toLong,
          GraftBinBounds(parts(3), if (parts(4) == ".") None else Some(parts(4))))
      case "n" if parts.length == 3 => GraftAbsentBounds(parts(2).toLong)
      case _ => bad()
    }
    (idx, cb)
  }
}

private[sources] final case class GraftStats(n: Long,
    eidMin: Long, eidMax: Long,
    uidMin: Long, uidMax: Long, valMin: Double, valMax: Double,
    etype: Option[GraftBinBounds] = None,
    extras: Map[Int, GraftColBounds] = Map.empty) {
  /** Union of two files' stats (compaction's no-decode merge). The row
    * count is EXACT only while no position delete covers the file —
    * compaction of delete-carrying inputs recomputes by walking anyway,
    * and the metadata-aggregate path refuses covered files. String and
    * evolved-column bounds (round 18) merge alongside; a side missing a
    * column's entry wrote it before the ALTER — its rows are all null
    * there, so the other side's bounds stand with present unchanged. */
  def merge(o: GraftStats): GraftStats = GraftStats(n + o.n,
    math.min(eidMin, o.eidMin), math.max(eidMax, o.eidMax),
    math.min(uidMin, o.uidMin), math.max(uidMax, o.uidMax),
    math.min(valMin, o.valMin), math.max(valMax, o.valMax),
    (etype, o.etype) match {
      case (Some(a), Some(b)) => Some(a.merge(b))
      case _ => None
    },
    (extras.keySet ++ o.extras.keySet).iterator.map { i =>
      (i, (extras.get(i), o.extras.get(i)) match {
        case (Some(a), Some(b)) => a.merge(b)
        case (Some(a), None) => a
        case (None, Some(b)) => b
        case (None, None) => GraftAbsentBounds(0) // unreachable
      })
    }.toMap)
  /** Manifest token: `Z`-prefixed (a segment spec starts with a digit,
    * so the optional F-line tokens stay unambiguous); doubles as raw
    * bits for exact round-trips. The round-18 string/evolved bounds ride
    * as separate Y/W tokens so pre-r18 manifests parse unchanged. */
  def encode: String =
    s"Z$n:$eidMin:$eidMax:$uidMin:$uidMax:" +
      s"${java.lang.Double.doubleToRawLongBits(valMin)}:" +
      s"${java.lang.Double.doubleToRawLongBits(valMax)}"
}
private[sources] object GraftStats {
  def decode(tok: String, where: String): GraftStats = {
    val parts = tok.substring(1).split(':')
    require(tok.startsWith("Z") && parts.length == 7,
      s"bad stats token '$tok' in $where")
    GraftStats(parts(0).toLong, parts(1).toLong, parts(2).toLong,
      parts(3).toLong, parts(4).toLong,
      java.lang.Double.longBitsToDouble(parts(5).toLong),
      java.lang.Double.longBitsToDouble(parts(6).toLong))
  }
}

/** Executor-side min/max tracker for every zone-mapped column — the
  * per-file stats recorded while encoding: the fixed numerics (round 17),
  * plus `event_type` string bounds and the ADDED schema-evolution
  * columns (round 18). A NaN `value` poisons the whole record of stats
  * (NaN orders with nothing — bounds that ignored it would wrongly
  * prune); a NaN in an ADDED double column poisons only that column's
  * bounds (GraftAbsentBounds with its present count). String bounds are
  * tracked full-length and truncated soundly at result() (Iceberg's
  * truncate-16 upper-bound increment). */
private final class GraftStatsTracker(extra: Array[StructField] = Array.empty) {
  private var n = 0L
  private var nan = false
  private var eidMin = Long.MaxValue; private var eidMax = Long.MinValue
  private var uidMin = Long.MaxValue; private var uidMax = Long.MinValue
  private var valMin = Double.MaxValue; private var valMax = Double.MinValue
  private var etMin: Array[Byte] = null
  private var etMax: Array[Byte] = null
  private val nx = extra.length
  private val exPresent = if (nx == 0) null else new Array[Long](nx)
  private val exNan = if (nx == 0) null else new Array[Boolean](nx)
  private val exLongMin = if (nx == 0) null else Array.fill(nx)(Long.MaxValue)
  private val exLongMax = if (nx == 0) null else Array.fill(nx)(Long.MinValue)
  private val exDblMin = if (nx == 0) null else Array.fill(nx)(Double.MaxValue)
  private val exDblMax = if (nx == 0) null else Array.fill(nx)(Double.MinValue)
  private val exBinMin = if (nx == 0) null else new Array[Array[Byte]](nx)
  private val exBinMax = if (nx == 0) null else new Array[Array[Byte]](nx)

  def add(eid: Long, uid: Long, v: Double): Unit = {
    n += 1
    if (eid < eidMin) eidMin = eid
    if (eid > eidMax) eidMax = eid
    if (uid < uidMin) uidMin = uid
    if (uid > uidMax) uidMax = uid
    if (v.isNaN) nan = true
    else {
      if (v < valMin) valMin = v
      if (v > valMax) valMax = v
    }
  }
  /** `b` must be a freshly-allocated array (the encoder's own copy). */
  def addEtype(b: Array[Byte]): Unit = {
    if (etMin == null || java.util.Arrays.compareUnsigned(b, etMin) < 0) etMin = b
    if (etMax == null || java.util.Arrays.compareUnsigned(b, etMax) > 0) etMax = b
  }
  /** `v` is the encoder's boxed value: Long / Double / byte[] / null. */
  def addExtra(i: Int, v: AnyRef): Unit = v match {
    case null => ()
    case l: java.lang.Long =>
      exPresent(i) += 1
      val x = l.longValue()
      if (x < exLongMin(i)) exLongMin(i) = x
      if (x > exLongMax(i)) exLongMax(i) = x
    case d: java.lang.Double =>
      exPresent(i) += 1
      val x = d.doubleValue()
      if (x.isNaN) exNan(i) = true
      else {
        if (x < exDblMin(i)) exDblMin(i) = x
        if (x > exDblMax(i)) exDblMax(i) = x
      }
    case b: Array[Byte] =>
      exPresent(i) += 1
      if (exBinMin(i) == null ||
          java.util.Arrays.compareUnsigned(b, exBinMin(i)) < 0) exBinMin(i) = b
      if (exBinMax(i) == null ||
          java.util.Arrays.compareUnsigned(b, exBinMax(i)) > 0) exBinMax(i) = b
    case other => throw new IllegalStateException(s"untrackable value $other")
  }
  def result: Option[GraftStats] =
    if (n == 0 || nan) None
    else Some(GraftStats(n, eidMin, eidMax, uidMin, uidMax, valMin, valMax,
      etype =
        if (etMin == null) None else Some(GraftBinBounds.of(etMin, etMax)),
      extras = (0 until nx).map { i =>
        (i,
          if (exPresent(i) == 0) GraftAbsentBounds(0)
          else extra(i).dataType match {
            case LongType => GraftLongBounds(exPresent(i), exLongMin(i), exLongMax(i))
            case DoubleType =>
              if (exNan(i)) GraftAbsentBounds(exPresent(i))
              else GraftDoubleBounds(exPresent(i), exDblMin(i), exDblMax(i))
            case _ => GraftStrColBounds(exPresent(i),
              GraftBinBounds.of(exBinMin(i), exBinMax(i)))
          })
      }.toMap))
}
