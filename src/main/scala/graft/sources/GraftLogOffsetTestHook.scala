package graft.sources

/** Spec hook: GraftLogOffset is private to the connector; the serde and
  * the compaction arithmetic are correctness surfaces (a mis-parsed or
  * mis-compacted offset silently re-reads or skips files across
  * restarts), so GraftLogSpec pins them through this door. */
private[graft] object GraftLogOffsetTestHook {
  def make(hw: String, lagMs: Long, tail: Seq[String]): String =
    GraftLogOffset(hw, lagMs, tail).json()
  def parse(json: String): (String, Long, Seq[String]) = {
    val o = GraftLogOffset.fromJson(json); (o.hw, o.lagMs, o.tail)
  }
  def seen(json: String, name: String): Boolean =
    GraftLogOffset.fromJson(json).seen(name)
  def seenStamp(json: String, stamp: Long): Boolean =
    GraftLogOffset.fromJson(json).seenStamp(stamp)
  def admit(json: String, admitted: Seq[String], sessionLagMs: Long): String =
    GraftLogOffset.fromJson(json).admit(admitted, sessionLagMs).json()
  def admitSegs(json: String, admitted: Seq[String], sessionLagMs: Long,
      delivered: Seq[Long]): String =
    GraftLogOffset.fromJson(json).admit(admitted, sessionLagMs, delivered).json()
  def segsOf(json: String): Seq[Long] = GraftLogOffset.fromJson(json).segStamps
  def publishName(millis: Long, seq: Int, tag: String): String =
    GraftLogNames.publish(millis, seq, tag)
  def nextStamp(): Long = GraftLogNames.nextStamp()
}
