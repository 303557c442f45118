package graft.sources

import org.apache.spark.sql.connector.expressions.NamedReference
import org.apache.spark.sql.connector.expressions.filter.{Predicate => V2Predicate}
import org.apache.spark.sql.sources.{And, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, IsNotNull, IsNull, LessThan, LessThanOrEqual, Not, Or, StringContains, StringEndsWith, StringStartsWith}
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField}
import org.apache.spark.unsafe.types.UTF8String

/** A lane a predicate takes into a graftlog scan: the columns it may
  * reference, with their types, and whether it yields pruning HINTS.
  * A claimed lane's translation is exact, evaluated in Spark's place. A
  * hint only bounds which files can match, and Spark still evaluates
  * the predicate: so a hint may keep one side of an AND (each conjunct
  * bounds the file on its own) and never negates (the negation of a
  * bound is no bound). */
private[sources] final case class GraftLane(cols: Seq[StructField], hint: Boolean = false)

/** The predicate lane of a graftlog scan: every predicate that enters a
  * scan arrives as a V2 Predicate and goes through [[GraftLogPredicates.v2ToV1]]
  * in the lane of the columns it names. The translated filter tree is
  * then read by four evaluators: `compile` per record, `evalStamp` per
  * stamp, `statsAccepts` per file and `prunedBuckets` per bucket. */
private[sources] object GraftLogPredicates {
  /** File set named by the runtime group filter: the `_file` =/IN
    * predicates intersect across conjuncts; anything else contributes no
    * constraint. None = unconstrained (sound fallback — the caller
    * rewrites everything). An IN with no literals is the genuine empty
    * set (no file contains a matching row). */
  private[sources] def runtimeFileSet(preds: Array[V2Predicate]): Option[Set[String]] =
    preds.toSeq.flatMap(v2ToV1(_, FILE_LANE)).flatMap {
      case EqualTo(_, f: String) => Some(Set(f))
      case In(_, fs) => Some(fs.map(_.asInstanceOf[String]).toSet)
      case _ => None
    }.reduceOption(_ intersect _)

  /** Buckets a pushed filter tree allows on the bucket column, None = no
    * constraint. Conjuncts (the array, and And nodes) intersect; Or nodes
    * union — and an Or branch with no constraint poisons the whole Or to
    * None (rows could land in any bucket through that branch). Only
    * =/IN on the bucket column itself constrain; every other predicate is
    * bucket-agnostic. Soundness: a dropped bucket can only contain rows
    * every retained filter rejects. */
  private[sources] def prunedBuckets(b: GraftLogBucketSpec,
      filters: Array[Filter]): Option[Set[Int]] = {
    def one(f: Filter): Option[Set[Int]] = f match {
      case EqualTo(a, v: Long) if a == b.col => Some(Set(b.bucketOf(v)))
      case In(a, vs) if a == b.col && vs.forall(_.isInstanceOf[Long]) =>
        Some(vs.map(v => b.bucketOf(v.asInstanceOf[Long])).toSet)
      case And(l, r) => (one(l), one(r)) match {
        case (Some(x), Some(y)) => Some(x intersect y)
        case (x, y) => x.orElse(y)
      }
      case Or(l, r) => for { x <- one(l); y <- one(r) } yield x union y
      case _ => None
    }
    filters.flatMap(one).reduceOption(_ intersect _)
  }

  /** The data columns: claimed (`pushed=[…]`), compiled per record, and
    * pruning buckets and zone maps. Also the runtime-filter and the
    * row-level command's group-filter lane. */
  private[sources] val DATA_LANE = GraftLane(GraftLog.schema.fields.toSeq)
  /** `_pub_stamp`, constant per file: claimed (`stampPruned=[…]`) and
    * evaluated per file, so it prunes files exactly — the time-travel /
    * incremental-read surface (`_pub_stamp > lastSeen` opens only the
    * files published since). */
  private[sources] val STAMP_LANE =
    GraftLane(Seq(StructField("_pub_stamp", LongType, nullable = true)))
  /** `_file`, the group identity of the copy-on-write rewrite. */
  private[sources] val FILE_LANE =
    GraftLane(Seq(StructField("_file", StringType, nullable = false)))
  /** A table's ADDED columns (round 18): zone-map pruning hints only —
    * extras are never claimed, but a file whose W bounds provably exclude
    * the predicate is never opened. */
  private[sources] def hintLane(extra: Array[StructField]): GraftLane =
    GraftLane(extra.toSeq, hint = true)

  /** The one translation of a connector [[V2Predicate]] into the internal
    * (v1-shaped) filter tree the evaluators read: `compile` per record,
    * `evalStamp` per stamp, `statsAccepts` per file and `prunedBuckets`
    * per bucket. None = untranslatable in `lane`: returned to Spark as a
    * residual. Shapes: =, <=> (as =), <>, <, <=, >, >= with the literal
    * on either side (flipped operator); IN (no literals = the empty set);
    * IS [NOT] NULL; STARTS_WITH / ENDS_WITH / CONTAINS on a string column
    * (binary UTF8 comparison, Spark's default collation); AND / OR / NOT
    * over such. A literal must carry its column's type (an int literal
    * widens to a long column) and arrives Catalyst-internal (UTF8String
    * for strings): it is converted to the external form the evaluators
    * expect exactly once, here.
    *
    * NULL literals decline the whole subtree (r15 advice): the reader
    * evaluates pushed trees with two-valued logic, sound only over
    * non-null values, but a null LITERAL brings three-valued semantics
    * back above the rows — `col NOT IN (1, NULL)` selects zero rows in
    * SQL, while a two-valued NOT over a null-dropped IN-set keeps every
    * `col != 1` row. Catalyst folds most of these away, but an IN list
    * with a null survives to the source. Mixed trees (stamp and data
    * columns under one OR) fit no lane and stay residual: never wrong,
    * just unpruned. */
  private[graft] def v2ToV1(p: V2Predicate, lane: GraftLane = DATA_LANE): Option[Filter] = {
    import org.apache.spark.sql.connector.expressions.{Expression => V2Expr, Literal => V2Lit}
    def colOf(e: V2Expr): Option[StructField] = e match {
      case nr: NamedReference if nr.fieldNames.length == 1 =>
        lane.cols.find(_.name == nr.fieldNames()(0))
      case _ => None
    }
    def litOf(e: V2Expr, c: StructField): Option[Any] = e match {
      case l: V2Lit[_] if l.value == null => None
      case l: V2Lit[_] if l.dataType == c.dataType =>
        Some(org.apache.spark.sql.catalyst.CatalystTypeConverters
          .convertToScala(l.value, l.dataType))
      case l: V2Lit[_] if l.dataType == IntegerType && c.dataType == LongType =>
        Some(l.value.asInstanceOf[Number].longValue())
      case _ => None
    }
    def binary(mk: (String, Any) => Filter, flipped: (String, Any) => Filter): Option[Filter] =
      p.children() match {
        case Array(l, r) =>
          colOf(l).flatMap(c => litOf(r, c).map(mk(c.name, _)))
            .orElse(colOf(r).flatMap(c => litOf(l, c).map(flipped(c.name, _))))
        case _ => None
      }
    def string(mk: (String, String) => Filter): Option[Filter] = p.children() match {
      case Array(l, r) => colOf(l).filter(_.dataType == StringType)
        .flatMap(c => litOf(r, c).map(v => mk(c.name, v.asInstanceOf[String])))
      case _ => None
    }
    def child(i: Int): Option[Filter] =
      v2ToV1(p.children()(i).asInstanceOf[V2Predicate], lane)
    def notEq(a: String, v: Any): Filter = Not(EqualTo(a, v))
    p.name() match {
      case "AND" => (child(0), child(1)) match {
        case (Some(l), Some(r)) => Some(And(l, r))
        case (l, r) if lane.hint => l.orElse(r)
        case _ => None
      }
      case "OR" => child(0).zip(child(1)).map { case (l, r) => Or(l, r) }
      case "NOT" if !lane.hint => child(0).map(Not)
      // `<=>` against a non-null literal differs from = only on a NULL
      // row, which neither selects
      case "=" | "<=>" => binary(EqualTo, EqualTo)
      // `<>` over non-nullable columns, and on `_pub_stamp`: evalStamp is
      // three-valued, so a NULL (unstamped) file is not selected
      case "<>" if lane == STAMP_LANE || lane.cols.forall(!_.nullable) => binary(notEq, notEq)
      case ">" => binary(GreaterThan, LessThan)
      case ">=" => binary(GreaterThanOrEqual, LessThanOrEqual)
      case "<" => binary(LessThan, GreaterThan)
      case "<=" => binary(LessThanOrEqual, GreaterThanOrEqual)
      case "IN" => p.children().toSeq match {
        case c +: vs => colOf(c).flatMap { f =>
          val xs = vs.map(litOf(_, f))
          if (xs.forall(_.isDefined)) Some(In(f.name, xs.flatten.toArray)) else None
        }
        case _ => None
      }
      case "IS_NULL" => p.children() match {
        case Array(e) => colOf(e).map(c => IsNull(c.name)); case _ => None
      }
      case "IS_NOT_NULL" => p.children() match {
        case Array(e) => colOf(e).map(c => IsNotNull(c.name)); case _ => None
      }
      case "STARTS_WITH" => string(StringStartsWith)
      case "ENDS_WITH" => string(StringEndsWith)
      case "CONTAINS" => string(StringContains)
      case _ => None
    }
  }

  /** Does a file with publish stamp `s` (-1 = unstamped, i.e. NULL)
    * satisfy the pushed stamp predicate? SQL three-valued logic, NULL
    * collapsed to not-selected at the top — exactly WHERE semantics, so
    * the file-level claim matches what Spark's row filter would keep. */
  private[sources] def stampAccepts(f: Filter, s: Long): Boolean =
    evalStamp(f, s).getOrElse(false)
  private def evalStamp(f: Filter, s: Long): Option[Boolean] = f match {
    case IsNull(_) => Some(s < 0)
    case IsNotNull(_) => Some(s >= 0)
    case EqualTo(_, v) => if (s < 0) None else Some(s == v.asInstanceOf[Number].longValue())
    case GreaterThan(_, v) => if (s < 0) None else Some(s > v.asInstanceOf[Number].longValue())
    case GreaterThanOrEqual(_, v) => if (s < 0) None else Some(s >= v.asInstanceOf[Number].longValue())
    case LessThan(_, v) => if (s < 0) None else Some(s < v.asInstanceOf[Number].longValue())
    case LessThanOrEqual(_, v) => if (s < 0) None else Some(s <= v.asInstanceOf[Number].longValue())
    case In(_, vs) => if (s < 0) None else Some(vs.exists(_.asInstanceOf[Number].longValue() == s))
    case And(l, r) => (evalStamp(l, s), evalStamp(r, s)) match {
      case (Some(false), _) | (_, Some(false)) => Some(false)
      case (Some(true), Some(true)) => Some(true)
      case _ => None
    }
    case Or(l, r) => (evalStamp(l, s), evalStamp(r, s)) match {
      case (Some(true), _) | (_, Some(true)) => Some(true)
      case (Some(false), Some(false)) => Some(false)
      case _ => None
    }
    case Not(c) => evalStamp(c, s).map(!_)
    // the stamp lane builds only these shapes — an unknown one here is a
    // code bug, and silence would mean wrong pruning
    case other => throw new IllegalStateException(s"unexpected stamp filter $other")
  }

  /** Apply pushed stamp predicates to a live-file list (conjuncts all
    * hold). A plain file is one segment stamped by its name — pruning it
    * IS the pushed filter, exactly. A compacted file keeps its merged
    * inputs' ORIGINAL stamps as segments: the file survives if ANY
    * segment matches, and the cursor then drops the non-matching
    * segments (byte-skipped wholesale when possible) so the pushed claim
    * stays exact per ROW — time-travel slices survive compaction. */
  private[sources] def stampPrune(files: Seq[GraftLiveFile],
      stampFilters: Array[Filter]): Seq[GraftLiveFile] =
    if (stampFilters.isEmpty) files
    else files.filter(_.stampedSegments.exists(seg =>
      stampFilters.forall(stampAccepts(_, seg.stamp))))

  /** Zone-map file skipping (round 17): drop files whose per-file min/max
    * stats PROVE a pushed conjunct matches none of their rows. Soundness
    * direction: a file survives unless some conjunct provably rejects it,
    * so unknown predicate shapes, unknown columns (strings, added
    * columns) and stats-less files (pre-r17 manifests, foreign appends)
    * always survive. PUSHED filters only — runtime filters arrive after
    * outputPartitioning() is consulted, the same reason bucket pruning
    * ignores them. */
  private[sources] def statsPrune(files: Seq[GraftLiveFile],
      filters: Array[Filter],
      extra: Array[StructField] = Array.empty): Seq[GraftLiveFile] =
    if (filters.isEmpty) files
    else files.filter(f => f.stats.forall(st =>
      filters.forall(statsAccepts(_, st, extra))))

  /** May any row within `st`'s bounds satisfy `f`? (true = keep file /
    * unknown; only a provable full-file rejection returns false.) Covers
    * the fixed numerics (round 17) plus `event_type` string bounds and
    * ADDED schema-evolution columns (round 18): a range/=/IN conjunct on
    * those prunes via the Y/W bounds, with SQL null semantics — value
    * predicates reject null rows anyway, so bounds over the NON-NULL
    * values prune soundly regardless of how many rows are null, an
    * all-null (present = 0) column rejects every value predicate, and a
    * no-nulls (present = n) column rejects IS NULL. */
  private[sources] def statsAccepts(f: Filter, st: GraftStats,
      extra: Array[StructField] = Array.empty): Boolean = {
    def longRange(col: String): Option[(Long, Long)] = col match {
      case "event_id" => Some((st.eidMin, st.eidMax))
      case "user_id" => Some((st.uidMin, st.uidMax))
      case _ => extraOf(col) match {
        case Some(GraftLongBounds(_, lo, hi)) => Some((lo, hi))
        case _ => None
      }
    }
    def dblRange(col: String): Option[(Double, Double)] = col match {
      case "value" => Some((st.valMin, st.valMax))
      case _ => extraOf(col) match {
        case Some(GraftDoubleBounds(_, lo, hi)) => Some((lo, hi))
        case _ => None
      }
    }
    /** Bounds entry of an ADDED column, None = untracked/unknown. */
    def extraOf(col: String): Option[GraftColBounds] = {
      val i = extra.indexWhere(_.name == col)
      if (i < 0) None else st.extras.get(i)
    }
    /** String bounds of a column (event_type or a string extra). */
    def binOf(col: String): Option[(Long, GraftBinBounds)] =
      if (col == "event_type") st.etype.map(b => (st.n, b))
      else extraOf(col) match {
        case Some(GraftStrColBounds(p, b)) => Some((p, b))
        case _ => None
      }
    /** Non-null count of the column, None = unknown. */
    def presentOf(col: String): Option[Long] =
      if (GraftLog.ordinal(col) >= 0) Some(st.n) // base columns: non-nullable
      else extraOf(col).map(_.present)
    def asLong(v: Any): Option[Long] = v match {
      case l: Long => Some(l)
      case i: Int => Some(i.toLong)
      case s: Short => Some(s.toLong)
      case b: Byte => Some(b.toLong)
      case _ => None
    }
    def asDouble(v: Any): Option[Double] = v match {
      case d: Double => Some(d)
      case f2: Float => Some(f2.toDouble)
      case _ => None
    }
    def asBytes(v: Any): Option[Array[Byte]] = v match {
      case s: String => Some(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      case u: UTF8String => Some(u.getBytes)
      case _ => None
    }
    /** A value predicate on an all-null column matches nothing. */
    def allNull(col: String): Boolean = presentOf(col).contains(0L)
    // `nanKeeps` is the verdict for a NaN comparison LITERAL (r18 advice,
    // low): a file carrying double bounds provably contains NO NaN in
    // that column (a NaN row poisons `value`'s whole stats record and an
    // added column's bounds to GraftAbsentBounds), and under Spark's
    // ordering NaN sorts GREATER than every double — so `col < NaN` /
    // `col <= NaN` is TRUE for every bounded row (keep the file), while
    // `col = NaN` / `col > NaN` / `col >= NaN` can only match NaN rows
    // the file provably lacks (prune it).
    def cmp(col: String, v: Any, nanKeeps: Boolean = false)(
        longTest: (Long, Long, Long) => Boolean,
        dblTest: (Double, Double, Double) => Boolean,
        binTest: (GraftBinBounds, Array[Byte]) => Boolean): Boolean = {
      if (allNull(col)) return false
      longRange(col) match {
        case Some((lo, hi)) => asLong(v).forall(x => longTest(lo, hi, x))
        case None => dblRange(col) match {
          case Some((lo, hi)) =>
            asDouble(v).forall(x => if (x.isNaN) nanKeeps else dblTest(lo, hi, x))
          case None => binOf(col) match {
            case Some((_, b)) => asBytes(v).forall(x => binTest(b, x))
            case None => true // untracked column: no constraint
          }
        }
      }
    }
    def le(a: Array[Byte], b: Array[Byte]): Boolean =
      java.util.Arrays.compareUnsigned(a, b) <= 0
    def lt(a: Array[Byte], b: Array[Byte]): Boolean =
      java.util.Arrays.compareUnsigned(a, b) < 0
    f match {
      case EqualTo(c, v) =>
        cmp(c, v)((lo, hi, x) => x >= lo && x <= hi,
          (lo, hi, x) => x >= lo && x <= hi,
          // min is a lower bound, max an upper bound: x must fit both
          (b, x) => le(b.minBytes, x) && b.maxBytes.forall(m => le(x, m)))
      case GreaterThan(c, v) =>
        cmp(c, v)((_, hi, x) => hi > x, (_, hi, x) => hi > x,
          (b, x) => b.maxBytes.forall(m => lt(x, m)))
      case GreaterThanOrEqual(c, v) =>
        cmp(c, v)((_, hi, x) => hi >= x, (_, hi, x) => hi >= x,
          (b, x) => b.maxBytes.forall(m => le(x, m)))
      case LessThan(c, v) =>
        cmp(c, v, nanKeeps = true)((lo, _, x) => lo < x, (lo, _, x) => lo < x,
          (b, x) => lt(b.minBytes, x))
      case LessThanOrEqual(c, v) =>
        cmp(c, v, nanKeeps = true)((lo, _, x) => lo <= x, (lo, _, x) => lo <= x,
          (b, x) => le(b.minBytes, x))
      case StringStartsWith(c, p) =>
        // rows matching the prefix live in [p, upper(p)); disjoint bounds
        // prove emptiness. The file's max is an UPPER bound and its min a
        // LOWER bound, so both tests stay conservative.
        if (allNull(c)) false
        else binOf(c) match {
          case Some((_, b)) =>
            val px = p.getBytes(java.nio.charset.StandardCharsets.UTF_8)
            b.maxBytes.forall(m => le(px, m)) &&
              GraftBinBounds.upper(px).forall(up => lt(b.minBytes, up))
          case None => true
        }
      case IsNull(c) =>
        // prunable when the column provably has NO nulls in this file
        presentOf(c) match {
          case Some(p) => p < st.n
          case None => true
        }
      case IsNotNull(c) => !allNull(c)
      case In(c, vs) => vs.exists(v => statsAccepts(EqualTo(c, v), st, extra))
      case And(l, r) => statsAccepts(l, st, extra) && statsAccepts(r, st, extra)
      case Or(l, r) => statsAccepts(l, st, extra) || statsAccepts(r, st, extra)
      // Not and anything else: no file-level claim
      case _ => true
    }
  }

  /** Compiled per-record predicate over the decoded fields. */
  private[sources] type Pred = (Long, Long, Double, UTF8String) => Boolean

  /** Compile one pushed Filter to a primitive-comparison closure (constants
    * converted — numeric widening, String -> UTF8String — exactly once).
    * IN-sets (planning-time IN lists and runtime join filters alike)
    * compile to a sorted-array binary search for the numeric columns and a
    * hash set for the string column — O(log n) / O(1) per record, no
    * boxing in the probe. */
  private[sources] def compile(f: Filter): Pred = {
    type Cmp = (Long, Long, Double, UTF8String) => Int
    def cmp(attr: String, v: Any): Cmp = attr match {
      case "event_id" =>
        val x = v.asInstanceOf[Number].longValue()
        (e, _, _, _) => java.lang.Long.compare(e, x)
      case "user_id" =>
        val x = v.asInstanceOf[Number].longValue()
        (_, u, _, _) => java.lang.Long.compare(u, x)
      case "value" =>
        // normalize signed zero on BOTH sides (r13 advice): Double.compare
        // orders -0.0 below 0.0, but Spark SQL treats them as equal — and
        // these conjuncts are claimed as EXACTLY pushed (no residual
        // post-scan Filter), so a stored -0.0 row must match `value = 0.0`
        // here or nothing re-checks it. IEEE: -0.0 + 0.0 == +0.0, other
        // values (incl. NaN) unchanged.
        val x = v.asInstanceOf[Number].doubleValue() + 0.0
        (_, _, d, _) => java.lang.Double.compare(d + 0.0, x)
      case "event_type" =>
        val x = UTF8String.fromString(v.asInstanceOf[String])
        (_, _, _, t) => t.compareTo(x)
      case a => throw new IllegalArgumentException(s"unpushable comparison on $a")
    }
    def inSet(attr: String, values: Array[Any]): Pred = {
      // a null in the IN list can never match a row (the format encodes no
      // nulls, and SQL null-IN semantics resolve to not-matched for
      // filtering) — drop them before compiling
      val vs = values.filter(_ != null)
      attr match {
        case "event_id" | "user_id" =>
          val xs = vs.map(_.asInstanceOf[Number].longValue()).sorted
          if (attr == "event_id") (e, _, _, _) => java.util.Arrays.binarySearch(xs, e) >= 0
          else (_, u, _, _) => java.util.Arrays.binarySearch(xs, u) >= 0
        case "value" =>
          // Double.compare ordering (same as the scalar branch): -0.0
          // normalized in, NaN sorts last and IS matchable — Spark's
          // EqualTo/In treat NaN = NaN as true
          val xs = vs.map(_.asInstanceOf[Number].doubleValue() + 0.0).sorted
          (_, _, d, _) => java.util.Arrays.binarySearch(xs, d + 0.0) >= 0
        case "event_type" =>
          val xs = vs.map(v => UTF8String.fromString(v.asInstanceOf[String])).toSet
          (_, _, _, t) => xs.contains(t)
        case a => throw new IllegalArgumentException(s"unpushable IN on $a")
      }
    }
    f match {
      case EqualTo(a, v) => val c = cmp(a, v); (e, u, d, t) => c(e, u, d, t) == 0
      case GreaterThan(a, v) => val c = cmp(a, v); (e, u, d, t) => c(e, u, d, t) > 0
      case GreaterThanOrEqual(a, v) => val c = cmp(a, v); (e, u, d, t) => c(e, u, d, t) >= 0
      case LessThan(a, v) => val c = cmp(a, v); (e, u, d, t) => c(e, u, d, t) < 0
      case LessThanOrEqual(a, v) => val c = cmp(a, v); (e, u, d, t) => c(e, u, d, t) <= 0
      case In(a, vs) => inSet(a, vs)
      case IsNotNull(_) => (_, _, _, _) => true // format encodes no nulls
      case IsNull(_) => (_, _, _, _) => false   // dito: can never match
      // two-valued boolean composition (sound because the format encodes
      // no nulls — no three-valued-logic corner exists to get wrong);
      // children compiled once, the per-record path is closure calls only
      case And(l, r) =>
        val a = compile(l); val b = compile(r)
        (e, u, d, t) => a(e, u, d, t) && b(e, u, d, t)
      case Or(l, r) =>
        val a = compile(l); val b = compile(r)
        (e, u, d, t) => a(e, u, d, t) || b(e, u, d, t)
      case Not(c) =>
        val a = compile(c)
        (e, u, d, t) => !a(e, u, d, t)
      // byte-wise UTF8String match — identical to Spark's binary collation
      case StringStartsWith(_, v) =>
        val x = UTF8String.fromString(v); (_, _, _, t) => t.startsWith(x)
      case StringEndsWith(_, v) =>
        val x = UTF8String.fromString(v); (_, _, _, t) => t.endsWith(x)
      case StringContains(_, v) =>
        val x = UTF8String.fromString(v); (_, _, _, t) => t.contains(x)
      case other => throw new IllegalArgumentException(s"unexpected pushed filter $other")
    }
  }
}
