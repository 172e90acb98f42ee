package graft.sources

import org.apache.avro.generic.GenericRecord
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.util.sketch.BloomFilter

/** What a pushed filter means on a frame table — the one evaluator
  * behind row filtering, segment pruning, the DELETE fast path and the
  * Bloom gate, so a frame table answers exactly as Spark's own filter
  * would.
  *
  * [[compare]] is Spark's value order: integers as exact 64-bit
  * values, doubles with -0.0 = 0.0 and NaN largest
  * (`SQLOrderingUtil.compareDoubles`), strings by code point, which is
  * `UTF8String`'s UTF-8 byte order.
  *
  * A leaf's answer is a set of SQL truth values ([[True]], [[False]],
  * [[Unknown]] as bits): the values one column can produce when its
  * non-null values lie in [min, max] and `nulls` of `frames` are null.
  * A decoded record is the one-value interval [x, x], so its set has
  * exactly one member. AND/OR combine sets by Kleene's tables; NOT
  * flips a decided (one-member) set and is conservative otherwise.
  * A row survives iff its set is {TRUE}; a segment may match iff TRUE
  * is in its set and must match iff its set is exactly {TRUE}.
  */
object FrameFilter {

  private val True = 1
  private val False = 2
  private val Unknown = 4
  private val Every = True | False | Unknown

  /** Spark's order on two stats-domain values (Long/Integer,
    * Double/Float, String, Boolean). A non-finite double bound reads
    * back from JSON as text ("NaN", "Infinity") and compares as the
    * double it names.
    */
  def compare(a: Any, b: Any): Int = (a, b) match {
    case (x: String, y: String) => compareText(x, y)
    case (x: Number, y: Number) =>
      if (integral(x) && integral(y)) java.lang.Long.compare(x.longValue, y.longValue)
      else {
        val p = x.doubleValue
        val q = y.doubleValue
        if (p == q) 0 else java.lang.Double.compare(p, q)
      }
    case (x: String, y: Number) => compare(java.lang.Double.valueOf(x), y)
    case (x: Number, y: String) => compare(x, java.lang.Double.valueOf(y))
    case (x: java.lang.Boolean, y: java.lang.Boolean) => x.compareTo(y)
    case _ => throw new IllegalStateException(s"uncomparable filter operands: $a vs $b")
  }

  private def integral(n: Number): Boolean =
    n.isInstanceOf[java.lang.Long] || n.isInstanceOf[java.lang.Integer]

  // code-point order on UTF-16: surrogates sort above U+E000..U+FFFF
  private def compareText(a: String, b: String): Int = {
    def key(c: Char): Int = if (c >= 0xE000) c - 0x800 else if (c >= 0xD800) c + 0x2000 else c
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n && a.charAt(i) == b.charAt(i)) i += 1
    if (i < n) key(a.charAt(i)) - key(b.charAt(i)) else a.length - b.length
  }

  /** Which filters the table evaluates exactly: comparisons, IN and
    * null tests on top-level orderable primitive columns, the LIKE
    * shapes `'p%'`, `'%s'` and `'%m%'` on string columns, and AND/OR/NOT
    * over those. Everything else stays post-scan.
    */
  def supported(schema: StructType, f: Filter): Boolean = {
    def typed(ok: DataType => Boolean): Boolean = {
      val c = f.references(0)
      schema.fieldNames.contains(c) && ok(schema(c).dataType)
    }
    def orderable: Boolean = typed(Set[DataType](StringType, IntegerType, LongType, FloatType, DoubleType, BooleanType))
    f match {
      case And(l, r) => supported(schema, l) && supported(schema, r)
      case Or(l, r)  => supported(schema, l) && supported(schema, r)
      case Not(g)    => supported(schema, g)
      case EqualTo(_, v) => v != null && orderable
      case In(_, vs) => vs.forall(_ != null) && orderable
      case _: GreaterThan | _: GreaterThanOrEqual | _: LessThan | _: LessThanOrEqual |
           _: IsNull | _: IsNotNull => orderable
      case StringStartsWith(_, v) => v != null && typed(_ == StringType)
      case StringEndsWith(_, v)   => v != null && typed(_ == StringType)
      case StringContains(_, v)   => v != null && typed(_ == StringType)
      case _ => false
    }
  }

  /** The leaf table: a supported leaf's truth set over a column whose
    * non-null values lie in [mn, mx] (null bounds: unknown) with
    * `nulls` of `frames` null. Only a [[supported]] leaf may reach it:
    * a binary column's stats count every value as a null.
    */
  private def leaf(f: Filter, frames: Long, nulls: Long, mn: Any, mx: Any): Int = {
    val some = nulls < frames
    val unknown = if (nulls > 0) Unknown else 0
    f match {
      case IsNull(_)    => set(nulls > 0, some)
      case IsNotNull(_) => set(some, nulls > 0)
      case _ if !some   => unknown
      case _ if mn == null || mx == null => True | False | unknown
      case _ => values(f, mn, mx) | unknown
    }
  }

  private def set(t: Boolean, f: Boolean): Int = (if (t) True else 0) | (if (f) False else 0)

  private def values(f: Filter, mn: Any, mx: Any): Int = {
    // a decoded record passes one object as both bounds
    val single = (mn.asInstanceOf[AnyRef] eq mx.asInstanceOf[AnyRef]) || compare(mn, mx) == 0
    def exact(t: Boolean): Int = set(t, !t)
    f match {
      case EqualTo(_, v) =>
        val lo = compare(mn, v)
        val hi = if (single) lo else compare(mx, v)
        set(lo <= 0 && hi >= 0, lo != 0 || hi != 0)
      case GreaterThan(_, v)        => set(compare(mx, v) > 0, compare(mn, v) <= 0)
      case GreaterThanOrEqual(_, v) => set(compare(mx, v) >= 0, compare(mn, v) < 0)
      case LessThan(_, v)           => set(compare(mn, v) < 0, compare(mx, v) >= 0)
      case LessThanOrEqual(_, v)    => set(compare(mn, v) <= 0, compare(mx, v) > 0)
      case In(_, vs) =>
        var hit = false
        var i = 0
        while (!hit && i < vs.length) {
          hit = vs(i) != null && (if (single) compare(mn, vs(i)) == 0
            else compare(vs(i), mn) >= 0 && compare(vs(i), mx) <= 0)
          i += 1
        }
        set(hit, !(single && hit))
      case StringStartsWith(_, v) =>
        if (single) exact(mn.toString.startsWith(v))
        // a string with prefix v lies in [mn, mx] iff mn's truncation to
        // v's length is <= v (mn < v, or mn has the prefix) and v <= mx
        else set((compare(mn, v) < 0 || mn.toString.startsWith(v)) && compare(v, mx) <= 0,
          !(mn.toString.startsWith(v) && mx.toString.startsWith(v)))
      case StringEndsWith(_, v) => if (single) exact(mn.toString.endsWith(v)) else True | False
      case StringContains(_, v) => if (single) exact(mn.toString.contains(v)) else True | False
      case other => throw new IllegalStateException(s"unpushable filter $other")
    }
  }

  private def and(a: Int, b: Int): Int =
    if (a == 0 || b == 0) 0
    else (a & b & True) | ((a | b) & False) |
      (if (((a & Unknown) != 0 && (b & ~False) != 0) || ((b & Unknown) != 0 && (a & ~False) != 0)) Unknown else 0)

  private def or(a: Int, b: Int): Int =
    if (a == 0 || b == 0) 0
    else ((a | b) & True) | (a & b & False) |
      (if (((a & Unknown) != 0 && (b & ~True) != 0) || ((b & Unknown) != 0 && (a & ~True) != 0)) Unknown else 0)

  private def not(a: Int): Int = a match {
    case True  => False
    case False => True
    case Unknown | 0 => a
    case _ => Every
  }

  /** `f` as a truth-set function of `x`, given each leaf's. */
  private def tree[X](f: Filter)(leafOf: Filter => X => Int): X => Int = f match {
    case And(l, r) =>
      val (a, b) = (tree(l)(leafOf), tree(r)(leafOf))
      x => { val s = a(x); if (s == False) s else and(s, b(x)) }
    case Or(l, r) =>
      val (a, b) = (tree(l)(leafOf), tree(r)(leafOf))
      x => { val s = a(x); if (s == True) s else or(s, b(x)) }
    case Not(g) => val a = tree(g)(leafOf); x => not(a(x))
    case _ => leafOf(f)
  }

  /** `f`'s truth set over a segment's stats; a column without stats
    * may produce anything.
    */
  private def truths(frames: Long, fields: Map[String, (Long, Any, Any)], f: Filter): Int =
    tree[Map[String, (Long, Any, Any)]](f)(l => _.get(l.references(0)).fold(Every) {
      case (nulls, mn, mx) => leaf(l, frames, nulls, mn, mx)
    })(fields)

  def mayMatch(frames: Long, fields: Map[String, (Long, Any, Any)], f: Filter): Boolean =
    (truths(frames, fields, f) & True) != 0

  def mustMatch(frames: Long, fields: Map[String, (Long, Any, Any)], f: Filter): Boolean =
    truths(frames, fields, f) == True

  /** The row test over a decoded record: kept iff `f` is TRUE. */
  def compile(fieldPos: Map[String, Int], f: Filter): GenericRecord => Boolean = {
    val t = tree[GenericRecord](f) { l =>
      val p = fieldPos(l.references(0))
      r => r.get(p) match {
        case null => leaf(l, 1L, 1L, null, null)
        case x =>
          val v = if (x.isInstanceOf[CharSequence]) x.toString else x
          leaf(l, 1L, 0L, v, v)
      }
    }
    r => t(r) == True
  }

  /** Can a segment with these Bloom filters hold a row satisfying `f`?
    * Only the equality leaves (EqualTo, IN) consult a filter; a value
    * is probed in the write side's domain (integers as long, strings).
    */
  def bloomMayMatch(blooms: Map[String, BloomFilter], f: Filter): Boolean = {
    def holds(c: String, v: Any): Boolean = v != null && blooms.get(c).forall(b => v match {
      case x: java.lang.Long    => b.mightContainLong(x)
      case x: java.lang.Integer => b.mightContainLong(x.longValue)
      case s: String            => b.mightContainString(s)
      case _                    => true
    })
    val t = tree[Unit](f) {
      case EqualTo(c, v) => val ok = holds(c, v); _ => if (ok) Every else False
      case In(c, vs)     => val ok = vs.exists(holds(c, _)); _ => if (ok) Every else False
      case _             => _ => Every
    }
    (t(()) & True) != 0
  }

  /** The columns whose Bloom filters [[bloomMayMatch]] may probe for `f`. */
  def bloomColumns(f: Filter): Set[String] = f match {
    case EqualTo(c, _) => Set(c)
    case In(c, _)      => Set(c)
    case And(l, r)     => bloomColumns(l) ++ bloomColumns(r)
    case Or(l, r)      => bloomColumns(l) ++ bloomColumns(r)
    case _             => Set.empty
  }
}
