package graft.util

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types._

/** The driver lane: the one rule by which an operator runs on an input
  * small enough for one task (`Bfs.reachable`, `TemporalReach`, the SCC,
  * BPE, exact betweenness, star clustering, the prefix scan, the
  * snapshot lane) instead of its at-scale plan. Every such operator
  * reads its bound, its probe, its id-type rule and its value order
  * here, so the lanes of all operators agree on when they run and on
  * what ids they accept. Both lanes give the same rows; the driver lane
  * only removes the per-round job overhead that dominates small inputs.
  *
  * The bounds are fixed, not tuned per call site. [[withBound]] replaces
  * both for the duration of a block, so a spec can send an operator to
  * its at-scale path (bound 0) or to the edge of the lane.
  */
private[graft] object DriverLane {

  /** Largest input, in rows, an operator takes onto the driver lane. */
  val Rows: Int = 1 << 20

  /** Largest policy-retained findings frame `GetSnapshot` fetches and
    * weaves on the driver. */
  val Findings: Int = 1 << 16

  // Process-wide, not thread-local: builders run on pool threads.
  @volatile private var forced: Option[Int] = None

  /** The row bound in force: [[Rows]], or the [[withBound]] override. */
  def rows: Int = forced.getOrElse(Rows)

  /** The findings bound in force: [[Findings]], or the [[withBound]]
    * override. */
  def findings: Int = forced.getOrElse(Findings)

  /** Runs `body` with both bounds set to `n`, restoring the previous
    * bounds after. `0` sends every operator to its at-scale path. */
  def withBound[T](n: Int)(body: => T): T = {
    val old = forced
    forced = Some(n)
    try body
    finally forced = old
  }

  /** `df`'s rows when there are at most `bound` of them, else None. One
    * `limit(bound + 1).collect()`, which doubles as the fetch; no job
    * when `bound` is 0. */
  def fetch(df: DataFrame, bound: Int = rows): Option[Array[Row]] =
    if (bound <= 0) None
    else Some(df.limit(bound + 1).collect()).filter(_.length <= bound)

  /** Whether `df` has at most [[rows]] rows: a count over
    * `limit(bound + 1)` of a constant projection, so column pruning
    * reaches the scan and no column is evaluated. */
  def fits(df: DataFrame): Boolean = {
    val bound = rows
    bound > 0 && df.select(lit(1)).limit(bound + 1).count() <= bound
  }

  /** The type the driver lane matches ids of these column types in, or
    * None when they must take the at-scale path. Equal types pass and
    * mixed integrals widen to BIGINT; the result must be a type whose
    * JVM equality is Spark's grouping equality. Floating types are not
    * (Spark groups NaN with NaN and -0.0 with 0.0), nor binary ones
    * (arrays compare by reference), nor strings under a collation other
    * than UTF-8 binary. */
  def idType(types: DataType*): Option[DataType] = {
    def integral(t: DataType) = t match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    val t =
      if (types.distinct.size == 1) Some(types.head)
      else if (types.forall(integral)) Some(LongType)
      else None
    t.filter {
      case s: StringType => s.collationId == StringType.collationId
      case ByteType | ShortType | IntegerType | LongType | BooleanType |
          DateType | TimestampType | TimestampNTZType => true
      case _: DecimalType => true
      case _ => false
    }
  }

  /** Spark's string order: UTF-8 bytes compared unsigned, as
    * `UTF8String` does. Java's `compareTo` compares UTF-16 code units,
    * which differs on supplementary-plane characters, so only strings
    * with no surrogate compare by `compareTo` (there the two orders
    * agree); others are encoded as `UTF8String.fromString` encodes
    * them, a lone surrogate as `?`. */
  val strings: Ordering[String] = new Ordering[String] {
    private def bmp(s: String): Boolean = {
      var i = 0
      while (i < s.length && !Character.isSurrogate(s.charAt(i))) i += 1
      i == s.length
    }
    override def compare(a: String, b: String): Int =
      if (bmp(a) && bmp(b)) a.compareTo(b)
      else java.util.Arrays.compareUnsigned(
        a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        b.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Spark's value order on ids of a type [[idType]] accepts: strings
    * by [[strings]], every other value by its boxed `compareTo`. */
  def order(t: DataType): Ordering[Any] = t match {
    case _: StringType => strings.on[Any](_.asInstanceOf[String])
    case _ => new Ordering[Any] {
      override def compare(a: Any, b: Any): Int =
        a.asInstanceOf[Comparable[Any]].compareTo(b)
    }
  }
}
