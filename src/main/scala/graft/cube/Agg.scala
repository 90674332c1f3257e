package graft.cube

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Accumulator semantics re-expressed as Spark aggregate Columns.
  *
  * Mirrors the reference accumulator set (bacon/accumulators.py:20-393)
  * but compiles to Catalyst aggregate expressions so partial (map-side)
  * aggregation, whole-stage codegen and AQE all apply — the reference's
  * single-threaded fold becomes a distributed two-phase aggregation.
  *
  * Each accumulator also carries its own merge rule (the reference's
  * per-accumulator merge): [[remerge]] for a finished value that merges
  * as it stands, or [[Agg.Quotient]] parts for a quotient that does not.
  * [[Agg.merge]] is the one re-aggregation built from those rules — the
  * CuttingBoard's slice reuse, its append and delete maintenance and the
  * salted two-phase aggregation all run it.
  */
sealed trait Agg {
  /** Build the aggregate Column for measure expression `c`. */
  def compile(c: Column): Column

  /** How a column of this accumulator's FINISHED values re-aggregates
    * (a cached slice's measure, a salted partial). None when the
    * finished value alone does not merge: a quotient merges through its
    * parts, and the rest have no bounded mergeable form at all.
    */
  def remerge: Option[Column => Column] = None

  /** A finished slice of it merges to a coarser grain ([[Agg.merge]]). */
  def mergeable: Boolean = remerge.isDefined

  /** Deleting rows is undone at delta cost: the cached form (finished
    * value or quotient parts) is a linear sum of per-row contributions,
    * so the deleted rows' slice is merged as a negated delta.
    */
  def invertible: Boolean = false
}

object Agg {

  /** A measure as the merge rules see it: output name, expression, Agg. */
  type Spec = (String, Column, Agg)

  /** An accumulator whose finished value divides additive parts (Σx,
    * Σx², counts). The parts ride the aggregation as hidden companion
    * columns ([[companions]]) and merge by summing — a delete merges
    * them as a negated delta; the finished value is rebuilt from them
    * after — never avg-of-avgs.
    */
  sealed trait Quotient extends Agg {
    /** The parts as (suffix, aggregate over measure expression `c`). */
    def parts(c: Column): Seq[(String, Column)]
    /** The finished value from merged parts: `part(suffix)` reads one,
      * `n` is the group's row count.
      */
    def rebuild(part: String => Column, n: Column): Column
    override def mergeable: Boolean = true
    override def invertible: Boolean = true
  }

  /** bacon/accumulators.py:20 — plain sum (nulls skipped). */
  case object Sum extends Agg {
    def compile(c: Column): Column = sum(c)
    override def remerge: Option[Column => Column] = Some(compile)
    override def invertible: Boolean = true
  }

  /** bacon/accumulators.py:137 — counts *records*, not non-null values. */
  case object Count extends Agg {
    def compile(c: Column): Column = count(lit(1))
    override def remerge: Option[Column => Column] = Some(c => sum(c)) // counts add
    override def invertible: Boolean = true
  }

  /** bacon/accumulators.py:108 */
  case object Min extends Agg {
    def compile(c: Column): Column = min(c)
    override def remerge: Option[Column => Column] = Some(compile)
  }

  /** bacon/accumulators.py:79 */
  case object Max extends Agg {
    def compile(c: Column): Column = max(c)
    override def remerge: Option[Column => Column] = Some(compile)
  }

  /** bacon/accumulators.py:157 — Average divides the sum of non-null
    * values by the TOTAL record count (n is bumped on every add), which
    * differs from SQL AVG. Faithfully: sum(x)/count(*).
    */
  case object Avg extends Quotient {
    def compile(c: Column): Column = sum(c) / count(lit(1))
    def parts(c: Column): Seq[(String, Column)] = Seq("s" -> sum(c))
    def rebuild(part: String => Column, n: Column): Column = part("s") / n
  }

  /** Standard SQL average (sum/non-null count) — a useful extra. */
  case object AvgNonNull extends Agg {
    def compile(c: Column): Column = avg(c)
  }

  /** bacon/accumulators.py:193 — Welford sample stddev, null for n<2;
    * exactly `stddev_samp` semantics. Rebuilt from its parts in the
    * closed form √((Σx² − (Σx)²/n)/(n−1)), clamped at 0 against FP dust
    * on near-constant groups: stddev_samp's value up to FP associativity
    * (bit-exact on exactly-representable data, last-ulp otherwise).
    */
  case object StdDev extends Quotient {
    def compile(c: Column): Column = stddev_samp(c)
    def parts(c: Column): Seq[(String, Column)] = {
      val e = c.cast("double")
      Seq("s" -> sum(e), "s2" -> sum(e * e), "nn" -> count(e))
    }
    def rebuild(part: String => Column, n: Column): Column = {
      val (s, s2, nn) = (part("s"), part("s2"), part("nn"))
      when(nn >= 2, sqrt(greatest((s2 - s * s / nn) / (nn - 1), lit(0.0))))
    }
  }

  /** bacon/accumulators.py:259 — Group: the common value of the group if
    * all records agree (nulls count as a value), else null.
    */
  case object GroupConsistent extends Agg {
    def compile(c: Column): Column =
      when(count_distinct(c) === 1 && count(c) === count(lit(1)), min(c))
  }

  /** Exact distinct count (scale path: see ApproxDistinct). */
  case object CountDistinct extends Agg {
    def compile(c: Column): Column = count_distinct(c)
  }

  /** HyperLogLog++ distinct estimate — the 100 TB-friendly variant. */
  final case class ApproxDistinct(rsd: Double = 0.05) extends Agg {
    def compile(c: Column): Column = approx_count_distinct(c, rsd)
  }

  /** bacon/accumulators.py:53 — Union of set-valued measures. Output is
    * sorted for determinism (the reference keeps Python set order).
    */
  case object UnionSet extends Agg {
    def compile(c: Column): Column =
      array_sort(array_distinct(flatten(collect_list(c))))
    override def remerge: Option[Column => Column] = Some(compile)
  }

  /** bacon/accumulators.py:54-76 — Union.get returns `(set,
    * included_empty)`; this is the companion flag as its own measure:
    * true iff any record in the group contributed an empty (or null) set.
    * Lets a renderer distinguish "∅ because empty sets were present" from
    * "no such rows". Pair it with UnionSet over the same expression.
    */
  case object UnionIncludedEmpty extends Agg {
    def compile(c: Column): Column =
      max(size(coalesce(c, array())) === 0)
    // merged flags are any-true, not the size test (already boolean)
    override def remerge: Option[Column => Column] = Some(c => max(c))
  }

  /** bacon/accumulators.py:355 — RatioSum: sum(num)/sum(den), null when
    * the denominator sums to 0 or null.
    */
  final case class Ratio(num: Column, den: Column) extends Quotient {
    def compile(ignored: Column): Column = {
      val d = sum(den)
      when(d =!= 0, sum(num) / d)
    }
    def parts(ignored: Column): Seq[(String, Column)] =
      Seq("sn" -> sum(num), "sd" -> sum(den))
    def rebuild(part: String => Column, n: Column): Column =
      when(part("sd") =!= 0, part("sn") / part("sd"))
  }

  /** bacon/accumulators.py:299 — LabeledAcc: apply `inner` only if every
    * record in the group carries the same `label` value; else null
    * (e.g. summing money only when the whole group shares one currency).
    */
  final case class Labeled(label: Column, inner: Agg) extends Agg {
    def compile(c: Column): Column =
      when(count_distinct(label) === 1 && count(label) === count(lit(1)),
        inner.compile(c))
  }

  /** The hidden companion columns a wide frame carries for `ms`, as
    * (name, aggregate over the base rows): `__m_n` = count(*) — the
    * universal support indicator and Avg's divisor — then each
    * quotient's parts as `__m_<measure>_<suffix>`.
    */
  def companions(ms: Seq[Spec]): Seq[(String, Column)] =
    ("__m_n" -> count(lit(1))) +: ms.flatMap {
      case (v, e, q: Quotient) => q.parts(e).map { case (s, c) => s"__m_${v}_$s" -> c }
      case _                   => Nil
    }

  /** Rebuild each quotient of `ms`, in its own column, from the merged
    * companion columns of `df`.
    */
  private def rebuilt(df: DataFrame, ms: Seq[Spec]): DataFrame =
    ms.foldLeft(df) {
      case (acc, (v, _, q: Quotient)) =>
        acc.withColumn(v, q.rebuild(s => col(s"__m_${v}_$s"), col("__m_n")))
      case (acc, _) => acc
    }

  /** The one re-aggregation: merge a WIDE frame — finished values plus
    * their [[companions]] — to the grain of `keys`. Finished values merge
    * by their [[Agg.remerge]] rule, companions add, and quotients are
    * rebuilt from the merged companions. Output: keys, measures,
    * companions.
    */
  def merge(wide: DataFrame, keys: Seq[Column], ms: Seq[Spec]): DataFrame = {
    val aggs = ms.map {
      // a quotient's slot keeps the measure order until [[rebuilt]]
      // replaces it
      case (v, _, _: Quotient) => lit(null).as(v)
      case (v, _, a) =>
        require(a.remerge.isDefined, s"'$v': $a has no merge rule")
        a.remerge.get(col(v)).as(v)
    } ++ companions(ms).map { case (n, _) => sum(col(n)).as(n) }
    rebuilt(wide.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*), ms)
  }
}
