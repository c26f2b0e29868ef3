package perfbench

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Minimal JSON writer for the result line and the trace dump. */
object Json {
  /** Already-serialized JSON, inserted verbatim. */
  final case class Raw(s: String)

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def value(v: Any): String = v match {
    case Raw(s) => s
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ", ", "]")
    case other => str(other.toString)
  }

  def obj(fields: Iterable[(String, Any)]): String =
    fields.map { case (k, v) => s"${str(k)}: ${value(v)}" }
      .mkString("{", ", ", "}")
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

/** Order-independent fingerprint of a result: row count, element count,
  * and sums of per-row and per-element hashes. Two results agree when all
  * four agree. */
final case class Fingerprint(rows: Long, elems: Long, rowHash: Long,
                             elemHash: Long) {
  override def toString: String =
    s"rows=$rows elems=$elems rowHash=$rowHash elemHash=$elemHash"
}

object Fingerprint {
  // hashes are folded into [0, 2^31) so sums over millions of rows fit a long
  private val Mod = lit(2147483647L)

  private def h(cols: Seq[Column]): Column =
    if (cols.isEmpty) lit(0L) else pmod(xxhash64(cols: _*), Mod)

  /** What to hash: base columns of each row, and optionally one nested
    * column's fields, each element hashed with the row's `key` column (and
    * its position in the cell when `ordered`). */
  final case class Spec(base: Seq[String], nest: Option[String] = None,
                        fields: Seq[String] = Nil, key: String = "id",
                        ordered: Boolean = false)

  /** Attaches the fingerprint to `df`; it is filled in by whichever action
    * runs next, at no extra pass over the data. */
  def observe(df: DataFrame, spec: Spec): (DataFrame, Observation) = {
    val obs = Observation()
    val (elems, elemHash) = spec.nest match {
      case None => (lit(0L), lit(0L))
      case Some(n) =>
        val perElem = transform(col(n), (e, i) => h(
          col(spec.key) +: (if (spec.ordered) Seq(i) else Nil) ++:
            spec.fields.map(e.getField)))
        (greatest(coalesce(size(col(n)).cast("long"), lit(0L)), lit(0L)),
          coalesce(aggregate(perElem, lit(0L), (a, x) => a + x), lit(0L)))
    }
    val out = df.observe(obs, count(lit(1)).as("rows"),
      coalesce(sum(elems), lit(0L)).as("elems"),
      coalesce(sum(h(spec.base.map(col))), lit(0L)).as("rowHash"),
      coalesce(sum(elemHash), lit(0L)).as("elemHash"))
    (out, obs)
  }

  def of(obs: Observation): Fingerprint = {
    val m = obs.get
    Fingerprint(m("rows").asInstanceOf[Long], m("elems").asInstanceOf[Long],
      m("rowHash").asInstanceOf[Long], m("elemHash").asInstanceOf[Long])
  }

  /** The same fingerprint computed from flat data: `rows` carries the base
    * columns, `elems` one row per element with the key, the position when
    * ordered, and the fields, in the order [[observe]] hashes them. */
  def flat(rows: DataFrame, base: Seq[String],
           elems: Option[(DataFrame, Seq[String])]): Fingerprint = {
    val r = rows.agg(count(lit(1)), coalesce(sum(h(base.map(col))), lit(0L)))
      .head()
    val (ne, eh) = elems match {
      case None => (0L, 0L)
      case Some((df, cols)) =>
        val e = df.agg(count(lit(1)), coalesce(sum(h(cols.map(col))), lit(0L)))
          .head()
        (e.getLong(0), e.getLong(1))
    }
    Fingerprint(r.getLong(0), ne, r.getLong(1), eh)
  }

  /** Materializes every column of `df` through the `noop` sink. */
  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
}
