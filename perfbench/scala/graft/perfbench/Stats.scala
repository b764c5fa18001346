package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row}

object Stats {

  /** Linear-interpolated quantile, q in [0, 1]. NaN for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted.toIndexedSeq
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The highest of `candidates` (percent) that leaves at least ten of
    * `n` samples beyond it, so a tail figure never rests on a handful
    * of observations.
    */
  def tailPercentile(n: Int, candidates: Seq[Int] = Seq(99, 95, 90, 75, 50)): Option[Int] =
    candidates.sorted.reverse.find(p => n - math.ceil(n * p / 100.0).toLong >= 10)
}

/** The canonical result hash of `graft.Verify`'s HASHES.tsv: columns
  * sorted by name, each cell as exact text (doubles and floats as hex
  * literals, containers recursively), rows sorted, SHA-256 over the
  * rows each followed by a newline.
  */
object Canon {
  def fmt(v: Any): String = v match {
    case null => "NULL"
    case d: java.lang.Double => java.lang.Double.toHexString(d)
    case f: java.lang.Float => java.lang.Float.toHexString(f)
    case s: scala.collection.Seq[_] => s.map(fmt).mkString("[", ",", "]")
    case a: Array[_] => a.map(fmt).mkString("[", ",", "]")
    case r: Row => (0 until r.length).map(i => fmt(r.get(i))).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, v2) => fmt(k) + ":" + fmt(v2) }.toSeq.sorted.mkString("<", ",", ">")
    case other => other.toString
  }

  def lines(rows: Seq[Row]): Seq[String] =
    rows.map(r => (0 until r.length).map(i => fmt(r.get(i))).mkString("\t")).sorted

  def sha256(lines: Seq[String]): String = {
    val digest = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach(l => digest.update((l + "\n").getBytes("UTF-8")))
    digest.digest().map("%02x".format(_)).mkString
  }

  /** Collect `df` with its columns in name order. */
  def collectSorted(df: DataFrame): Seq[Row] = {
    val cols = df.columns.sorted
    df.select(cols.map(org.apache.spark.sql.functions.col(_)).toIndexedSeq: _*).collect().toSeq
  }

  /** `(rows, hex)` of collected rows, as HASHES.tsv records them. */
  def hash(rows: Seq[Row]): (Int, String) = {
    val ls = lines(rows)
    (ls.length, sha256(ls))
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** A finite double as JSON; NaN and infinities become null. */
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
}
