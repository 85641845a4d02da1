package perfbench

import org.apache.spark.sql.{DataFrame, Row}

/** What one call into the engine hands back. The harness forces it to a
  * complete result: a frame or an RDD is collected (never `count()`, which
  * lets Catalyst prune most of the plan), a write is complete when the call
  * returns.
  */
sealed trait Call
final case class Frame(df: DataFrame) extends Call
final case class Pairs(rdd: org.apache.spark.rdd.RDD[(String, Long)]) extends Call
case object Written extends Call

/** The forced result handed to an op's output check. */
sealed trait Output
final case class Rows(rows: Array[Row]) extends Output
final case class KeyCounts(pairs: Array[(String, Long)]) extends Output
case object NoRows extends Output

/** One op: a call into the engine plus the check of its whole output.
  * `check` returns None when the output is right, else what is wrong.
  * `write` marks ops whose call commits to a table.
  */
final case class Op(kind: String, name: String, call: () => Call,
    check: Output => Option[String], write: Boolean = false)

/** Order-insensitive row digests: rows render to a canonical string, each
  * string hashes to 64 bits, and the digest is the row count plus the sum
  * of the hashes modulo 2^64.
  */
object Digest {
  private def render(v: Any): String = v match {
    case null => "∅"
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }
        .sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case d: Double => java.lang.Double.toString(d)
    case f: Float => java.lang.Float.toString(f)
    case t: java.sql.Timestamp => t.toInstant.toString
    case x => x.toString
  }

  private def hash64(s: String): Long = {
    import scala.util.hashing.MurmurHash3.stringHash
    (stringHash(s, 0x5eed).toLong << 32) | (stringHash(s, 0xb0b) & 0xffffffffL)
  }

  def of(rows: Array[Row]): String = {
    val sum = rows.iterator.map(r => hash64(render(r))).sum
    s"${rows.length}:${java.lang.Long.toHexString(sum)}"
  }

  /** Check against an expected digest string from `expected.tsv`. */
  def checkRows(expected: String)(out: Output): Option[String] = out match {
    case Rows(rows) =>
      val got = of(rows)
      if (got == expected) None else Some(s"digest $got, expected $expected")
    case other => Some(s"expected rows, got $other")
  }
}
