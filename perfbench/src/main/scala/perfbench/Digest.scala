package perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.Row

/** A stable fingerprint of a collected result. Floating-point values are
  * rendered by their bit patterns (so -0.0 and +0.0 differ, as in the
  * DuckDB oracle compare), timestamps and dates independently of the
  * JVM's default time zone, and binaries as hex. */
object Digest {

  def render(v: Any): String = v match {
    case null => "∅"
    case d: Double => "d" + java.lang.Long.toHexString(java.lang.Double.doubleToRawLongBits(d))
    case f: Float => "f" + Integer.toHexString(java.lang.Float.floatToRawIntBits(f))
    case b: Array[Byte] => "x" + b.map(x => f"$x%02x").mkString
    case t: java.sql.Timestamp => s"t${t.getTime}.${t.getNanos}"
    case d: java.sql.Date => "D" + d.toLocalDate.toString
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case s: String => "s" + s.length + ":" + s
    case other => other.getClass.getSimpleName + ":" + other.toString
  }

  /** Hex SHA-256 over the rendered rows; `ordered = false` hashes the
    * multiset of rows, for results that promise no row order. */
  def of(rows: Seq[Row], ordered: Boolean): String = {
    val lines = rows.map(render)
    val md = MessageDigest.getInstance("SHA-256")
    (if (ordered) lines else lines.sorted).foreach { l =>
      md.update(l.getBytes(StandardCharsets.UTF_8))
      md.update('\n'.toByte)
    }
    md.digest().map(b => f"$b%02x").mkString
  }
}
