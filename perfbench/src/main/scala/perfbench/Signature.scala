package perfbench

import org.apache.spark.sql.Row
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.catalyst.expressions.XXH64

/** Order-independent signature of a collected result: the row count and
  * the wrapping sum of each row's xxhash64, taken over a text form of the
  * row that does not depend on the JVM's time zone. */
final case class Signature(rows: Long, hashSum: Long) {
  override def toString: String = s"$rows:$hashSum"
}

object Signature {

  private def canon(v: Any): String = v match {
    case null => "\\N"
    case t: java.sql.Timestamp => t.toInstant.toString
    case other => other.toString
  }

  private def rowHash(r: Row): Long =
    XXH64.hashUTF8String(UTF8String.fromString(
      r.toSeq.map(canon).mkString("\u0001")), 42L)

  def of(rows: Array[Row]): Signature =
    Signature(rows.length.toLong, rows.foldLeft(0L)(_ + rowHash(_)))
}
