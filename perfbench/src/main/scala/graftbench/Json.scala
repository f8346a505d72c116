package graftbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.Row

/** The result file's JSON, and order-insensitive fingerprints of collected
  * rows.
  */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Rows as lists, dates as ISO strings and floats as the doubles they
    * equal, so the checker reads every value back exactly (Jackson
    * writes doubles as round-trip decimal strings).
    */
  private def plain(v: Any): Any = v match {
    case r: Row => r.toSeq.map(plain)
    case f: Float => f.toDouble
    case d: java.sql.Date => d.toLocalDate.toString
    case t: java.sql.Timestamp => t.toLocalDateTime.toString
    case t: java.time.temporal.Temporal => t.toString
    case Some(x) => plain(x)
    case None => null
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => k.toString -> plain(x) }
    case a: Array[_] => a.toSeq.map(plain)
    case s: Iterable[_] => s.map(plain)
    case other => other
  }

  def write(path: java.nio.file.Path, v: Any): Unit =
    mapper.writeValue(path.toFile, plain(v))

  /** Row count plus the wrapping sum of a 64-bit digest of each row's JSON
    * form. Used to check that every execution of an op returns what its
    * first did.
    */
  def fingerprint(rows: Array[Row]): (Long, Long) = {
    val md = java.security.MessageDigest.getInstance("MD5")
    var h = 0L
    rows.foreach { r =>
      val d = md.digest(mapper.writeValueAsBytes(plain(rounded(r))))
      h += java.nio.ByteBuffer.wrap(d).getLong
    }
    (rows.length.toLong, h)
  }

  /** Doubles to 12 significant digits: sums may differ in the last bits
    * between executions, as partial aggregates merge in any order.
    */
  private def rounded(v: Any): Any = v match {
    case d: Double if !d.isNaN && !d.isInfinite =>
      new java.math.BigDecimal(d).round(new java.math.MathContext(12))
        .doubleValue()
    case r: Row => r.toSeq.map(rounded)
    case s: Iterable[_] => s.map(rounded)
    case other => other
  }
}
