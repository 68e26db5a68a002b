package perfbench

import org.apache.spark.sql.{DataFrame, Row}

import scala.collection.mutable

/** Order-independent digest of a query result: the row count, a hash of
  * every row with floating-point values masked out, and two sums of those
  * values. Floating-point aggregates may differ in the last bits between
  * runs (summation order), so they are compared with a relative tolerance
  * instead of being hashed.
  */
final case class Digest(rows: Long, hash: String, fsum: Double, fabs: Double) {
  def matches(o: Digest): Boolean =
    rows == o.rows && hash == o.hash &&
      math.abs(fsum - o.fsum) <= 1e-6 * math.max(1.0, math.max(fabs, o.fabs)) &&
      math.abs(fabs - o.fabs) <= 1e-6 * math.max(1.0, math.max(fabs, o.fabs))
}

object Digest {

  def of(df: DataFrame): Digest = ofRows(df.collect().toSeq)

  def ofRows(rows: Seq[Row]): Digest = {
    var h = 0L
    val fl = mutable.ArrayBuffer.empty[Double]
    rows.foreach { r =>
      val sb = new java.lang.StringBuilder
      canon(r, sb, fl)
      h += hash64(sb.toString)
    }
    val sorted = fl.sorted // a fixed summation order
    Digest(rows.length, java.lang.Long.toHexString(h), sorted.sum, sorted.map(math.abs).sum)
  }

  def hash64(s: String): Long = {
    import scala.util.hashing.MurmurHash3.stringHash
    (stringHash(s, 0x5eed).toLong << 32) | (stringHash(s, 0x0b5e55ed).toLong & 0xffffffffL)
  }

  private def canon(v: Any, sb: java.lang.StringBuilder, fl: mutable.ArrayBuffer[Double]): Unit = v match {
    case null => sb.append('N')
    case d: Double => real(d, sb, fl)
    case f: Float => real(f.toDouble, sb, fl)
    case s: String => sb.append(s.length).append(':').append(s)
    case r: Row =>
      sb.append('(')
      r.toSeq.foreach { x => canon(x, sb, fl); sb.append(',') }
      sb.append(')')
    case b: Array[Byte] => sb.append("b").append(java.util.Arrays.hashCode(b)).append('/').append(b.length)
    case m: scala.collection.Map[_, _] =>
      val es = m.toSeq.map { case (k, x) =>
        val kb = new java.lang.StringBuilder; canon(k, kb, fl)
        val xb = new java.lang.StringBuilder; canon(x, xb, fl)
        kb.toString + "=" + xb.toString
      }.sorted
      sb.append('{').append(es.mkString(",")).append('}')
    case s: scala.collection.Seq[_] =>
      sb.append('[')
      s.foreach { x => canon(x, sb, fl); sb.append(',') }
      sb.append(']')
    case other => sb.append(other.toString)
  }

  private def real(d: Double, sb: java.lang.StringBuilder, fl: mutable.ArrayBuffer[Double]): Unit =
    if (d.isNaN || d.isInfinite) sb.append(d.toString)
    else { fl += d; sb.append('~') }

  // ---- expected-digest file ------------------------------------------------

  def toJson(ds: Seq[(String, Digest)]): String =
    ds.sortBy(_._1).map { case (n, d) =>
      s"""  "$n": {"rows": ${d.rows}, "hash": "${d.hash}", "fsum": ${d.fsum}, "fabs": ${d.fabs}}"""
    }.mkString("{\n", ",\n", "\n}\n")

  def readJson(path: java.nio.file.Path): Map[String, Digest] = {
    import scala.jdk.CollectionConverters._
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(path.toFile)
    root.fields().asScala.map { e =>
      val n = e.getValue
      e.getKey -> Digest(n.get("rows").asLong, n.get("hash").asText,
        n.get("fsum").asDouble, n.get("fabs").asDouble)
    }.toMap
  }
}
