package graftbench

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.Row

/** Order-insensitive content hash of a query's full output, computed on
  * the client side from the collected rows.
  *
  * Each row becomes a canonical string: columns in name order, doubles
  * (also inside arrays, maps and structs) rounded half-up to [[Digits]]
  * decimals, so the last-bit differences of another summation order do
  * not reach the hash unless a value lies within them of a rounding
  * boundary, and -0.0 read as 0. The recorded hashes hold with 2, 4 and
  * 8 cores (as many shuffle partitions, so as many summation orders).
  * Row hashes (two 32-bit murmur hashes) are summed as longs: row order
  * and partitioning do not matter, duplicates do. The column names are
  * part of the hash. */
object OutputHash {
  val Digits = 6

  private def canon(v: Any): String = v match {
    case null => "∅"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case r: Row => (0 until r.length).map(i => canon(r.get(i))).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }
      .sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case a: Array[Byte] => a.mkString("b[", ",", "]")
    case x => x.toString
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else BigDecimal(d).setScale(Digits, BigDecimal.RoundingMode.HALF_UP).toString

  /** `rows:<n>:<sum1>:<sum2>:<column-name hash>` */
  def apply(rows: Array[Row]): String = {
    var (n, s1, s2) = (0L, 0L, 0L)
    var names = ""
    rows.foreach { r =>
      val order = r.schema.fieldNames.zipWithIndex.sortBy(_._1)
      if (n == 0) names = order.map(_._1).mkString(",")
      val line = order.map { case (_, i) => canon(r.get(i)) }.mkString("|")
      n += 1
      s1 += MurmurHash3.stringHash(line, 0x5eed1) & 0xffffffffL
      s2 += MurmurHash3.stringHash(line, 0x5eed2) & 0xffffffffL
    }
    f"rows:$n:$s1%x:$s2%x:${MurmurHash3.stringHash(names)}%08x"
  }
}
