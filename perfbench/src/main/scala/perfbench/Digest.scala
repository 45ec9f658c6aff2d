package perfbench

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, input_file_block_start, input_file_name}

/** Row digests the benchmark checks outputs against.
  *
  * A row hashes to 64 bits (two 32-bit MurmurHash3 lanes over the cell
  * strings, position-mixed). An ordered sequence of rows digests to the
  * polynomial `sum(h_i * B^(n-1-i)) mod 2^64`, which composes exactly
  * across contiguous pieces: `D(a ++ b) = D(a) * B^|b| + D(b)`. That lets a
  * parallel read-back digest each file split on its own and still check
  * row order end to end. */
object Digest {
  private val Base = 0x100000001b3L // FNV-64 prime: odd, so B^n never hits 0

  def rowHash(cells: Seq[String]): Long = {
    var a = 0x3c6ef372
    var b = 0x5be0cd19
    var i = 0
    while (i < cells.length) {
      val c = if (cells(i) == null) "\u0000<null>" else cells(i)
      a = MurmurHash3.mix(a, MurmurHash3.stringHash(c, 0x1b873593 + i))
      b = MurmurHash3.mix(b, MurmurHash3.stringHash(c, 0x7f4a7c15 ^ i))
      i += 1
    }
    (MurmurHash3.finalizeHash(a, cells.length).toLong << 32) |
      (MurmurHash3.finalizeHash(b, cells.length).toLong & 0xffffffffL)
  }

  private def pow(n: Long): Long = {
    var r = 1L; var x = Base; var e = n
    while (e > 0) { if ((e & 1) == 1) r *= x; x *= x; e >>= 1 }
    r
  }

  /** Ordered digest being built one row at a time. */
  final class Ordered {
    var rows = 0L
    var value = 0L
    def add(cells: Seq[String]): Unit = { value = value * Base + rowHash(cells); rows += 1 }
    def append(n: Long, d: Long): Unit = { value = value * pow(n) + d; rows += n }
  }

  /** Ordered digest of the string columns `cols` of text files read by
    * `df` (one row per line), in file-name then file-offset order: each
    * split digests its own rows, and the pieces compose in split order. */
  def orderedByFile(df: DataFrame, cols: Seq[String]): (Long, Long) = {
    val pieces = df
      .select((Seq(input_file_name().as("_f"), input_file_block_start().as("_b")) ++
        cols.map(col)): _*)
      .rdd.mapPartitions { it =>
        val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long, Long)]
        var key: (String, Long) = null
        var d = new Ordered
        it.foreach { r: Row =>
          val k = (r.getString(0), r.getLong(1))
          if (k != key) {
            if (key != null) out += ((key._1, key._2, d.rows, d.value))
            key = k; d = new Ordered
          }
          d.add((2 until r.length).map(r.getString))
        }
        if (key != null) out += ((key._1, key._2, d.rows, d.value))
        out.iterator
      }.collect().sortBy(p => (p._1, p._2))
    val all = new Ordered
    pieces.foreach(p => all.append(p._3, p._4))
    (all.rows, all.value)
  }

  /** Order-insensitive digest: row count plus the wrapping sum of row
    * hashes, with every cell rendered as a string (floating cells rounded
    * to 6 significant digits so plan-dependent summation order does not
    * change the digest). */
  def unordered(df: DataFrame): (Long, Long) = {
    val rendered = df.rdd.mapPartitions { it =>
      var n = 0L; var s = 0L
      it.foreach { r => n += 1; s += rowHash(render(r)) }
      Iterator((n, s))
    }.collect()
    (rendered.map(_._1).sum, rendered.map(_._2).sum)
  }

  private def render(r: Row): Seq[String] = (0 until r.length).map(i => cell(r.get(i)))

  private def cell(v: Any): String = v match {
    case null => "\u0000<null>"
    case d: Double => fp(d)
    case f: Float => fp(f.toDouble)
    case r: Row => render(r).mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => cell(k) + "=" + cell(x) }.sorted.mkString("{", ",", "}")
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case other => other.toString
  }

  private def fp(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(new java.math.MathContext(6)).stripTrailingZeros.toPlainString
}
