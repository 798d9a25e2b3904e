package graftbench

import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generator. Everything a workload feeds the program comes
  * from here, as driver-side rows handed over as DataFrames: table rows
  * from a `java.util.Random` per table, operation parameters from one
  * stream [[rnd]], all seeded with the seed. Row counts and shapes are
  * fixed; the seed changes values, keys and which rows each operation
  * touches.
  *
  * [[digest]] is a SHA-256 over every generated row and every operation
  * parameter ([[note]]), printed by the run, so two runs can be shown to
  * have used identical data. The rows double as the independent
  * expectation the output checks compare against. */
final class Gen(spark: SparkSession, val seed: Long) {
  private val sha = MessageDigest.getInstance("SHA-256")
  /** The operation stream. */
  val rnd = new java.util.Random(seed)

  /** `n` rows of table `name`, row `i` made by `row(random, i)` from a
    * random stream of the table's own (seed and name). */
  def rows(name: String, n: Int)(row: (java.util.Random, Long) => Row): IndexedSeq[Row] = {
    val r = new java.util.Random(seed * 1000003L + name.hashCode)
    val out = (0 until n).map(i => row(r, i.toLong))
    note(name)
    out.foreach(x => note(x.mkString("|")))
    out
  }

  def frame(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  /** A fixed vocabulary drawn with a skew (`u^2`), so a few terms are
    * frequent and most are rare — the shape BM25 and text stats see. */
  val vocab: IndexedSeq[String] = {
    val on = Seq("b", "c", "d", "f", "g", "k", "l", "m", "n", "p", "r", "s", "t", "v", "z")
    val nu = Seq("a", "e", "i", "o", "u", "ai", "ou")
    (for (a <- on; b <- nu; c <- Seq("n", "r", "s", "")) yield a + b + c).toIndexedSeq
  }
  def words(r: java.util.Random, n: Int): String =
    Seq.fill(n) { val x = r.nextDouble(); vocab((x * x * vocab.size).toInt) }.mkString(" ")

  /** Fold an operation parameter into the digest. */
  def note(s: String): Unit = sha.update((s + "\n").getBytes("UTF-8"))

  def digest: String = sha.clone().asInstanceOf[MessageDigest].digest()
    .map(b => f"${b & 0xff}%02x").mkString.take(16)
}

object Gen {
  /** Bytes of live logical data in one row: 8 per long/double/timestamp,
    * 4 per int, the UTF-8 length of each string. Warehouse bytes on disk
    * over the sum of this across live rows is `bytes_per_user_byte`. */
  def userBytes(row: Row): Long = row.toSeq.iterator.map {
    case s: String => s.getBytes("UTF-8").length.toLong
    case _: Int => 4L
    case _ => 8L
  }.sum

  /** Total size of every file under `dir`. */
  def dirBytes(dir: java.nio.file.Path): Long = {
    val st = java.nio.file.Files.walk(dir)
    try st.filter(java.nio.file.Files.isRegularFile(_)).mapToLong(java.nio.file.Files.size(_)).sum()
    finally st.close()
  }
}
