package graft.perfbench

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row}

/** Order-insensitive fingerprint of a query's full output: the row count
  * plus, per output column, the sum of a 32-bit Murmur3 hash of every
  * value. It is computed on the driver from the rows that [[Fingerprint.consume]]
  * collected, so checking adds no second execution and cannot change the
  * plan that produced them.
  */
final case class Fingerprint(rows: Long, columns: Seq[Long]) {
  def render: String = (rows +: columns).mkString(":")
}

object Fingerprint {

  /** Run `df`'s own plan and bring every output row to the driver, as a
    * user reading the result does. Nothing is put on top of the plan:
    * an aggregate there would let Catalyst drop the final sort
    * (EliminateSorts) and prune output-only columns, as it does from
    * `count()`.
    */
  def consume(df: DataFrame): (Int, Array[Row]) = (df.schema.length, df.collect())

  /** Canonical text of a value: maps sorted by key, containers recursed. */
  private def canon(v: Any): String = v match {
    case null => "\u0000"
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => (canon(k), canon(x)) }.sorted
        .map { case (k, x) => s"$k=$x" }.mkString("{", ",", "}")
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString("0x", "", "")
    case xs: scala.collection.Seq[_] => xs.map(canon).mkString("[", ",", "]")
    case t: java.sql.Timestamp => s"ts${t.getTime}.${t.getNanos}"
    case x => x.toString
  }

  def of(width: Int, rows: Array[Row]): Fingerprint = {
    val sums = new Array[Long](width)
    rows.foreach { r =>
      var i = 0
      while (i < width) { sums(i) += MurmurHash3.stringHash(canon(r.get(i))); i += 1 }
    }
    Fingerprint(rows.length.toLong, sums.toSeq)
  }

  def of(df: DataFrame): Fingerprint = {
    val (width, rows) = consume(df)
    of(width, rows)
  }
}
