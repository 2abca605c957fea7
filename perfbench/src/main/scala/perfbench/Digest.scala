package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive digest of a result.
  *
  * Every non-floating column of a row goes into one 64-bit hash, and the
  * hashes are summed, so row order and partitioning do not matter. A
  * floating column's value depends on summation order, so instead of
  * hashing it the digest keeps its count, sum and absolute sum, which
  * `run.py` compares with a relative tolerance.
  */
final case class Digest(rows: Long, key: BigDecimal, dcnt: Seq[Long], dsum: Seq[Double],
    dabs: Seq[Double]) {
  def toJson: String =
    s"""{"rows":$rows,"key":"$key","dcnt":${dcnt.mkString("[", ",", "]")},""" +
      s""""dsum":${dsum.map(Json.num).mkString("[", ",", "]")},""" +
      s""""dabs":${dabs.map(Json.num).mkString("[", ",", "]")}}"""
}

object Digest {
  private def isFloating(t: DataType) = t == DoubleType || t == FloatType

  /** Maps cannot be hashed; their JSON form can. */
  private def hashable(c: org.apache.spark.sql.Column, t: DataType) = t match {
    case _: MapType => to_json(c)
    case _ => c
  }

  def of(df: DataFrame): Digest = {
    val fields = df.schema.fields.toSeq
    val named = df.toDF(fields.indices.map(i => s"c$i"): _*)
    val cols = fields.indices.map(i => col(s"c$i"))
    val fl = fields.indices.filter(i => isFloating(fields(i).dataType))
    val other = fields.indices.filterNot(fl.contains)
    val key = if (other.isEmpty) lit(0L)
      else xxhash64(other.map(i => hashable(cols(i), fields(i).dataType)): _*)
    val aggs = Seq(count(lit(1)), sum(key.cast(DecimalType(38, 0)))) ++
      fl.flatMap(i => Seq(count(cols(i)), sum(cols(i).cast(DoubleType)),
        sum(abs(cols(i).cast(DoubleType)))))
    val r = named.agg(aggs.head, aggs.tail: _*).head()
    def d(j: Int) = if (r.isNullAt(j)) 0.0 else r.getDouble(j)
    Digest(
      r.getLong(0),
      if (r.isNullAt(1)) BigDecimal(0) else BigDecimal(r.getDecimal(1)),
      fl.indices.map(k => r.getLong(2 + 3 * k)),
      fl.indices.map(k => d(3 + 3 * k)),
      fl.indices.map(k => d(4 + 3 * k)))
  }
}
