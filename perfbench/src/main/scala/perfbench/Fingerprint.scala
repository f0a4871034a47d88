package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Row count plus an order-insensitive hash of every column: the check a
  * run compares against the values recorded in `expected.json`.
  *
  * Rows are hashed one by one (`xxhash64` of the whole normalised row)
  * and the hashes are SUMMED as decimals, so the value is independent of
  * row order and partitioning but still sensitive to duplicates (an
  * XOR would cancel them). Doubles are narrowed to float before hashing:
  * reduction-order ulp noise in unrounded double aggregates would
  * otherwise make such keys unstable from run to run. Maps are hashed
  * as their sorted entry arrays (Spark refuses to hash maps). */
final case class Fp(rows: Long, hash: Option[String]) {
  def matches(expected: Fp): Boolean =
    rows == expected.rows && (expected.hash.isEmpty || hash == expected.hash)
  override def toString: String = s"rows=$rows hash=${hash.getOrElse("-")}"
}

object Fingerprint {
  private def norm(c: Column, t: DataType): Column = t match {
    case DoubleType => c.cast(FloatType)
    case ArrayType(et, _) if needs(et) => transform(c, x => norm(x, et))
    case StructType(fs) if fs.exists(f => needs(f.dataType)) =>
      when(c.isNull, lit(null)).otherwise(
        struct(fs.toSeq.map(f => norm(c.getField(f.name), f.dataType).as(f.name)): _*))
    case MapType(_, _, _) => array_sort(map_entries(c))
    case _ => c
  }

  private def needs(t: DataType): Boolean = t match {
    case DoubleType | MapType(_, _, _) => true
    case ArrayType(et, _) => needs(et)
    case StructType(fs) => fs.exists(f => needs(f.dataType))
    case _ => false
  }

  private def aggs(df: DataFrame): (DataFrame, Seq[Column]) = {
    // a key may output duplicate names: rename positionally only then,
    // so the observed frame's plan stays the key's own plan otherwise
    val named =
      if (df.columns.distinct.length == df.columns.length) df
      else df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toSeq.map(f =>
      norm(col("`" + f.name.replace("`", "``") + "`"), f.dataType))
    val rowHash = if (cols.isEmpty) lit(0L) else xxhash64(struct(cols: _*))
    (named, Seq(count(lit(1)).as("n"),
      sum(rowHash.cast(DecimalType(38, 0))).cast(StringType).as("h")))
  }

  private def fp(n: Long, h: String): Fp = Fp(n, Some(Option(h).getOrElse("0")))

  /** Fingerprint as a separate aggregate job. */
  def of(df: DataFrame): Fp = {
    val (named, as) = aggs(df)
    val r = named.agg(as.head, as.tail: _*).head()
    fp(r.getLong(0), r.getString(1))
  }

  /** The same fingerprint, collected as observed metrics while `act`
    * consumes the returned frame — no extra job. The observed node sits
    * above the frame's last codegen stage, so that stage compiles to the
    * same code as the unobserved action's. */
  def observed(df: DataFrame)(act: DataFrame => Unit): Fp = {
    val (named, as) = aggs(df)
    val obs = org.apache.spark.sql.Observation()
    act(named.observe(obs, as.head, as.tail: _*))
    val m = obs.get
    fp(m("n").asInstanceOf[Long], m("h").asInstanceOf[String])
  }

  /** A value computed on the driver (a `Stream` terminal result). */
  def ofValue(v: Any): Fp = Fp(1L, Some(v.toString.hashCode.toString))
}
