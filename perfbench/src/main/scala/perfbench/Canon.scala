package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent content hash of a DataFrame, with the canonical form
  * of tools/compare.py: columns sorted by name, doubles rounded to 9
  * places, NULL and NaN as their own tokens, rows as a multiset. Computed
  * as a Spark aggregate, so outputs of any size are checked without
  * collecting them. */
object Canon {
  final case class Digest(rows: Long, hash: String)

  private def text(c: Column, t: DataType): Column = {
    val v = t match {
      case DoubleType | FloatType =>
        val d = c.cast(DoubleType)
        when(isnan(d), lit("NaN"))
          .when(d === Double.PositiveInfinity || d === Double.NegativeInfinity,
            d.cast(StringType))
          .otherwise(round(d, 9).cast(StringType))
      case ArrayType(et, _) =>
        concat(lit("["), array_join(transform(c, x => text(x, et)), ","),
          lit("]"))
      case StructType(fs) =>
        concat(lit("{"),
          concat_ws(",", fs.toSeq.map(f => text(c.getField(f.name), f.dataType)): _*),
          lit("}"))
      case BinaryType => base64(c)
      case _ => c.cast(StringType)
    }
    when(c.isNull, lit("NULL")).otherwise(v)
  }

  def digest(df: DataFrame): Digest = digestAll(Seq("" -> df))("")

  /** Digests of several outputs in one Spark job: at small scale a job's
    * fixed cost outweighs hashing the rows. */
  def digestAll(outputs: Seq[(String, DataFrame)]): Map[String, Digest] = {
    val hashed = outputs.map { case (name, df) =>
      val fields = df.schema.fields.sortBy(_.name)
      val row = concat_ws("\u0001",
        fields.toSeq.map(f => text(col(s"`${f.name}`"), f.dataType)): _*)
      df.select(lit(name).as("name"), xxhash64(row).as("h"))
    }
    // a sum of 64-bit row hashes is order-independent; split into halves
    // so the sums cannot overflow
    val sums = hashed.reduce(_ union _).groupBy("name").agg(
      count(lit(1)),
      sum(col("h").bitwiseAND(lit(0xffffffffL))),
      sum(shiftrightunsigned(col("h"), 32)))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    outputs.map { case (name, df) =>
      val (n, lo, hi) = sums.getOrElse(name, (0L, 0L, 0L))
      val names = df.schema.fieldNames.sorted.mkString(",")
      name -> Digest(n, f"$lo%x-$hi%x-${names.hashCode}%08x")
    }.toMap
  }
}
