package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive content digest of a result: the row count plus
  * the sum of per-row hashes, over a normal form in which every
  * floating-point value is rounded to nine significant digits (so the
  * summation order of a distributed aggregate cannot change it) and
  * maps are sorted by key. The schema's names and types are part of
  * the digest. */
object Digest {
  final case class Result(rows: Long, digest: String)

  private def normal(c: Column, dt: DataType): Column = dt match {
    case DoubleType | FloatType =>
      // + 0.0 folds -0.0 into 0.0
      format_string("%.8e", c.cast(DoubleType) + lit(0.0))
    case ArrayType(et, _) => transform(c, x => normal(x, et))
    case StructType(fields) =>
      if (fields.isEmpty) c
      else struct(fields.toIndexedSeq.map(f => normal(c.getField(f.name), f.dataType).as(f.name)): _*)
    case MapType(kt, vt, _) =>
      array_sort(transform(map_entries(c), e =>
        struct(normal(e.getField("key"), kt).as("k"), normal(e.getField("value"), vt).as("v"))))
    case u: UserDefinedType[_] if u.getClass.getName.endsWith("VectorUDT") =>
      normal(org.apache.spark.ml.functions.vector_to_array(c), ArrayType(DoubleType))
    case u: UserDefinedType[_] => normal(c.cast(u.sqlType), u.sqlType)
    case _ => c
  }

  /** The normal form of every column, one output column each. */
  def normalForm(df: DataFrame): DataFrame = {
    // positional names: results may repeat a column name
    val renamed = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    renamed.select(df.schema.fields.toIndexedSeq.zipWithIndex.map { case (f, i) =>
      normal(col(s"c$i"), f.dataType).as(s"c$i")
    }: _*)
  }

  def of(df: DataFrame): Result = {
    val schema = df.schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",")
    val n = normalForm(df)
    val row = if (n.columns.isEmpty) n.agg(count(lit(1)), lit(null), lit(null)).head()
      else n.agg(count(lit(1)),
        sum(xxhash64(n.columns.map(col).toIndexedSeq: _*).cast(DecimalType(38, 0))),
        sum(hash(n.columns.map(col).toIndexedSeq: _*).cast(DecimalType(38, 0)))).head()
    def part(i: Int): String =
      if (row.isNullAt(i)) "0"
      else row.getDecimal(i).toBigInteger.mod(java.math.BigInteger.ONE.shiftLeft(64)).toString(16)
    Result(row.getLong(0), s"${Integer.toHexString(schema.hashCode)}-${part(1)}-${part(2)}")
  }
}
