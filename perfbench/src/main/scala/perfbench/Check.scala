package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The read-back side of the correctness check: a multiset hash of what
  * a unit published, computed exactly as `oracle.py` computes it over
  * the expected rows (row count plus two 32-bit sums of per-row md5
  * prefixes; a row's text is its columns in name order, joined by
  * U+001F, NULL as `\N`, integers and strings as text, timestamps as
  * epoch micros, doubles as rounded cents). Only plain Spark reads and
  * built-in functions are used here, never engine operators.
  */
object Check {

  private def canon(f: StructField): Column = {
    val c = col(f.name)
    val v = f.dataType match {
      case TimestampType => unix_micros(c).cast(StringType)
      case TimestampNTZType => unix_micros(c.cast(TimestampType)).cast(StringType)
      case DoubleType | FloatType => round(c * 100).cast(LongType).cast(StringType)
      case _ => c.cast(StringType)
    }
    coalesce(v, lit("\\N"))
  }

  def multisetHash(df: DataFrame): String = {
    val row = concat_ws("\u001f", df.schema.fields.sortBy(_.name).toSeq.map(canon): _*)
    val h = md5(row.cast(BinaryType))
    def part(from: Int) = coalesce(sum(conv(substring(h, from, 8), 16, 10).cast(LongType)), lit(0L))
    val r = df.agg(count(lit(1)), part(1), part(9)).head()
    s"${r.getLong(0)}:${r.getLong(1)}:${r.getLong(2)}"
  }

  /** The same output with one value changed: the self-test that shows
    * the check is not blind to a single wrong row. */
  def perturbed(df: DataFrame): DataFrame = {
    val s = df.schema.fields.find(_.dataType == StringType).map(_.name)
      .getOrElse(sys.error("perturbation needs a string column"))
    val one = df.limit(1)
    df.exceptAll(one).unionByName(one.withColumn(s, concat(col(s), lit("~"))))
  }

  /** Bytes and data files under a directory tree (hidden and `_` files
    * excluded, as readers skip them). */
  def du(path: String): (Long, Int) = {
    val root = new java.io.File(path)
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    val files = if (root.exists()) walk(root).filterNot(f => f.getName.startsWith(".") || f.getName.startsWith("_"))
      else Nil
    (files.map(_.length).sum, files.size)
  }
}
