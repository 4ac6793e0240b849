package graft.perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Row count plus an order-insensitive digest of a frame's rows: every
  * row hashes on its full values (two independent hash families), and
  * the per-row hashes are summed exactly, so neither row order nor
  * partitioning can move the result. The schema's names and types are
  * part of the digest.
  */
object RowHash {
  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  def of(df: DataFrame): (Long, String) = {
    val schema = df.schema.fields
      .map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",")
    // positional names: output columns may repeat or carry dots
    val d = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    // Spark refuses to hash maps; their JSON rendering is deterministic
    val cols = d.schema.fields.toSeq.map { f =>
      if (hasMap(f.dataType)) to_json(struct(col(f.name))) else col(f.name)
    }
    val exact = DecimalType(38, 0)
    val r = d.select(xxhash64(cols: _*).as("h1"), hash(cols: _*).as("h2"))
      .agg(count(lit(1)), sum(col("h1").cast(exact)), sum(col("h2").cast(exact)))
      .head()
    val n = r.getLong(0)
    val s1 = Option(r.getDecimal(1)).map(_.toString).getOrElse("0")
    val s2 = Option(r.getDecimal(2)).map(_.toString).getOrElse("0")
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(s"$schema|$s1|$s2".getBytes("UTF-8"))
      .take(12).map(b => f"${b & 0xff}%02x").mkString
    (n, digest)
  }
}
