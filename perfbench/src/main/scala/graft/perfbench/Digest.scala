package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive digest of a query result: `count(*)` plus the exact
  * sum of `xxhash64` over all columns. Columns are renamed by position,
  * so duplicate output names do not matter; map-valued columns are
  * hashed through `to_json` because Spark refuses to hash maps. */
object Digest {
  final case class D(rows: Long, hash: String) {
    override def toString: String = s"$rows:$hash"
  }

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case a: ArrayType => hasMap(a.elementType)
    case _ => false
  }

  def of(df: DataFrame): D = {
    val types = df.schema.fields.map(_.dataType)
    val named = df.toDF(types.indices.map(i => s"c$i"): _*)
    val cols = types.zipWithIndex.map { case (t, i) =>
      if (hasMap(t)) to_json(col(s"c$i")) else col(s"c$i")
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols.toIndexedSeq: _*)
    val r = named.select(h.cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(BigDecimal(0)).cast(DecimalType(38, 0))))
      .head()
    D(r.getLong(0), r.getDecimal(1).toBigInteger.toString)
  }

  /** The committed table: one `query<TAB>rows<TAB>hash` line per query. */
  def load(path: Path): Map[String, D] =
    if (!Files.exists(path)) Map.empty
    else Files.readAllLines(path, StandardCharsets.UTF_8).asScala
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val Array(q, rows, hash) = l.split("\t")
        q -> D(rows.toLong, hash)
      }.toMap

  def save(path: Path, table: Map[String, D], header: String): Unit = {
    val lines = s"# $header" +: table.toSeq.sortBy(_._1).map { case (q, d) => s"$q\t${d.rows}\t${d.hash}" }
    Files.write(path, (lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
  }
}
