package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Golden result digests for the graph and connected-component query
  * families on the sf0.01 data the benchmark ships: per query
  * `count(*)` and the exact `sum(xxhash64(all columns))`. The table is
  * written only by `sbt "Test/runMain graft.GraphDigests"`; the spec
  * checks every query against it once at the default driver caps and
  * once with every driver cap forced to 0, so both venues must give
  * the committed result. */
object GraphDigests {
  val dataDir = "perfbench/data/sf0.01"
  val table = "src/test/resources/graph_digests.tsv"

  val queries: Seq[String] = Seq(
    "q119_pagerank", "q125_triangles", "q127_communities",
    "q128_clustering_coeff", "q130_trustrank", "q133_harmonic",
    "q134_neighborhood", "q135_cheapest_paths", "q136_kcore",
    "q143_modularity", "q145_link_prediction",
    "q59_dedup_groups", "q96_canonical_keep", "q112_leakage_safe_split")

  val driverCaps: Seq[String] = Seq("graft.graph.maxDriverEdges",
    "graft.graph.maxDriverEdgesQuadratic", "graft.dedup.maxDriverPairs")

  /** `rows:hash` for one result; columns renamed by position. */
  def digest(df: DataFrame): String = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val r = named
      .select(xxhash64(named.columns.toIndexedSeq.map(col): _*)
        .cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    val h = if (r.isNullAt(1)) "0" else r.getDecimal(1).toBigInteger.toString
    s"${r.getLong(0)}:$h"
  }

  /** Every query's digest, with the driver caps at their defaults or
    * forced to 0 (everything runs distributed). */
  def compute(spark: SparkSession, capsZero: Boolean): Map[String, String] = {
    if (capsZero) driverCaps.foreach(spark.conf.set(_, "0"))
    try queries.map(q => q -> digest(SparkEntry.queries(q)(spark, dataDir))).toMap
    finally driverCaps.foreach(spark.conf.unset)
  }

  def load(): Map[String, String] =
    Files.readAllLines(Paths.get(table), StandardCharsets.UTF_8).asScala
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(q, d) = l.split("\t"); q -> d }.toMap

  /** Rewrites the committed table from the default-cap run. */
  def main(args: Array[String]): Unit = {
    val got = compute(SparkTestSession.spark, capsZero = false)
    val lines = s"# query\trows:sum(xxhash64(all columns)), data $dataDir" +:
      queries.map(q => s"$q\t${got(q)}")
    Files.write(Paths.get(table), (lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
    println(s"wrote $table (${queries.size} queries)")
    SparkTestSession.spark.stop()
  }
}

class GraphDigestSpec extends AnyFunSuite with Matchers {
  private lazy val spark = SparkTestSession.spark

  for (capsZero <- Seq(false, true)) {
    test(s"graph and CC query digests match the committed table (driver caps ${if (capsZero) "0" else "default"})") {
      val want = GraphDigests.load()
      want.keySet shouldBe GraphDigests.queries.toSet
      val got = GraphDigests.compute(spark, capsZero)
      GraphDigests.queries.foreach { q =>
        withClue(s"$q: ") { got(q) shouldBe want(q) }
      }
    }
  }
}
