package graft.perfbench

import graft.SparkEntry
import graft.queries.QueryDsl

/** The named query sets the benchmark runs. Each is a fixed subset of
  * one query family, small enough that a pass fits several times into
  * one run; the seed only permutes the order within each pass. */
object Workloads {
  type Entry = (String, QueryDsl.Q)

  private def pick(ids: String*): List[Entry] = ids.toList.map { id =>
    val hits = SparkEntry.queries.filter { case (k, _) => k == id || k.startsWith(id + "_") }
    require(hits.size == 1, s"query id $id matches ${hits.keys.mkString(",")}")
    hits.head
  }

  val all: Map[String, List[Entry]] = Map(
    // short scans, joins and aggregates plus one temporal join: per-query
    // fixed costs (schema inference in QueryDsl.t, Catalyst, job scheduling)
    "relational" -> pick("q01", "q02", "q06", "q09", "q21", "q22", "q61"),
    // one query from each heavy family: PageRank's driver loop while the
    // DataFrame is built, MinHash LSH expressions and shuffles, and
    // particle analysis through the image kernels
    "pipeline" -> pick("q119", "q32", "img05"),
  )
}
