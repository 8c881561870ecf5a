package graft

import org.apache.spark.sql.SparkSession

/** Where every graft tool and test builds its SparkSession. It owns
  * the shared session policy — UTC session time zone, no UI, one
  * shuffle partition per core, the log level — and each caller passes
  * its master, its core count and any conf of its own. */
object GraftSession {
  def apply(master: String, cores: Int, conf: Map[String, String] = Map.empty,
            logLevel: String = "WARN"): SparkSession = {
    val s = conf.foldLeft(SparkSession.builder().master(master)
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    s.sparkContext.setLogLevel(logLevel)
    s
  }
}
