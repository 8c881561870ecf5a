package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.perfbench.BusDrain
import org.apache.spark.sql.SparkSession

import graft.queries.QueryDsl

/** One benchmark run: a single closed-loop client executing a
  * workload's queries back to back, each to a full noop write.
  *
  * Set-up (reported as `setup_s`) starts the engine, runs every query
  * once computing its output digest, which is checked against the
  * committed table, then runs three untimed passes to the noop sink. This
  * warms the JIT, codegen and the page cache before any timing starts.
  * The timed window then runs whole passes, each in a fresh seeded
  * order, until `--seconds` have passed. With `--trace 1` untraced and
  * traced passes alternate, the benchmark's own listeners split each
  * traced query into layers, and the native kernels are timed outside
  * Spark. The result is written to `--out` and printed as the last
  * stdout line.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        data: String, work: String, out: String, digests: String,
                        rebuild: Boolean)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Args(m.getOrElse("workload", ""), m.getOrElse("seed", "1").toLong,
      m.getOrElse("seconds", "10").toDouble, m.getOrElse("trace", "0") == "1",
      m("data"), m("work"), m("out"), m("digests"), m.getOrElse("rebuild-digests", "0") == "1")
  }

  private val cores = Runtime.getRuntime.availableProcessors()
  private val epochMs0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  /** A `System.nanoTime` reading on the listener bus's epoch-ms clock. */
  private def ms(nano: Long): Double = epochMs0 + (nano - nano0) / 1e6

  private def loadavg(): Seq[Double] =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")), StandardCharsets.UTF_8)
      .trim.split(" ").take(3).map(_.toDouble).toSeq
    catch { case NonFatal(_) => Nil }

  private def peakRssMb(): Double =
    new String(Files.readAllBytes(Paths.get("/proc/self/status")), StandardCharsets.UTF_8)
      .split("\n").find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(Double.NaN)

  private def processCpuS(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  private def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  final case class Exec(name: String, wallS: Double, error: Option[String],
                        window: TraceSplit.Window, digest: Option[Digest.D] = None)

  /** Builds the query's DataFrame and writes it to the noop sink, or
    * with `digest` computes its output digest instead. */
  private def exec(spark: SparkSession, a: Args, e: Workloads.Entry, digest: Boolean = false): Exec = {
    val t0 = System.nanoTime()
    var built = t0
    var t1 = t0
    var d: Option[Digest.D] = None
    val error =
      try {
        val df = e._2(spark, a.data)
        built = System.nanoTime()
        if (digest) d = Some(Digest.of(df))
        else df.write.mode("overwrite").format("noop").save()
        t1 = System.nanoTime()
        None
      } catch {
        case NonFatal(x) =>
          System.err.println(s"perfbench: ${e._1} failed: $x")
          t1 = System.nanoTime()
          built = t1
          Some(x.toString)
      }
    Exec(e._1, (t1 - t0) / 1e9, error, TraceSplit.Window(e._1, ms(t0), ms(built), ms(t1)), d)
  }

  final case class Pass(wallS: Double, execs: Seq[Exec], splits: Seq[QuerySplit])

  private def pass(spark: SparkSession, a: Args, order: Seq[Workloads.Entry],
                   rec: Option[TraceRecorder]): Pass = {
    rec.foreach { r =>
      spark.sparkContext.addSparkListener(r)
      spark.listenerManager.register(r)
    }
    val t0 = System.nanoTime()
    val execs = order.map(exec(spark, a, _))
    val wall = (System.nanoTime() - t0) / 1e9
    val splits = rec.toSeq.flatMap { r =>
      BusDrain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(r)
      spark.listenerManager.unregister(r)
      execs.filter(_.error.isEmpty).map(x => TraceSplit.split(r, x.window))
    }
    Pass(wall, execs, splits)
  }

  /** Runs every query once with its output digest; returns the digests
    * and the names that failed or do not match `table`. */
  private def checkPass(spark: SparkSession, a: Args, order: Seq[Workloads.Entry],
                        table: Map[String, Digest.D]): (Map[String, Digest.D], Set[String]) = {
    val got = order.map(exec(spark, a, _, digest = true)).flatMap(x => x.digest.map(x.name -> _)).toMap
    val bad = order.map(_._1).filter(n => got.get(n).isEmpty || !table.get(n).contains(got(n))).toSet
    if (table.nonEmpty) bad.toSeq.sorted.foreach(n =>
      System.err.println(s"perfbench: $n digest ${got.get(n).fold("missing")(_.toString)} " +
        s"expected ${table.get(n).fold("none")(_.toString)}"))
    (got, bad)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    if (a.rebuild) { rebuildDigests(a); return }
    val queries = Workloads.all.getOrElse(a.workload,
      throw new IllegalArgumentException(
        s"unknown workload '${a.workload}' (known: ${Workloads.all.keys.toSeq.sorted.mkString(", ")})"))
    val table = Digest.load(Paths.get(a.digests))
    val rng = new scala.util.Random(a.seed)
    def order() = rng.shuffle(queries)
    val loadBefore = loadavg()

    // ---- set-up: engine start, output check, warm-up pass ----
    val t0 = System.nanoTime()
    val spark = session(a)
    val bad = checkPass(spark, a, order(), table)._2
    val checkedS = (System.nanoTime() - t0) / 1e9
    for (_ <- 1 to 3) order().foreach(exec(spark, a, _))
    val setupS = (System.nanoTime() - t0) / 1e9

    // ---- timed window ----
    val recorder = if (a.trace) Some(new TraceRecorder) else None
    val passes = ArrayBuffer.empty[(Boolean, Pass)]
    val cpu0 = processCpuS()
    val w0 = System.nanoTime()
    def elapsed = (System.nanoTime() - w0) / 1e9
    // traced runs alternate untraced and traced passes in ABBA blocks, so
    // warm-up drift does not bias the trace overhead
    while (elapsed < a.seconds || (a.trace && passes.size < 4)) {
      val traced = a.trace && (passes.size % 4 == 1 || passes.size % 4 == 2)
      passes += traced -> pass(spark, a, order(), if (traced) recorder else None)
    }
    val cpuS = processCpuS() - cpu0
    val loadAfter = loadavg()

    val execs = passes.flatMap(_._2.execs)
    val failedExecs = execs.filter(x => x.error.isDefined || bad(x.name))
    val samples = execs.filter(x => x.error.isEmpty && !bad(x.name)).map(_.wallS).toSeq
    val plain = passes.filterNot(_._1).map(_._2.wallS).toSeq
    val (tailS, tailPct, tailAbove) = if (samples.isEmpty) (Double.NaN, 0.0, 0) else Stats.tail(samples)
    val endToEnd = Seq(
      "setup_s" -> (setupS, "s"),
      "pass_s" -> (Stats.median(plain), "s"),
      "query_s_p50" -> (if (samples.isEmpty) Double.NaN else Stats.median(samples), "s"),
      "query_s_tail" -> (tailS, "s"),
      "success_frac" -> (1.0 - failedExecs.size.toDouble / execs.size, "frac"),
      "cpu_s" -> (cpuS / passes.size, "s"),
      "driver_rss_peak_mb" -> (peakRssMb(), "MB"))

    // ---- per-layer figures (traced runs only) ----
    val traced = passes.filter(_._1).map(_._2)
    val layers: Seq[(String, (Double, String))] = if (!a.trace) Nil else {
      val perPass = traced.map(p => layerSums(p.splits))
      val passLayers = perPass.head.map { case (k, (_, unit)) =>
        k -> ((Stats.median(perPass.map(_(k)._1).toSeq), unit))
      }
      val overhead = Stats.median(traced.map(_.wallS).toSeq) / Stats.median(plain) - 1.0
      val kernels = timeKernels(spark, a)
      passLayers.toSeq.sortBy(_._1) ++ tableReads(spark, a, recorder.get) ++ kernels ++
        Seq("trace_overhead" -> (overhead, "frac"))
    }
    spark.stop()

    val metrics = if (a.trace) layers else endToEnd
    val result = Map(
      "correct" -> (failedExecs.isEmpty && bad.isEmpty),
      "attempted" -> execs.size,
      "failed" -> failedExecs.size,
      "metrics" -> ListMap(metrics.map { case (k, (v, u)) =>
        k -> ListMap("value" -> v, "unit" -> u)
      }: _*))
    val splits = traced.flatMap(_.splits)
    val detail = ListMap(
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds, "trace" -> a.trace,
      "fingerprint" -> ListMap(
        "nproc" -> cores, "xmx_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
        "loadavg_before" -> loadBefore, "loadavg_after" -> loadAfter,
        "contended" -> loadBefore.headOption.exists(_ >= cores),
        "commit" -> sys.props.getOrElse("perfbench.commit", "unknown"),
        "tree" -> sys.props.getOrElse("perfbench.tree", "unknown")),
      "end_to_end" -> endToEnd.map { case (k, (v, u)) => Map("name" -> k, "value" -> v, "unit" -> u) },
      "failed_frac" -> (if (execs.isEmpty) Double.NaN else failedExecs.size.toDouble / execs.size),
      "query_s_tail_percentile" -> tailPct, "query_s_tail_above" -> tailAbove,
      "latency_samples" -> samples.size,
      "setup_check_s" -> checkedS,
      "passes" -> passes.map { case (t, p) =>
        Map("traced" -> t, "wall_s" -> p.wallS, "queries" -> p.execs.map(x =>
          ListMap("name" -> x.name, "wall_s" -> x.wallS, "error" -> x.error)))
      },
      "digest_mismatches" -> bad.toSeq.sorted,
      "per_layer" -> layers.map { case (k, (v, u)) => Map("name" -> k, "value" -> v, "unit" -> u) },
      "split_max_error" -> (if (splits.isEmpty) 0.0 else splits.map(s => math.abs(s.partsS - s.wallS) / s.wallS).max),
      "query_splits" -> splits.map(s => s.productElementNames.zip(s.productIterator).toSeq)
        .map(kv => ListMap(kv: _*)),
      "result" -> result)
    Files.createDirectories(Paths.get(a.out).toAbsolutePath.getParent)
    Files.write(Paths.get(a.out), (Json(detail) + "\n").getBytes(StandardCharsets.UTF_8))
    println(Json(result))
  }

  /** Per-pass sums of the per-query layer split. */
  private def layerSums(ss: Seq[QuerySplit]): Map[String, (Double, String)] = {
    def sum(f: QuerySplit => Double) = ss.map(f).sum
    val jobS = sum(_.jobS)
    Map(
      "queries.build_s" -> (sum(_.buildS), "s"),
      "queries.build_wall_s" -> (sum(_.buildWallS), "s"),
      "queries.build_jobs" -> (sum(_.buildJobs.toDouble), "count"),
      "catalyst.analysis_s" -> (sum(_.analysisS), "s"),
      "catalyst.optimization_s" -> (sum(_.optimizationS), "s"),
      "catalyst.planning_s" -> (sum(_.planningS), "s"),
      "scheduler.jobs" -> (sum(_.jobs.toDouble), "count"),
      "scheduler.stages" -> (sum(_.stages.toDouble), "count"),
      "scheduler.tasks" -> (sum(_.tasks.toDouble), "count"),
      "scheduler.job_s" -> (jobS, "s"),
      "scheduler.core_busy" -> (if (jobS > 0) sum(_.taskS) / (jobS * cores) else 0.0, "frac"),
      "scheduler.failed_tasks" -> (sum(_.failedTasks.toDouble), "count"),
      "driver.outside_jobs_s" -> (sum(_.outsideS), "s"),
      "exec.run_s" -> (sum(_.runS), "s"),
      "exec.cpu_s" -> (sum(_.cpuS), "s"),
      "exec.gc_s" -> (sum(_.gcS), "s"),
      "exec.deser_s" -> (sum(_.deserS), "s"),
      "exec.shuffle_read_mb" -> (sum(_.shuffleReadMb), "MB"),
      "exec.shuffle_write_mb" -> (sum(_.shuffleWriteMb), "MB"),
      "exec.spill_mb" -> (sum(_.spillMb), "MB"),
      "exec.input_mb" -> (sum(_.inputMb), "MB"),
      "exec.output_mb" -> (sum(_.outputMb), "MB"))
  }

  /** `queries.table_read_*`: direct `QueryDsl.t` calls on every input
    * table, median of three rounds. */
  private def tableReads(spark: SparkSession, a: Args, rec: TraceRecorder): Seq[(String, (Double, String))] = {
    val tables = Option(new java.io.File(a.data).list()).getOrElse(Array.empty[String])
      .filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet")).sorted.toSeq
    spark.sparkContext.addSparkListener(rec)
    val rounds = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      tables.foreach(QueryDsl.t(spark, a.data, _).schema)
      (ms(t0), ms(System.nanoTime()))
    }
    BusDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(rec)
    val jobs = rounds.map { case (lo, hi) => rec.jobs.values.count(j => j.start >= lo - 1 && j.start <= hi).toDouble }
    Seq("queries.table_read_s" -> (Stats.median(rounds.map(r => (r._2 - r._1) / 1e3)), "s"),
      "queries.table_read_jobs" -> (Stats.median(jobs), "count"))
  }

  private def timeKernels(spark: SparkSession, a: Args): Seq[(String, (Double, String))] = {
    val budget = 0.25
    def unit(k: String) =
      if (k.endsWith("_ns_px")) "ns/px" else if (k.endsWith("_ns_doc")) "ns/doc"
      else if (k.endsWith("_mb_s")) "MB/s" else "s"
    (KernelTimings.core(a.seed, budget) ++ KernelTimings.sources(a.seed, budget) ++
      KernelTimings.functions(a.seed, budget) ++ KernelTimings.pipeline(spark, a.data, budget))
      .map { case (k, v) => k -> (v, unit(k)) }
  }

  /** Writes the digest table for every workload's queries. Each digest
    * is computed in two sessions; a query whose digest does not repeat
    * is reported (and kept, with its first digest). */
  private def rebuildDigests(a: Args): Unit = {
    val all = Workloads.all.values.flatten.toSeq.distinctBy(_._1).sortBy(_._1)
    var spark = session(a)
    val (first, _) = checkPass(spark, a, all, Map.empty)
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    spark = session(a)
    val (second, _) = checkPass(spark, a, all, Map.empty)
    spark.stop()
    val unstable = all.map(_._1).filter(n => first.get(n) != second.get(n))
    unstable.foreach(n => println(s"perfbench: $n digest does not repeat: ${first.get(n)} vs ${second.get(n)}"))
    val missing = all.map(_._1).filterNot(first.contains)
    require(missing.isEmpty, s"queries without a digest: ${missing.mkString(", ")}")
    Digest.save(Paths.get(a.digests), first,
      s"query\trows\tsum(xxhash64(all columns)) at local[$cores], data ${Paths.get(a.data).getFileName}")
    println(s"perfbench: wrote ${first.size} digests to ${a.digests}; ${unstable.size} do not repeat")
  }
}
