package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** What one workload run hands back to [[Main]]. `endToEnd` holds the
  * workload's end-to-end figures ([[Ctx.endToEnd]]); `layers` the per-layer metrics
  * of a traced run; `failedChecks` one line per output check that failed. */
final case class Outcome(attempted: Long, failed: Long,
                         failedChecks: Seq[String],
                         endToEnd: Map[String, Double],
                         layers: Map[String, Double],
                         info: Map[String, Any],
                         oracle: Map[String, String] = Map.empty)

/** Everything a workload needs: the session, the trace, the seed, how long
  * to measure, a private work directory, and the set-up clock. */
final case class Ctx(spark: SparkSession, trace: Trace, seed: Long,
                     seconds: Int, work: Path, cores: Int) {
  /** Epoch ms at which the measured window began; set by the workload. */
  @volatile var measureStartMs: Double = Double.NaN
  /** Seconds since JVM start at which each set-up phase ended. */
  val phases = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  def phase(name: String): Unit =
    phases(name) = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
  private var cpuStartMs = Double.NaN
  def startMeasuring(): Unit = {
    phase("setup")
    measureStartMs = trace.nowMs()
    cpuStartMs = trace.workCpuMs()
    trace.since = measureStartMs
  }
  @volatile var liveHeapMb: Double = Double.NaN
  /** CPU time of the measured window, without the JIT compiler ([[Trace.workCpuMs]]). */
  @volatile var measuredCpuMs: Double = Double.NaN
  /** Closes the measured window and takes its CPU time and the live heap;
    * returns the window's length in ms. */
  def stopMeasuring(): Double = {
    trace.until = trace.nowMs()
    measuredCpuMs = trace.workCpuMs() - cpuStartMs
    liveHeapMb = Heap.liveMb(spark)
    trace.until - measureStartMs
  }
  /** The end-to-end figure of a window that did `ops` units of work. */
  def endToEnd(ops: Double): Map[String, Double] = Map("op_cpu_ms" -> measuredCpuMs / ops)
  def dir(name: String): String = {
    val d = work.resolve(name); Files.createDirectories(d); d.toString
  }
}

/** Entry point of the benchmark JVM. Usage:
  * `perfbench.Main --workload <sync|curate|ingest> --seed <n>
  *   --seconds <s> --trace <0|1> --work <dir>`.
  * Prints one line `PERFBENCH_RESULT <json>` on stdout; `run.py` turns it
  * into the benchmark's result line. */
object Main {
  val workloads: Map[String, Ctx => Outcome] = Map(
    "sync" -> SyncBench.run, "curate" -> CurateBench.run, "ingest" -> IngestBench.run)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    val run = workloads.getOrElse(name, sys.error(s"unknown workload $name"))
    val traced = opts.getOrElse("trace", "0") == "1"
    val cores = Runtime.getRuntime.availableProcessors()
    val work = Paths.get(opts("work")).toAbsolutePath
    Files.createDirectories(work)
    val spark = session(cores, work)
    val trace = new Trace(traced)
    if (traced) spark.sparkContext.addSparkListener(trace.sparkListener)
    val ctx = Ctx(spark, trace, opts("seed").toLong, opts("seconds").toInt, work, cores)
    ctx.phase("session")
    val out = run(ctx)
    ctx.phase("checked")
    val conf = spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.") && !k.contains("dir") && !k.contains("host") &&
        !k.contains("port") && !k.contains(".id") && !k.contains("startTime") }
    val rt = ManagementFactory.getRuntimeMXBean
    val result = Map(
      "workload" -> name,
      "attempted" -> out.attempted,
      "failed" -> out.failed,
      "failed_checks" -> out.failedChecks,
      "jvm_start_ms" -> rt.getStartTime,
      "measure_start_ms" -> ctx.measureStartMs,
      "end_to_end" -> (out.endToEnd + ("live_heap_mb" -> ctx.liveHeapMb)),
      "layers" -> out.layers,
      "oracle" -> out.oracle,
      "info" -> (out.info ++ Map(
        "seed" -> ctx.seed, "seconds" -> ctx.seconds, "nproc" -> cores, "setup_phases_s" -> ctx.phases.toMap,
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
        "jvm_args" -> rt.getInputArguments.asScala.filterNot(_.startsWith("--add-opens")),
        "spark_conf" -> conf)),
      "spans" -> (if (traced) trace.all else Nil))
    spark.stop()
    println("PERFBENCH_RESULT " + Stats.json(result))
  }

  /** The production session: GraftExtensions injects the optimizer rules
    * and the SQL parser (nothing is appended to `extraOptimizations`),
    * local[nproc] with one shuffle partition per core. */
  def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** Live heap in MiB: heap occupancy after a full collection at the end of
  * the measured window, while the workload still holds its state. Raw peak
  * usage mostly shows when the collector happened to run. */
object Heap {
  /** Waits for Spark's listener bus first, so the status store it fills is
    * complete rather than however far the bus got. The first collection
    * hands unreachable RDDs and broadcasts to Spark's cleaner, which polls
    * every 100 ms and then drops their cached blocks; the second one, after
    * the pause, frees those blocks. */
  def liveMb(spark: SparkSession): Double = {
    org.apache.spark.PerfbenchShim.drainListeners(spark.sparkContext)
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}
