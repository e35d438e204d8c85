package perfbench

import org.apache.spark.scheduler._
import scala.collection.mutable

/** One traced call: `parent` is the span open on the same thread when it
  * started (-1 at the top), `op` groups the spans of one operation. */
final case class Span(id: Int, name: String, startMs: Double, endMs: Double,
                      parent: Int, op: Int)

/** In-memory span recorder plus the Spark listener of a traced run.
  *
  * Every time is epoch milliseconds with sub-millisecond digits, so spans
  * line up with the epoch-millisecond times on Spark's listener events.
  * With `enabled = false` [[span]] only runs its body: the untraced run
  * that yields the end-to-end metrics registers no listener and records
  * no span. */
final class Trace(val enabled: Boolean) {
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  def nowMs(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time the JVM has spent so far, in ms, without its JIT compiler
    * threads: the work the program does, including GC and Spark's own
    * threads, but not the JIT compilation, which in a JVM this young runs
    * the whole time and follows how far it has got, not the program's
    * work. Other load on the host stretches the wall clock far more than
    * this; on a virtual machine whose kernel accounts steal time, the time
    * the host ran someone else is left out too. The compiler threads are found by name
    * in /proc (Linux); run.py keeps them alive for the whole run, so none
    * takes its time with it when it ends. */
  def workCpuMs(): Double = os.getProcessCpuTime / 1e6 - Trace.compilerCpuMs()

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue() = Nil }
  private val opOf = new ThreadLocal[Int] { override def initialValue() = -1 }
  private var nextOp = 0

  /** Opens a new operation on this thread; spans until the next call belong to it. */
  def beginOp(): Unit = synchronized { opOf.set(nextOp); nextOp += 1 }

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val start = nowMs()
      val parent = stack.get.headOption.getOrElse(-1)
      val id = synchronized { spans += Span(-1, name, start, start, parent, opOf.get); spans.length - 1 }
      stack.set(id :: stack.get)
      try body
      finally {
        stack.set(stack.get.tail)
        synchronized { spans(id) = Span(id, name, start, nowMs(), parent, opOf.get) }
      }
    }

  /** Records a span timed elsewhere, such as a micro-batch a listener reported. */
  def record(name: String, startMs: Double, endMs: Double): Unit =
    if (enabled) synchronized { spans += Span(spans.length, name, startMs, endMs, -1, -1) }

  def all: Seq[Span] = synchronized(spans.toList)

  /** Start of the measured window; the summaries below see only spans in it. */
  @volatile var since = 0.0

  def durationsMs(name: String): Seq[Double] =
    all.filter(s => s.name == name && s.startMs >= since && s.endMs <= until).map(s => s.endMs - s.startMs)

  /** Summed duration in seconds of the measured spans called `name`. */
  def seconds(name: String): Double = durationsMs(name).sum / 1000

  /** End of the measured window. */
  @volatile var until = Double.MaxValue
  private def inWindow(t: Long): Boolean = t >= since && t <= until

  /** Spark job, stage and task counters of the measured window. */
  val jobs = new java.util.concurrent.atomic.AtomicLong
  val stages = new java.util.concurrent.atomic.AtomicLong
  val tasks = new java.util.concurrent.atomic.AtomicLong
  val taskMs = new java.util.concurrent.atomic.AtomicLong
  val shuffleBytes = new java.util.concurrent.atomic.AtomicLong
  val inputBytes = new java.util.concurrent.atomic.AtomicLong
  val spillBytes = new java.util.concurrent.atomic.AtomicLong
  private val jobStart = mutable.Map.empty[Int, Long]
  /** (start, end) epoch-ms of every finished job. */
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      jobStart(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobStart.remove(e.jobId).foreach { s =>
        jobIntervals += ((s, e.time))
        if (inWindow(e.time)) jobs.incrementAndGet()
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (e.stageInfo.completionTime.exists(inWindow)) stages.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (inWindow(e.taskInfo.finishTime) && e.taskMetrics != null) {
        val m = e.taskMetrics
        tasks.incrementAndGet()
        taskMs.addAndGet(m.executorRunTime)
        shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        inputBytes.addAndGet(m.inputMetrics.bytesRead)
        spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
  }

  /** Share of the wall time of the spans called `name` that no Spark job covers. */
  def driverShare(name: String): Double = {
    val ops = all.filter(s => s.name == name && s.startMs >= since && s.endMs <= until)
    val jobsSeen = synchronized(jobIntervals.toList)
    val total = ops.map(s => s.endMs - s.startMs).sum
    if (total <= 0) return 0.0
    val covered = ops.map { s =>
      val parts = jobsSeen.map { case (a, b) => (math.max(a.toDouble, s.startMs), math.min(b.toDouble, s.endMs)) }
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var sum = 0.0; var hi = Double.MinValue
      parts.foreach { case (a, b) =>
        val from = math.max(a, hi)
        if (b > from) sum += b - from
        hi = math.max(hi, b)
      }
      sum
    }.sum
    1.0 - covered / total
  }
}

object Trace {
  private val ClockTicksPerS = 100

  /** CPU time of the JIT compiler threads so far, in ms (0 where /proc is missing). */
  def compilerCpuMs(): Double = {
    var ticks = 0L
    Option(new java.io.File("/proc/self/task").listFiles()).getOrElse(Array.empty).foreach { t =>
      try {
        val stat = new String(java.nio.file.Files.readAllBytes(t.toPath.resolve("stat")))
        val close = stat.lastIndexOf(')')
        if (stat.substring(stat.indexOf('(') + 1, close).contains("CompilerThre")) {
          // fields after the name start at field 3; utime and stime are fields 14 and 15
          val f = stat.substring(close + 2).split(' ')
          ticks += f(11).toLong + f(12).toLong
        }
      } catch { case _: java.io.IOException => } // the thread has ended
    }
    ticks * 1000.0 / ClockTicksPerS
  }

  /** Records nothing: for set-up work outside the measured window. */
  val off = new Trace(false)
}
