package perfbench

import graft.sources.TxnLog
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.time.Instant
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}
import org.apache.spark.sql.types._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** `ingest`: streaming ingest, open loop. A generator lands one small
  * seeded `events` file in a landing directory every `PeriodMs`, on a
  * fixed schedule whatever the stream does; a Structured Streaming query
  * drains the directory into `writeStream.format("txnlog")`, exactly-once
  * by `txnAppId`. The unit of work is one landed file; its lag runs from
  * the file's due time to the end of the micro-batch whose commit makes
  * its rows readable. Exercises the streaming layer, the TxnLog sink and
  * its idempotent append; the merge, the watermark scan and the text and
  * vector kernels do nothing here. */
object IngestBench {
  val PeriodMs = 100
  val RowsPerFile = 20
  /** The query's processing-time trigger, as a production ingest job runs
    * it: a file waits for the next trigger, then for its micro-batch. The
    * interval stays above the slowest micro-batch seen (about 1 s on a
    * loaded 4-core host), so batches never run back to back. */
  val TriggerMs = 2000L
  /** Files landed, and committed, before the measured window. */
  val WarmFiles = 10
  val AppId = "perfbench-ingest"
  /** How long the stream may take to commit the last landed file. */
  val DrainTimeoutMs = 30000L

  val Schema: StructType = StructType(Seq(
    StructField("file", LongType), StructField("row", LongType), StructField("symbol", LongType),
    StructField("price", DoubleType), StructField("qty", LongType)))

  /** The rows of file `i` as (file, row, symbol, price, qty): a pure
    * function of the seed and the file number. */
  def rows(seed: Long, i: Long): Seq[(Long, Long, Long, Double, Long)] = (0L until RowsPerFile).map { j =>
    val h = Prices.mix(Prices.mix(seed ^ i * 1000003L) ^ j)
    val price = math.round((10 + 990 * ((h >>> 11).toDouble / (1L << 53))) * 100) / 100.0
    (i, j, 1 + (h & 0x7f), price, 1 + ((h >>> 7) & 0x3f))
  }

  /** What the listener saw of one micro-batch with input rows. */
  final case class Batch(id: Long, startMs: Double, durations: Map[String, Long], rows: Long) {
    def endMs: Double = startMs + durations.getOrElse("triggerExecution", 0L)
  }

  def run(ctx: Ctx): Outcome = {
    import ctx._
    val landing = dir("landing")
    val staging = dir("staging")
    val table = dir("ingest") + "/t"
    val checkpoint = dir("ingest") + "/checkpoint"

    val batches = mutable.ArrayBuffer.empty[Batch]
    val failures = mutable.ArrayBuffer.empty[String]
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        if (p.numInputRows > 0) batches.synchronized {
          batches += Batch(p.batchId, Instant.parse(p.timestamp).toEpochMilli.toDouble,
            p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap, p.numInputRows)
        }
      }
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        e.exception.foreach(x => failures.synchronized(failures += x))
    }
    spark.streams.addListener(listener)
    def committedRows: Long = batches.synchronized(batches.map(_.rows).sum)

    /** Lands file `i` atomically, so the stream never lists a partial file. */
    def land(i: Long): Double = {
      val tmp = Paths.get(staging, s"events-$i.json")
      Files.write(tmp, rows(seed, i).map { case (f, r, sym, price, qty) =>
        s"""{"file":$f,"row":$r,"symbol":$sym,"price":$price,"qty":$qty}""" }.asJava)
      Files.move(tmp, Paths.get(landing, f"events-$i%06d.json"), StandardCopyOption.ATOMIC_MOVE)
      trace.nowMs()
    }
    def await(files: Long): Unit = {
      val deadline = trace.nowMs() + DrainTimeoutMs
      while (committedRows < files * RowsPerFile && failures.synchronized(failures.isEmpty) &&
        trace.nowMs() < deadline) Thread.sleep(5)
    }

    val query = spark.readStream.schema(Schema).json(landing)
      .writeStream.format("txnlog")
      .option("path", table).option("txnAppId", AppId).option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime(TriggerMs))
      .start()
    (0L until WarmFiles).foreach { i => land(i); Thread.sleep(PeriodMs) }
    await(WarmFiles)
    phase("warm")
    // A processing-time trigger fires at the epoch-ms multiples of its
    // interval. The window starts half a period after one, so every run
    // lands the same files between the same triggers: one micro-batch per
    // trigger interval the files land in, each with the same files.
    val aligned = (math.floor(trace.nowMs() / TriggerMs) + 1) * TriggerMs + PeriodMs / 2.0
    Thread.sleep(math.max(0L, (aligned - trace.nowMs()).toLong))

    // the open loop: file i is due at t0 + i × PeriodMs, late or not
    val files = math.max(1L, seconds * 1000L / PeriodMs)
    val due = mutable.LinkedHashMap.empty[Long, Double]
    val landed = mutable.LinkedHashMap.empty[Long, Double]
    startMeasuring()
    val t0 = measureStartMs
    (0L until files).foreach { n =>
      val i = WarmFiles + n
      val dueMs = t0 + n * PeriodMs
      val wait = dueMs - trace.nowMs()
      if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
      due(i) = dueMs
      landed(i) = land(i)
    }
    await(WarmFiles + files)
    val measuredMs = stopMeasuring()
    // taken before the stop, whose interrupt a busy stream may report as a failure
    val error = failures.synchronized(failures.headOption).map(e => s"ingest stream failed: $e")
      .orElse(Option.when(committedRows < (WarmFiles + files) * RowsPerFile)(
        s"ingest: ${committedRows / RowsPerFile} of ${WarmFiles + files} files committed " +
          s"within ${DrainTimeoutMs / 1000} s"))
    query.stop()
    spark.streams.removeListener(listener)
    if (error.nonEmpty) return Outcome(files, 1, error.toSeq, Map.empty, Map.empty, Map.empty)

    // which batch made each file readable: the commit carrying the batch's
    // (AppId, batch id) marker added the data files its rows are read from
    val all = batches.synchronized(batches.toList)
    val vs = TxnLog.versions(table)
    val batchOfFile = all.flatMap { b =>
      TxnLog.txnCommitVersion(table, AppId, b.id).toSeq.flatMap { v =>
        val before = vs.filter(_ < v).lastOption.map(u => TxnLog.files(table, Some(u)).toSet).getOrElse(Set.empty)
        (TxnLog.files(table, Some(v)).toSet -- before).map(_ -> b)
      }
    }.toMap
    val stored = TxnLog.snapshot(spark, table).select((Schema.fieldNames.map(col) :+ input_file_name()).toSeq: _*)
      .collect().map(r => ((r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4)), r.getString(5)))
      .toSeq
    val batchOf = stored.flatMap { case (row, path) =>
      batchOfFile.collectFirst { case (f, b) if path.endsWith("/" + f) => row._1 -> b } }.toMap
    val lagMs = due.keys.toSeq.map(i => batchOf.get(i).map(_.endMs - due(i)))
    val measured = all.filter(b => b.startMs >= t0)

    // output check, untimed: every landed row is in the table exactly once
    val want = (0L until WarmFiles + files).flatMap(rows(seed, _)).sortBy(r => (r._1, r._2))
    val got = stored.map(_._1).sortBy(r => (r._1, r._2))
    val checks = Seq(
      Option.when(got != want)(s"ingest: the table holds ${got.length} rows (${got.distinct.length} distinct), " +
        s"${want.length} landed; ${got.diff(want).length} unexpected, ${want.diff(got).length} missing"),
      Option.when(lagMs.exists(_.isEmpty))(
        s"ingest: ${lagMs.count(_.isEmpty)} landed files are in no committed micro-batch")).flatten
    val lags = lagMs.flatten
    if (lags.isEmpty) return Outcome(files, 0, checks, Map.empty, Map.empty, Map.empty)

    def medianOf(k: String): Double = Stats.median(measured.map(_.durations.getOrElse(k, 0L).toDouble))
    measured.foreach(b => trace.record("ingest.batch", b.startMs, b.endMs))
    val layers =
      if (!trace.enabled) Map.empty[String, Double]
      else Layers.spark(ctx, "ingest.batch", measuredMs) ++ Map(
        "streaming.batches" -> measured.length.toDouble,
        "streaming.add_batch_ms" -> medianOf("addBatch"),
        "streaming.query_planning_ms" -> medianOf("queryPlanning"),
        "streaming.wal_commit_ms" -> medianOf("walCommit"),
        "plans.planning_ms" -> medianOf("queryPlanning"),
        "ingest.gen_late_ms" -> Stats.median(due.keys.toSeq.map(i => landed(i) - due(i))),
        "trace.op_p50_ms" -> Stats.median(lags),
        "trace.op_cpu_ms" -> measuredCpuMs / files)
    Outcome(
      attempted = files, failed = 0, failedChecks = checks,
      endToEnd = ctx.endToEnd(files),
      layers = layers,
      info = Map(
        "unit" -> "one landed file, due time to readable", "work" -> "landed files",
        "samples" -> lags.length, "op_ms" -> lags, "op_p50_ms" -> Stats.median(lags),
        "period_ms" -> PeriodMs, "trigger_ms" -> TriggerMs, "rows_per_file" -> RowsPerFile, "files" -> files,
        "warm_files" -> WarmFiles, "batches" -> measured.length, "versions" -> vs.length,
        "batch_ms" -> measured.map(_.durations.getOrElse("triggerExecution", 0L))))
  }
}
