package perfbench

import graft.sources.TxnLog

/** `sync`: the reference's daily incremental job, closed loop, one client.
  * Each round runs the watermark scan, the seeded extract, the argmax
  * dedup and the recency-guarded merge against a month-partitioned TxnLog
  * table. Exercises the commit path and the merge; the text and vector
  * kernels and the streaming layer do nothing here. */
object SyncBench {
  val Symbols = 100
  val SeedDays = 180
  val StepDays = 2
  val WarmRounds = 2
  /** Timed rounds per second of `--seconds`, about what a 4-core host runs.
    * The count is fixed before the window opens: when a fast stretch of the
    * host fitted one round more, the mean took in a later, cheaper round,
    * and runs split into two groups about 15% apart. */
  val RoundsPerSecond = 0.5
  /** Rounds always run, however short the window, so every run has samples to report. */
  val MinRounds = 3

  def run(ctx: Ctx): Outcome = {
    import ctx._
    val p = new Prices(seed, Symbols, SeedDays, StepDays)
    val table = dir("sync") + "/t"
    val seedRows = p.seedRows
    Prices.create(spark, table, seedRows)
    phase("create")
    val rounds = scala.collection.mutable.ArrayBuffer.empty[Prices.Round]
    (1 to WarmRounds).foreach(k => rounds += Prices.round(spark, Trace.off, p, table, k))
    phase("warm")
    val roundMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    var error: Option[String] = None
    startMeasuring()
    val timedRounds = math.max(MinRounds, math.ceil(seconds * RoundsPerSecond).toInt)
    while (error.isEmpty && roundMs.length < timedRounds) {
      val k = rounds.length + 1
      trace.beginOp()
      val t0 = trace.nowMs()
      try {
        rounds += trace.span("sync.round")(Prices.round(spark, trace, p, table, k))
        roundMs += trace.nowMs() - t0
      } catch { case e: Exception => error = Some(s"sync round $k failed: $e") }
    }
    if (error.nonEmpty) return Outcome(roundMs.length + 1L, 1, error.toSeq, Map.empty, Map.empty, Map.empty)
    val measuredMs = stopMeasuring()
    val timed = rounds.drop(WarmRounds)
    val fetchedRows = timed.map(_.fetched.length).sum

    // output checks, untimed: each round's watermark windows equal their
    // closed form, and the final snapshot equals the model
    val windowChecks = rounds.zipWithIndex.collect {
      case (r, i) if p.clip(r.windows) != p.expectedWindows(i + 1) =>
        val (got, want) = (p.clip(r.windows).toSet, p.expectedWindows(i + 1).toSet)
        s"sync round ${i + 1}: watermark windows differ from the closed form: " +
          s"got ${(got -- want).take(3).mkString(", ")}, want ${(want -- got).take(3).mkString(", ")}"
    }
    val model = Prices.model(spark, seedRows, rounds.map(_.fetched).toSeq)
    val got = Prices.canonical(TxnLog.snapshot(spark, table))
    val want = Prices.canonical(model)
    val checks = windowChecks.toSeq ++ (
      if (got == want) Nil
      else Seq(s"sync: snapshot (${got.length} rows) differs from the model (${want.length} rows) " +
        s"in ${(got.diff(want).length + want.diff(got).length)} rows"))

    val layers =
      if (!trace.enabled) Map.empty[String, Double]
      else Layers.spark(ctx, "sync.round", measuredMs) ++ Map(
        "txnlog.merge_s" -> trace.seconds("txnlog.merge") / timed.length,
        "txnlog.files_added" -> timed.map(_.filesAdded).sum.toDouble / timed.length,
        "txnlog.files_removed" -> timed.map(_.filesRemoved).sum.toDouble / timed.length,
        "txnlog.bytes_written" -> timed.map(_.bytesWritten).sum.toDouble / timed.length,
        "txnlog.log_bytes" -> timed.map(_.logBytes).sum.toDouble / timed.length,
        "txnlog.stored_bytes_per_row" -> Prices.storedBytesPerRow(table),
        "ops.watermark_s" -> trace.seconds("ops.watermark") / timed.length,
        "ops.dedup_s" -> trace.seconds("ops.dedup") / timed.length,
        "txnlog.snapshot_ms" -> Stats.median(trace.durationsMs("txnlog.snapshot")),
        "txnlog.live_files" -> TxnLog.files(table).length.toDouble,
        "plans.planning_ms" -> Stats.median(trace.durationsMs("plans.planning")),
        "sync.rows_per_s" -> fetchedRows / (roundMs.sum / 1000),
        "trace.op_p50_ms" -> Stats.median(roundMs.toSeq),
        "trace.op_cpu_ms" -> measuredCpuMs / roundMs.length)
    Outcome(
      attempted = roundMs.length, failed = 0, failedChecks = checks,
      endToEnd = ctx.endToEnd(roundMs.length),
      layers = layers,
      info = Map(
        "unit" -> "one sync round", "work" -> "fetched rows",
        "samples" -> roundMs.length, "op_ms" -> roundMs.toSeq, "op_p50_ms" -> Stats.median(roundMs.toSeq),
        "symbols" -> Symbols, "seed_rows" -> seedRows.length,
        "rows_per_round" -> fetchedRows.toDouble / timed.length,
        "rounds" -> rounds.length, "warm_rounds" -> WarmRounds,
        "versions" -> TxnLog.versions(table).length,
        "live_files" -> TxnLog.files(table).length,
        "stored_bytes_per_row" -> Prices.storedBytesPerRow(table)))
  }
}
