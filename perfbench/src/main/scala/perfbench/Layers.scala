package perfbench

/** Spark scheduler and execution counters of a traced run, per operation. */
object Layers {
  /** `op` names the span of one operation; `measuredMs` is the wall time
    * of the measured window the counters cover. */
  def spark(ctx: Ctx, op: String, measuredMs: Double): Map[String, Double] = {
    val t = ctx.trace
    org.apache.spark.PerfbenchShim.drainListeners(ctx.spark.sparkContext)
    val ops = math.max(1, t.durationsMs(op).length).toDouble
    Map(
      "spark.jobs" -> t.jobs.get / ops,
      "spark.stages" -> t.stages.get / ops,
      "spark.tasks" -> t.tasks.get / ops,
      "spark.task_busy_share" -> t.taskMs.get / (measuredMs * ctx.cores),
      "spark.shuffle_bytes" -> t.shuffleBytes.get / ops,
      "spark.input_bytes" -> t.inputBytes.get / ops,
      "spark.spill_bytes" -> t.spillBytes.get / ops,
      "spark.driver_share" -> t.driverShare(op))
  }
}
