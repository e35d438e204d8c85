package perfbench

import graft.ops.{Dedup, Watermark}
import graft.pipeline.Sync
import graft.sources.TxnLog
import java.time.LocalDate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import scala.jdk.CollectionConverters._

/** The daily-price fact table of the `sync` workload, and the seeded
  * "source system" its rounds extract from.
  *
  * The grain is (`l_suppkey`, `l_shipdate`), standing in for the
  * reference's (symbol, date); `l_extendedprice` is the close the argmax
  * dedup keeps the maximum of, and `extracted_at` guards the merge against
  * stale re-extracts. The table is partitioned by month and keeps min/max
  * stats on both key columns plus a bloom filter on the symbol. */
final class Prices(seed: Long, val symbols: Int, val seedDays: Int, stepDays: Int) {
  import Prices._

  /** Every generated value is a pure function of the seed and its coordinates. */
  private def h(xs: Long*): Long = xs.foldLeft(seed * 0x9E3779B97F4A7C15L)((a, x) => mix(a ^ x))
  private def unit(xs: Long*): Double = (h(xs: _*) >>> 11).toDouble / (1L << 53)
  private def cents(x: Double): Double = math.round(x * 100) / 100.0

  /** Day index on which a symbol lists; about one in twenty lists after the seed cutoff. */
  def listing(s: Long): Int =
    if (unit(s, 1) < 0.05) seedDays + (unit(s, 2) * 40).toInt else 0

  private def row(s: Long, day: Int, price: Double, qty: Double, extractedDay: Double): Row = {
    val d = Day0.plusDays(day)
    Row(s, java.sql.Date.valueOf(d), cents(price), qty,
      new java.sql.Timestamp(((Day0.toEpochDay + extractedDay) * 86400000L).toLong),
      f"${d.getYear}%04d-${d.getMonthValue}%02d")
  }

  private def price(s: Long, day: Int): Double = 10 + 990 * unit(s, day, 3)

  /** The rows loaded before the first sync: every listed symbol, every day before the cutoff. */
  def seedRows: Seq[Row] =
    for (s <- 1L to symbols; d <- listing(s) until seedDays)
      yield row(s, d, price(s, d), 1 + (unit(s, d, 4) * 50).toInt, d + 0.75)

  /** "Today" as a day index in round `k` (round 0 is the seed load). */
  def today(k: Int): Int = seedDays + k * stepDays

  /** The days round `k` must extract, in closed form: for every symbol
    * listed by the freshness cutoff, from the lookback before the
    * previous round's cutoff (or from the listing day) to this round's
    * cutoff. As (symbol, first day, last day), sorted by symbol. */
  def expectedWindows(k: Int): Seq[(Long, Int, Int)] =
    clip((1L to symbols).map(s => (s, today(k - 1) - Lookback, today(k) - Freshness)))

  /** Windows clipped to each symbol's listing day; empty ones dropped. */
  def clip(windows: Seq[(Long, Int, Int)]): Seq[(Long, Int, Int)] =
    windows.map { case (s, from, to) => (s, math.max(from, listing(s)), to) }
      .filter { case (_, from, to) => from <= to }.sortBy(_._1)

  /** Extract of round `k` for the windows the watermark computed: every
    * day in each symbol's window it was listed on, with seeded revisions
    * (restated prices), intra-batch duplicates (a second quote for the
    * same key), stale re-extracts (an old `extracted_at`, which the
    * recency guard must drop) and late re-deliveries (the previous
    * extract's `extracted_at`). `windows` is (symbol, first day, last day). */
  def extract(k: Int, windows: Seq[(Long, Int, Int)]): Seq[Row] = {
    val at = today(k) + 0.75
    clip(windows).flatMap { case (s, from, to) =>
      (from to to).flatMap { d =>
        val revised = if (unit(s, d, k, 5) < 0.3) 1 + (unit(s, d, k, 6) - 0.5) / 10 else 1.0
        val p = price(s, d) * revised
        val qty = 1 + (unit(s, d, k, 7) * 50).toInt
        val overlap = d < today(k - 1)
        val stale = overlap && unit(s, d, k, 8) < 0.05
        // a late re-delivery carries the previous extract's instant: it ties
        // with the stored row, and the guard's `>=` lets it win
        val late = overlap && !stale && unit(s, d, k, 11) < 0.05
        val first = row(s, d, p, qty, if (stale) at - 30 else if (late) today(k - 1) + 0.75 else at)
        if (unit(s, d, k, 9) < 0.1) Seq(first, row(s, d, p + 0.5 + unit(s, d, k, 10), qty + 1, at))
        else Seq(first)
      }
    }
  }
}

object Prices {
  val Day0: LocalDate = LocalDate.of(1995, 1, 1)
  val Keys: Seq[String] = Seq("l_suppkey", "l_shipdate")
  val Schema: StructType = StructType(Seq(
    StructField("l_suppkey", LongType, nullable = false),
    StructField("l_shipdate", DateType, nullable = false),
    StructField("l_extendedprice", DoubleType),
    StructField("l_quantity", DoubleType),
    StructField("extracted_at", TimestampType),
    StructField("month", StringType)))
  /** The reference's max-close rule, with a tiebreak so the order is total. */
  val DedupOrder: Seq[Column] = Seq(col("l_extendedprice").desc, col("l_quantity").desc)
  val Lookback = 3
  val Freshness = 1

  def mix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  def df(spark: SparkSession, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, Schema)

  def create(spark: SparkSession, table: String, rows: Seq[Row]): Long =
    TxnLog.create(spark, table, df(spark, rows), statsCols = Keys,
      partitionBy = Seq("month"), bloomCols = Seq("l_suppkey"))

  /** What one sync round did. */
  final case class Round(windows: Seq[(Long, Int, Int)], fetched: Seq[Row], filesAdded: Int,
                         filesRemoved: Int, bytesWritten: Long, logBytes: Long)

  /** One sync round, the reference's daily job: watermark windows on the
    * table snapshot, extract, argmax dedup, recency-guarded merge. */
  def round(spark: SparkSession, trace: Trace, p: Prices, table: String, k: Int): Round = {
    val windows = trace.span("ops.watermark") {
      val allKeys = spark.range(1, p.symbols + 1L).toDF("l_suppkey")
      val snapshot = trace.span("txnlog.snapshot")(TxnLog.snapshot(spark, table))
      val q = Watermark.syncWindows(
          Watermark.latestDates(snapshot, "l_suppkey", "l_shipdate"),
          allKeys, "l_suppkey", Lookback, Freshness, lit(java.sql.Date.valueOf(Day0.plusDays(p.today(k)))))
        .filter(!col("skip"))
        .select(col("l_suppkey"), datediff(col("target_start"), lit(java.sql.Date.valueOf(Day0))),
          datediff(col("target_end"), lit(java.sql.Date.valueOf(Day0))))
      if (trace.enabled) trace.span("plans.planning")(q.queryExecution.executedPlan)
      q.collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSeq
    }
    val fetched = p.extract(k, windows)
    val deduped = Dedup.argmaxWindow(df(spark, fetched), Keys, DedupOrder)
    if (trace.enabled) trace.span("ops.dedup") { deduped.write.format("noop").mode("overwrite").save() }
    val before = if (trace.enabled) TxnLog.files(table).toSet else Set.empty[String]
    val all = Schema.fieldNames.toSeq.map(c => c -> col(s"__s.$c"))
    val v = trace.span("txnlog.merge") {
      TxnLog.merge(spark, table, deduped, Keys,
        matched = Seq(TxnLog.MergeClause(Some(col("__s.extracted_at") >= col("__t.extracted_at")), isDelete = false, all)),
        notMatched = Seq(TxnLog.MergeClause(None, isDelete = false, all)))
    }
    if (!trace.enabled) Round(windows, fetched, 0, 0, 0, 0)
    else {
      val after = TxnLog.files(table).toSet
      val added = after -- before
      Round(windows, fetched, added.size, (before -- after).size,
        added.toSeq.map(f => fileSize(table, f)).sum, logBytes(table, v))
    }
  }

  def fileSize(table: String, rel: String): Long =
    java.nio.file.Files.size(java.nio.file.Paths.get(table, rel))

  /** Bytes of the commit's log file. */
  def logBytes(table: String, v: Long): Long =
    java.nio.file.Files.size(java.nio.file.Paths.get(table, "_txn_log", f"$v%020d.log"))

  /** Live data bytes ÷ live rows of the table's head version. */
  def storedBytesPerRow(table: String): Double =
    TxnLog.files(table).map(fileSize(table, _)).sum.toDouble / TxnLog.countRows(table).get

  /** The pure-DataFrame model: `pipeline.Sync.syncRound` folded over the
    * same extracts, checkpointed each round so the plan stays shallow. */
  def model(spark: SparkSession, seed: Seq[Row], extracts: Seq[Seq[Row]]): DataFrame =
    extracts.foldLeft(df(spark, seed).localCheckpoint()) { (m, rows) =>
      Sync.syncRound(m, df(spark, rows), Keys, DedupOrder, "extracted_at").localCheckpoint()
    }

  /** Rows of a state as comparable strings, sorted. */
  def canonical(d: DataFrame): Seq[String] =
    d.select(Schema.fieldNames.map(col).toSeq: _*).collect().map(_.mkString("|")).toSeq.sorted
}
