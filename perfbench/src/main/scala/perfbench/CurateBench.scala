package perfbench

import graft.Tables
import graft.operators.{Corpus, Similarity, TextDedup}
import graft.ops.Dedup
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import scala.jdk.CollectionConverters._

/** `curate`: one LLM-corpus curation pass, closed loop, one client: exact
  * dedup, prefix-filter near-dup join, the curation pipeline and an IVF
  * top-k over a seeded corpus with planted exact and near-duplicate copies. Operators, functions and shuffle do the work;
  * TxnLog and streaming do nothing, so commit-path changes must not move
  * this workload. */
object CurateBench {
  val Docs = 2000
  val NearDupShare = 0.1
  val ExactDupShare = 0.03
  val Vectors = 2000
  val Dim = 64
  val VocabSize = 5000
  /** Zipf exponent of word frequencies; natural-language text is close to 1
    * (Zipf 1949; Piantadosi, "Zipf's word frequency law in natural
    * language", Psychon. Bull. Rev. 2014). */
  val ZipfS = 1.0
  val MinWords = 10
  val MaxWords = 100
  val WarmPasses = 1
  /** Timed passes per second of `--seconds`, fixed before the window opens
    * as for `sync`'s rounds; at least `MinPasses`. */
  val PassesPerSecond = 0.125
  val MinPasses = 2

  /** `VocabSize` distinct words, built from consonant-vowel syllables so
    * they look like text tokens; rank 0 is the most frequent. */
  private val Vocab: IndexedSeq[String] = {
    val syl = for (c <- "bdfgklmnprstvz"; v <- "aeiou") yield s"$c$v"
    // word i spells i in base 70 with one syllable a digit, at least two digits
    (0 until VocabSize).map { i =>
      val n = 1 + i / (syl.length * syl.length)
      (0 to n).map(j => syl((i / math.pow(syl.length, j).toInt) % syl.length)).mkString
    }
  }
  /** Cumulative Zipf weights over the vocabulary's ranks. */
  private val ZipfCdf: Array[Double] = {
    val w = (1 to VocabSize).map(r => 1 / math.pow(r, ZipfS)).scanLeft(0.0)(_ + _).tail
    w.map(_ / w.last).toArray
  }
  private def word(rnd: scala.util.Random): String = {
    val i = java.util.Arrays.binarySearch(ZipfCdf, rnd.nextDouble())
    Vocab(math.min(if (i >= 0) i else -i - 1, VocabSize - 1))
  }
  private val Langs = Seq("en" -> 0.6, "de" -> 0.1, "es" -> 0.1, "fr" -> 0.1, "zh" -> 0.1)

  /** The documents table: base documents of `MinWords` to `MaxWords`
    * Zipf-distributed words, plus seeded near-duplicate copies (one word
    * changed) and exact copies. */
  def documents(seed: Long): Seq[Row] = {
    val rnd = new scala.util.Random(seed)
    def lang(): String = {
      var x = rnd.nextDouble()
      Langs.find { case (_, w) => x -= w; x < 0 }.map(_._1).getOrElse("en")
    }
    val base = (0 until Docs).map(_ => (0 until MinWords + rnd.nextInt(MaxWords - MinWords + 1)).map(_ => word(rnd)))
    val copies = base.indices.flatMap { i =>
      if (rnd.nextDouble() < NearDupShare) Seq(base(i).updated(rnd.nextInt(base(i).length), word(rnd)))
      else if (rnd.nextDouble() < ExactDupShare / (1 - NearDupShare)) Seq(base(i))
      else Nil
    }
    (base ++ copies).zipWithIndex.map { case (ws, id) =>
      val text = ws.mkString(" ")
      Row(id.toLong, text, lang(), s"src${rnd.nextInt(20)}", text.length.toLong)
    }
  }

  /** The embeddings table: `Vectors` seeded 64-d vectors with a class label. */
  def embeddings(seed: Long): Seq[Row] = {
    val rnd = new scala.util.Random(seed ^ 0x5DEECE66DL)
    (0 until Vectors).map(i =>
      Row(i.toLong, Array.fill(Dim)((rnd.nextGaussian() * 0.1).toFloat).toSeq, rnd.nextInt(10)))
  }

  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType), StructField("lang", StringType),
    StructField("source", StringType), StructField("n_chars", LongType)))
  val VecSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** The pass, as (operator span, oracle query, result): each call and its
    * arguments are those of the named `SparkEntry` query, so its DuckDB
    * oracle checks the result. */
  def pass(spark: SparkSession, trace: Trace, data: String): Seq[(String, String, DataFrame)] = {
    val docs = Tables.load(spark, data, "documents")
    val emb = Tables.load(spark, data, "embeddings")
    Seq(
      ("ops.exact_dedup", "q21_dedup_exact", () =>
        Dedup.exactByContent(docs, "text", "doc_id").orderBy("content_hash")),
      ("operators.prefix_filter", "q157_prefix_filter_join", () =>
        TextDedup.prefixFilterNearDups(docs, "doc_id", "text", threshold = 0.8).orderBy("id_a", "id_b")),
      ("operators.curate", "q101_curate_pipeline", () =>
        Corpus.curate(docs.filter(col("source") =!= "src0"), "doc_id", "text", groupCol = "lang",
          evalSet = docs.filter(col("source") === "src0"), capPerGroup = 40).orderBy("lang")),
      ("operators.ivf", "q56_ivf_verifiable", () => {
        val qv = emb.filter(col("vec_id") === 0).select("embedding").head().getSeq[Float](0).map(_.toDouble)
        Similarity.ivfTopKVerifiable(emb.filter(col("vec_id") =!= 0), "vec_id", "embedding", query = qv, k = 10)
      })
    ).map { case (span, query, build) =>
      val df = trace.span(span) {
        val d = build()
        d.write.format("noop").mode("overwrite").save()
        d
      }
      (span, query, df)
    }
  }

  def run(ctx: Ctx): Outcome = {
    import ctx._
    val data = dir("data")
    val docRows = documents(seed)
    spark.createDataFrame(docRows.asJava, DocSchema).coalesce(1).write.parquet(s"$data/documents.parquet")
    spark.createDataFrame(embeddings(seed).asJava, VecSchema).coalesce(1).write.parquet(s"$data/embeddings.parquet")
    phase("data")
    (1 to WarmPasses).foreach(_ => pass(spark, Trace.off, data))
    phase("warm")

    startMeasuring()
    val timedPasses = math.max(MinPasses, math.ceil(seconds * PassesPerSecond).toInt)
    val passMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    var last: Seq[(String, String, DataFrame)] = Nil
    var error: Option[String] = None
    while (error.isEmpty && passMs.length < timedPasses) {
      trace.beginOp()
      val t0 = trace.nowMs()
      try {
        last = trace.span("curate.pass")(pass(spark, trace, data))
        passMs += trace.nowMs() - t0
      } catch { case e: Exception => error = Some(s"curation pass failed: $e") }
    }
    val measuredMs = stopMeasuring()
    if (error.nonEmpty) return Outcome(passMs.length + 1L, 1, error.toSeq, Map.empty, Map.empty, Map.empty)

    // output check, untimed: the last pass's results go to parquet, and
    // run.py compares their fingerprints with DuckDB running each oracle
    val check = dir("check")
    last.foreach { case (_, q, df) => df.coalesce(1).write.parquet(s"$check/$q") }
    val oracle = last.map { case (_, q, _) => q -> graft.SparkEntry.oracleSql(q) }.toMap

    val perPass = passMs.length.toDouble
    val layers =
      if (!trace.enabled) Map.empty[String, Double]
      else Layers.spark(ctx, "curate.pass", measuredMs) ++
        Seq("ops.exact_dedup", "operators.prefix_filter", "operators.curate", "operators.ivf")
          .map(s => s"${s}_s" -> trace.seconds(s) / perPass).toMap +
        ("trace.op_p50_ms" -> Stats.median(passMs.toSeq)) +
        ("trace.op_cpu_ms" -> measuredCpuMs / perPass)
    Outcome(
      attempted = passMs.length, failed = 0, failedChecks = Nil,
      endToEnd = ctx.endToEnd(perPass),
      layers = layers,
      info = Map(
        "unit" -> "one curation pass", "work" -> "documents",
        "samples" -> passMs.length, "op_ms" -> passMs.toSeq, "op_p50_ms" -> Stats.median(passMs.toSeq),
        "docs" -> docRows.length, "base_docs" -> Docs, "vocabulary" -> VocabSize, "zipf_s" -> ZipfS,
        "vectors" -> Vectors, "dim" -> Dim,
        "warm_passes" -> WarmPasses),
      oracle = oracle)
  }
}
