package graft.tools

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.GraftSession
import graft.model.Tables
import graft.operators.{Corpus, Distill}
import graft.streaming.{CorpusStream, EventStream}

/** The one streaming replay harness: split an sf dir's table into
  * `chunks` parquet files, replay them through a file source
  * (`maxFilesPerTrigger=1` → one micro-batch per chunk) into one
  * streaming surface, and report per-batch latency, input rows and
  * state-store size from the engine's own progress metrics. Usage:
  *   runMain graft.tools.Replay <sfDir> <mode> [chunks=20] [compactAt|graceUs=0]
  *
  * Modes, over `documents` chunked by `doc_id mod chunks` unless noted:
  *  - `stateful`: [[CorpusStream.ingestStateful]]. Batch latency is the
  *    per-batch pipeline plus one store-probe join whose store side
  *    grows with the corpus (inherent to global dedup, not a leak), and
  *    the band store grows by emitted docs × bands. With `compactAt = k`
  *    (0 = never) the replay drains the first k chunks, runs
  *    [[CorpusStream.compactBands]] over them and resumes on the same
  *    checkpoint, so the latency series crosses the compaction.
  *  - `ingest` / `mixingest`: [[CorpusStream.ingest]] /
  *    [[CorpusStream.mixedIngest]] through their parquet sinks.
  *  - `score` / `mix`: [[CorpusStream.scoredStream]] /
  *    [[CorpusStream.mixedStream]] into the noop sink, with weights from
  *    the batch fit over the same dir. Both plans are stateless: state
  *    rows must stay 0 and latency must not drift with ingest volume.
  *  - `events`: [[EventStream.asofAttribution]] over `events` chunked by
  *    event-time range, so event time advances across batches like a
  *    live feed; the last argument is the watermark grace in µs. State
  *    should plateau once the user population is touched. */
object Replay {
  final case class Batch(id: Long, inputRows: Long, ms: Long,
      stateRows: Long, stateBytes: Long)
  /** `out`/`state`: sink and store dirs of the modes that write them. */
  final case class Report(inputRows: Long, wallS: Double,
      batches: Seq[Batch], staging: String, out: String, state: String)

  private val Modes = Set("stateful", "ingest", "mixingest", "score", "mix", "events")

  def run(spark: SparkSession, dir: String, mode: String, chunks: Int = 20,
      arg: Long = 0L): Report = {
    require(Modes(mode), s"unknown mode $mode; use ${Modes.mkString("|")}")
    val tmp = Files.createTempDirectory("graft-replay").toString
    val Seq(hold, staging, ck, out, state) =
      Seq("hold", "staging", "ck", "out", "state").map(d => s"$tmp/$d")
    Files.createDirectories(Paths.get(staging))
    val (input, bucket) =
      if (mode == "events") {
        // normalize ts to µs TimestampType via the dispatching reader
        val ev = Tables.events(spark, dir)
          .select("event_id", "ts", "user_id", "event_type", "value")
        val r = ev.agg(unix_micros(min("ts")), unix_micros(max("ts"))).head()
        val width = math.max(1L, (r.getLong(1) - r.getLong(0)) / chunks + 1)
        (ev, (unix_micros(col("ts")) - r.getLong(0)).divide(width).cast("long"))
      } else (spark.read.schema(CorpusStream.documentsSchema)
        .parquet(s"$dir/documents.parquet"), pmod(col("doc_id"), lit(chunks)))
    val inputRows = input.count()
    stage(input, bucket, chunks, hold)
    val weights = Option.when(mode == "score" || mode == "mix")(
      Distill.fitWeights(spark, dir).getOrElse(sys.error(s"empty corpus at $dir")))
    def noop(df: Dataset[_]) = df.writeStream.format("noop")
      .option("checkpointLocation", ck).outputMode("append").start()
    val start: DataFrame => StreamingQuery = mode match {
      case "stateful" => CorpusStream.ingestStateful(_, out, ck, state)
      case "ingest" => CorpusStream.ingest(_, out, ck)
      case "mixingest" =>
        CorpusStream.mixedIngest(_, out, ck, state, Corpus.defaultMixRates)
      case "score" => src => noop(CorpusStream.scoredStream(src, weights.get))
      case "mix" => src =>
        noop(CorpusStream.mixedStream(src, weights.get, Corpus.defaultMixRates))
      case _ => src => noop(EventStream.asofAttribution(src, arg))
    }
    def place(from: Int, until: Int): Unit =
      (from until until).map(i => f"chunk$i%03d.parquet")
        .filter(f => Files.exists(Paths.get(hold, f)))
        .foreach(f => Files.move(Paths.get(hold, f), Paths.get(staging, f),
          StandardCopyOption.ATOMIC_MOVE))
    def drain(): Seq[StreamingQueryProgress] = {
      val q = start(spark.readStream.schema(input.schema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "chunk*.parquet")
        .parquet(staging))
      try {
        q.processAllAvailable()
        q.recentProgress.filter(_.numInputRows > 0).toSeq
      } finally q.stop()
    }
    // recentProgress is a ring buffer (default 100): size it to the
    // chunk count so the report sees every batch
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates",
      math.max(chunks + 8, 100).toString)
    val t0 = System.nanoTime()
    val progress =
      if (mode == "stateful" && arg > 0 && arg < chunks) {
        place(0, arg.toInt)
        val pre = drain()
        CorpusStream.compactBands(spark, state, arg - 1L)
        place(arg.toInt, chunks)
        pre ++ drain()
      } else { place(0, chunks); drain() }
    Report(inputRows, (System.nanoTime() - t0) / 1e9, progress.map { p =>
      Batch(p.batchId, p.numInputRows, p.batchDuration,
        p.stateOperators.map(_.numRowsTotal).sum,
        p.stateOperators.map(_.memoryUsedBytes).sum)
    }, staging, out, state)
  }

  /** Write each bucket of `df` to `hold/chunkNNN.parquet`, in chunk
    * order (the file source replays by modification time). An empty
    * bucket writes no file — an empty micro-batch to the replay glob. */
  private def stage(df: DataFrame, bucket: Column, chunks: Int,
      hold: String): Unit = (0 until chunks).foreach { i =>
    val tmp = s"$hold/_tmp$i"
    df.filter(bucket === i).coalesce(1).write.mode("overwrite").parquet(tmp)
    val listing = Files.list(Paths.get(tmp))
    try listing.toArray.map(_.asInstanceOf[Path])
      .find(_.getFileName.toString.endsWith(".parquet"))
      .foreach(p => Files.move(p, Paths.get(f"$hold/chunk$i%03d.parquet"),
        StandardCopyOption.ATOMIC_MOVE))
    finally listing.close() // Files.list holds an fd until closed
    FileUtils.deleteDirectory(new java.io.File(tmp))
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: Replay <sfDir> <mode> [chunks] [compactAt|graceUs]")
    val (dir, mode) = (args(0), args(1))
    val chunks = args.lift(2).map(_.toInt).getOrElse(20)
    val arg = args.lift(3).map(_.toLong).getOrElse(0L)
    val spark = GraftSession.create("ERROR")
    val r = run(spark, dir, mode, chunks, arg)
    r.batches.foreach { b =>
      println(f"REPLAYBATCH batch=${b.id} in=${b.inputRows} ms=${b.ms} " +
        f"stateRows=${b.stateRows} stateMB=${b.stateBytes / 1e6}%.1f")
    }
    println(f"REPLAY $mode dir=$dir rows=${r.inputRows} chunks=$chunks " +
      f"arg=$arg batches=${r.batches.size} wall=${r.wallS}%.1f s " +
      f"rate=${r.inputRows / r.wallS}%.0f rows/s " +
      f"stateRowsHW=${r.batches.map(_.stateRows).maxOption.getOrElse(0L)}")
    if (Files.exists(Paths.get(r.out))) {
      val mb = FileUtils.sizeOfDirectory(new java.io.File(r.out)) / 1e6
      println(f"REPLAY sink rows=${spark.read.parquet(r.out).count()} " +
        f"size=$mb%.1f MB dir=${r.out}")
    }
    if (mode == "stateful")
      println(s"REPLAY store bands=${spark.read.parquet(r.state).count()}")
    spark.stop()
  }
}
