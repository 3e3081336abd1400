package graft

import java.nio.file.Files

import graft.streaming.CorpusStream
import graft.tools.{Profile, Replay}

/** Smoke tests for the surviving tools: each exposes a `run` returning
  * records (its `main` only prints them), driven here in the shared
  * session against the smallest testdata dir. */
class ToolsSpec extends SparkSpec {
  import spark.implicits._
  private val dir = "/root/testdata/sf0.001"

  test("Profile time: a cold and a warm run, rows and non-negative times") {
    val r = Profile.run(spark, dir, "time", Seq("cooc_topk"), warmRuns = 1)
    assert(r.runs.map(_.run) == Seq(0, 1))
    assert(r.runs.forall(x => x.query == "cooc_topk" && x.rows > 0 && x.seconds >= 0))
    assert(r.stages.isEmpty && r.plans.isEmpty)
  }

  test("Profile stages reports the profiled run's stages; explain prints a plan") {
    val r = Profile.run(spark, dir, "stages", Seq("cooc_topk"), warmRuns = 1)
    assert(r.stages.nonEmpty)
    assert(r.stages.forall(s => s.query == "cooc_topk" && s.tasks > 0))
    val p = Profile.run(spark, dir, "explain", Seq("cooc_topk")).plans
    assert(p.map(_.query) == Seq("cooc_topk"))
    assert(p.head.plan.contains("Physical Plan"))
  }

  test("Replay stateful across a compaction keeps what one ingestStateful drain keeps") {
    val r = Replay.run(spark, dir, "stateful", chunks = 2, arg = 1L)
    assert(r.inputRows == 500 && r.batches.map(_.id) == Seq(0L, 1L))
    // the reference: one uninterrupted drain over the same chunk files
    val base = Files.createTempDirectory("graft-replay-ref").toString
    val q = CorpusStream.ingestStateful(
      spark.readStream.schema(CorpusStream.documentsSchema)
        .option("maxFilesPerTrigger", "1").parquet(r.staging),
      s"$base/out", s"$base/ck", s"$base/state")
    try q.processAllAvailable() finally q.stop()
    def kept(d: String) =
      spark.read.parquet(d).select("doc_id").as[Long].collect().toSet
    val replayed = kept(r.out)
    assert(replayed.nonEmpty && replayed.size < r.inputRows)
    assert(replayed == kept(s"$base/out"))
  }
}
