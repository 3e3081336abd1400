package perfbench

import java.lang.management.ManagementFactory
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.BuilderCache
import graft.serve.HttpApi
import graft.streaming.CorpusStream

/** One benchmark run in a fresh JVM and session: `run.py` generates the
  * inputs from the seed, launches this main with `key=value` arguments,
  * and turns the raw result file it writes into metrics and checks.
  *
  * Arguments: `workload`, `data` (the table dir), `work` (scratch dir,
  * emptied by the caller), `out` (raw result JSON), `cpus`, `seconds`,
  * `trace` (0|1), `run` (run id), `spans` (span file, traced runs),
  * `seed`, and per workload `requests` (serve request file) or `chunks`
  * (ingest). */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.map(_.split("=", 2)).collect { case Array(k, v) => k -> v }
      .toMap
    val cpus = a("cpus").toInt
    val work = a("work")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // as in graft.Bench: codegen and the scheduler are up before the
    // first timed op, and count in set-up
    spark.range(1000000L).selectExpr("sum(id)").collect()
    val tracer = if (a("trace") == "1") Some(new Tracer(spark)) else None
    val run = new Run(spark, a, tracer)
    val result = a("workload") match {
      case "serve" => run.serve()
      case "ingest" => run.ingest()
      case w => sys.error(s"unknown workload $w")
    }
    Files.writeString(Paths.get(a("out")), Json(result))
    spark.stop()
    sys.exit(0)
  }
}

final class Run(spark: SparkSession, a: Map[String, String],
    tracer: Option[Tracer]) {
  private val data = a("data")
  private val work = a("work")
  private val seconds = a("seconds").toDouble
  private val jvmStartUs =
    ManagementFactory.getRuntimeMXBean.getStartTime * 1000.0

  /** Order-independent digest of a frame: row count and the sum of the
    * low 32 bits of a hash of each row's JSON rendering. Rendering the
    * whole row evaluates every output column, which `count()` need not. */
  private def digest(df: DataFrame): String = {
    val row = to_json(struct(df.columns.map(c => col(s"`$c`")): _*))
    val r = df.select(xxhash64(row).bitwiseAND(0xFFFFFFFFL).as("h"))
      .agg(count(lit(1)), coalesce(sum("h"), lit(0L))).collect()(0)
    s"${r.getLong(0)}:${r.getLong(1)}"
  }

  /** CPU time of the whole JVM: every Spark task, planning and
    * scheduling, the HTTP server, GC and the JIT compiler. */
  private def cpuNs: Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime).filter(_ > 0).sum

  private def cachedMb: Double = spark.sparkContext.getRDDStorageInfo
    .map(i => i.memSize + i.diskSize).sum / 1e6

  /** CPU and GC time the JVM spends in a timed window. */
  private def jvmUsage[T](body: => T): (T, Map[String, Double]) = {
    val (c0, g0) = (cpuNs, gcMs)
    val r = body
    (r, Map("jvm_cpu_s" -> (cpuNs - c0) / 1e9, "jvm_gc_s" -> (gcMs - g0) / 1e3))
  }

  private def common(setupUs: Double, wallUs: Double, jvm: Map[String, Double],
      units: Long, ops: Seq[Map[String, Any]], info: Map[String, Any],
      layers: Map[String, Any]): Map[String, Any] = Map(
    "setup_s" -> setupUs / 1e6,
    "wall_s" -> wallUs / 1e6,
    "jvm" -> jvm,
    "units" -> units,
    "ops" -> ops,
    "info" -> (info ++ Map(
      "cached_mb" -> cachedMb,
      "memo_entries" -> BuilderCache.list(spark).size,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1e6)),
    "layers" -> layers)

  /** Per-layer values every traced workload reports. */
  private def traced(ts: Seq[Tracer.OpTrace], wallUs: Double,
      failures: Long): Map[String, Any] = {
    val n = math.max(1, ts.size).toDouble
    Layers.totals(ts) ++ Map(
      "op_plan_p50_ms" -> Layers.median(ts.map(_.planUs / 1e3)),
      "op_exec_p50_ms" -> Layers.median(ts.map(_.execUs / 1e3)),
      "op_other_p50_ms" -> Layers.median(ts.map(_.otherUs / 1e3)),
      "jobs_per_op" -> ts.map(_.jobs.size).sum / n,
      "actions_per_op" -> ts.map(_.actions).sum / n,
      "task_failures" -> failures.toDouble,
      "wall_s" -> wallUs / 1e6,
      "attributed_s" -> ts.map(_.op.durUs).sum / 1e6,
      "other_s" -> ts.map(_.otherUs).sum / 1e6)
  }

  private def spanFile = a.get("spans").map(new java.io.File(_))

  // ---- serve: one closed-loop client against an in-process HttpApi ----

  def serve(): Map[String, Any] = {
    val lines = Files.readAllLines(Paths.get(a("requests"))).asScala.toSeq
      .map(_.split(" ", 2)).collect { case Array(k, v) => (k, v) }
    val warmup = lines.filter(_._1.startsWith("warmup:"))
      .map(l => (l._1.stripPrefix("warmup:"), l._2))
    val roundSize = lines.collectFirst { case ("round", n) => n.toInt }.get
    val requests = lines.filterNot(l => l._1 == "round" ||
      l._1.startsWith("warmup:"))
    val ids = spark.read.parquet(s"$data/customer.parquet")
      .agg(min("c_custkey"), max("c_custkey"), count(lit(1))).collect()(0)
    val domain = s"${ids.getLong(0)}..${ids.getLong(1)}/${ids.getLong(2)}"

    val a0 = Clock.nowUs
    val api = new HttpApi(spark, data)
    val port = api.start()
    val a1 = Clock.nowUs
    val client = HttpClient.newBuilder()
      .version(HttpClient.Version.HTTP_1_1).build()
    def get(path: String): (Int, String) = {
      val r = client.send(HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:$port$path")).GET().build(),
        HttpResponse.BodyHandlers.ofString(StandardCharsets.UTF_8))
      (r.statusCode, r.body)
    }
    val warm = warmup.map { case (cls, path) =>
      val s = Clock.nowUs
      val status = get(path)._1
      Map("cls" -> cls, "status" -> status, "ms" -> (Clock.nowUs - s) / 1e3)
    }
    val a2 = Clock.nowUs

    def pprEntries: Int =
      BuilderCache.list(spark).count(_.startsWith("engine.pprRanks"))
    val sha = java.security.MessageDigest.getInstance("SHA-256")
    val f0 = tracer.map(_.mark()).getOrElse((0L, 0L))
    val t0 = Clock.nowUs
    val (ops, jvm) = jvmUsage {
      val ops = ArrayBuffer.empty[(Span, Int, String, Int, Int, Long)]
      var i = 0
      while (i < requests.size &&
          (i % roundSize != 0 || i == 0 || Clock.nowUs - t0 < seconds * 1e6)) {
        val (cls, path) = requests(i)
        val before = pprEntries
        val u0 = tracer.map(_.mark()._2).getOrElse(0L)
        val s = Clock.nowUs
        val (status, body) =
          try get(path) catch { case e: Throwable => (-1, e.toString) }
        val e = Clock.nowUs
        val u1 = tracer.map(_.mark()._2).getOrElse(0L)
        val dig = sha.digest(body.getBytes(StandardCharsets.UTF_8))
          .take(8).map(b => f"$b%02x").mkString
        ops += ((Span(path, cls, s, e), status, dig, before, pprEntries,
          u1 - u0))
        i += 1
      }
      ops.toSeq
    }
    val wallUs = Clock.nowUs - t0
    api.stop()
    val ts = tracer.map(_.attribute(ops.map(_._1), a("run"), spanFile))
    val layers = ts.map { t =>
      traced(t, wallUs, tracer.get.mark()._1 - f0._1) ++ Map(
        "unpersists_per_op" -> ops.map(_._6).sum / math.max(1, ops.size)
          .toDouble)
    }.getOrElse(Map.empty)
    common(t0 - jvmStartUs, wallUs, jvm, ops.size.toLong,
      ops.map { case (s, st, d, b, af, _) => Map("name" -> s.name,
        "cls" -> s.layer, "ms" -> s.durUs / 1e3, "ok" -> (st == 200),
        "status" -> st, "digest" -> d, "ppr_before" -> b,
        "ppr_after" -> af) },
      Map("api_s" -> (a1 - a0) / 1e6, "warmup_s" -> (a2 - a1) / 1e6,
        "warmup" -> warm, "customer_domain" -> domain,
        "round_size" -> roundSize),
      layers)
  }

  // ---- ingest: stateful corpus stream over seeded chunk files ----

  private def dirStats(dir: String): (Double, Long) = {
    val files = Files.walk(Paths.get(dir)).iterator().asScala
      .filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".parquet")).toSeq
    (files.map(Files.size).sum / 1e6, files.size.toLong)
  }

  def ingest(): Map[String, Any] = {
    val seed = a("seed").toLong
    val chunks = a("chunks").toInt
    val stage = s"$work/ingest/stage"
    val out = s"$work/ingest/out"
    val state = s"$work/ingest/state"
    val ck = s"$work/ingest/checkpoint"
    // staging is the benchmark's own work: excluded from set-up
    val g0 = Clock.nowUs
    val docs = spark.read.parquet(s"$data/documents.parquet")
    val nDocs = docs.count()
    val ranked = docs.withColumn("chunk", ((row_number().over(
        Window.orderBy(xxhash64(col("doc_id"), lit(seed)), col("doc_id"))) - 1)
      * chunks / nDocs).cast("int"))
    ranked.repartition(chunks, col("chunk")).write.partitionBy("chunk")
      .parquet(s"$stage/_tmp")
    val base = System.currentTimeMillis() - 3600 * 1000L
    (0 until chunks).foreach { c =>
      val dir = Paths.get(s"$stage/_tmp/chunk=$c")
      val parts = Files.list(dir).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
      require(parts.size == 1, s"chunk $c staged as ${parts.size} files")
      val dst = Paths.get(f"$stage/chunk$c%03d.parquet")
      Files.move(parts.head, dst, StandardCopyOption.ATOMIC_MOVE)
      // the file source replays oldest first: pin the replay order
      dst.toFile.setLastModified(base + c * 1000L)
    }
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"$stage/_tmp"))
    val stagingUs = Clock.nowUs - g0
    val schema = spark.read.parquet(f"$stage/chunk000.parquet").schema

    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", "chunk*.parquet")
      .parquet(stage)
    val f0 = tracer.map(_.mark()._1).getOrElse(0L)
    val t0 = Clock.nowUs
    val (q, jvm) = jvmUsage {
      val q = CorpusStream.ingestStateful(src, out, ck, state)
      q.processAllAvailable()
      q
    }
    val wallUs = Clock.nowUs - t0
    val progs = q.recentProgress.filter(_.numInputRows > 0).toSeq
    q.stop()

    val batches = progs.map { p =>
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      val s = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000.0
      (Span(s"batch ${p.batchId}", "batch", s,
        s + d.getOrElse("triggerExecution", 0L) * 1000.0),
        d.getOrElse("addBatch", 0L), p.numInputRows)
    }
    val kept = spark.read.parquet(out).select("doc_id", "split", "n_tokens")
    val keptN = kept.count()
    val bands = spark.read.parquet(state)
    // every kept doc left its bands in the store, and no two kept docs
    // share a band bucket: the near-dup guarantee, across batches too
    val sharedBuckets = bands.groupBy("band", "v1", "v2")
      .agg(countDistinct("doc_id").as("nd")).filter(col("nd") > 1).count()
    val storeDocs = bands.select("doc_id").distinct()
    val mismatch = storeDocs.join(kept, Seq("doc_id"), "left_anti").count() +
      kept.select("doc_id").join(storeDocs, Seq("doc_id"), "left_anti").count()
    val (outMb, _) = dirStats(out)
    val (stateMb, stateFiles) = dirStats(state)

    val ts = tracer.map(_.attribute(batches.map(_._1), a("run"), spanFile))
    val layers = ts.map(t => traced(t, wallUs, tracer.get.mark()._1 - f0))
      .getOrElse(Map.empty)
    common(t0 - jvmStartUs - stagingUs, wallUs, jvm, nDocs,
      batches.map { case (s, add, rows) => Map("name" -> s.name,
        "cls" -> "batch", "ms" -> s.durUs / 1e3, "ok" -> true,
        "add_batch_ms" -> add, "input_rows" -> rows) },
      Map("staging_s" -> stagingUs / 1e6, "kept" -> keptN,
        "kept_digest" -> digest(kept), "shared_buckets" -> sharedBuckets,
        "store_kept_mismatch" -> mismatch,
        "output_mb" -> outMb, "state_mb" -> stateMb,
        "state_files" -> stateFiles,
        "reported_rows" -> batches.map(_._3).sum, "chunks" -> chunks),
      layers)
  }
}
