package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import graft.core.Graft

/** One benchmark run of one workload:
  * `--workload W --seed N --seconds S --trace 0|1 --work DIR --out DIR
  *  [--smoke] [--corrupt]`.
  *
  * Starts a session on `local[cores]`, generates the workload's inputs and
  * makes one warm-up operation; `setup_s` is session start + generation +
  * warm-up. Then it runs operations for S seconds (and at least the
  * workload's minimum count), keeps the highest heap each timed operation
  * holds at its widest point and checks the operations' outputs outside the
  * timing.
  * A traced run (`--trace 1`) alternates untraced and traced operations,
  * starting and ending with an untraced one, so a steady drift over the run
  * cancels out of the difference between the two kinds, which is reported
  * as the tracing overhead. Only traced operations run with the engine
  * listener registered and give the per-layer table; all of them give the
  * workload-level latencies. Writes `result.json` (and, when traced,
  * `trace.json`) to the output directory.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.sliding(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val name = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = opt("work")
    val out = opt("out")
    val smoke = args.contains("--smoke")
    val cpus = Runtime.getRuntime.availableProcessors()
    val runId = s"$name-$seed-${System.currentTimeMillis()}"

    val t0 = System.nanoTime()
    val spark = Graft.session(s"local[$cpus]", "perfbench")
    // one shuffle partition per core, as graft.Bench and graft.Verify run
    spark.conf.set("spark.sql.shuffle.partitions", cpus.toString)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionStart = Workload.seconds(t0)
    val log = new EngineLog
    val heap = new HeapWatch(new org.apache.spark.perfbench.CleanerActivity(spark.sparkContext))
    val tracer = new Tracer(runId)
    val w = Workload(name, Ctx(spark, tracer, heap, seed, smoke))

    // set-up: inputs generated once, then one untimed warm-up operation
    val tg = System.nanoTime()
    w.generate(s"$work/inputs")
    val generateS = Workload.seconds(tg)
    val tw = System.nanoTime()
    w.warmUp()
    val warmUpS = Workload.seconds(tw)
    w.corrupt = args.contains("--corrupt")

    // the timed loop: at least `minOps` operations (3 when traced:
    // untraced, traced, untraced), and until S seconds pass
    val minOps = math.max(if (trace) 3 else 1,
      if (name == "adhoc_queries") (if (smoke) 20 else 200) else 1)
    val ops = ArrayBuffer.empty[(Op, Boolean)]
    Observed.requests.clear()
    val loopStart = System.nanoTime()
    heap.peak = 0L
    var i = 1
    while (ops.size < minOps || Workload.seconds(loopStart) < seconds ||
        (trace && ops.size % 2 == 0)) {
      val traced = trace && i % 2 == 0
      if (traced) {
        spark.sparkContext.addSparkListener(log)
        spark.listenerManager.register(log)
      }
      tracer.beginOp(i, traced)
      val o = try w.op(i) catch {
        case e: Exception =>
          System.err.println(s"operation $i failed: $e")
          Op(Double.NaN, Double.NaN, 1, 1)
      }
      tracer.beginOp(i, traced = false)
      if (traced) {
        // every event of the operation reaches the listener before it goes
        org.apache.spark.perfbench.BusDrain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(log)
        spark.listenerManager.unregister(log)
      }
      ops += (o -> traced)
      i += 1
    }
    if (heap.peak == 0L) heap.sample() // a workload whose operations keep nothing

    val attempted = ops.map(_._1.attempted).sum
    val finalFailed = try w.finalCheck() catch {
      case e: Exception => System.err.println(s"final check failed: $e"); Int.MaxValue
    }
    val failed = math.min(attempted.toLong, ops.map(_._1.failed).sum.toLong + finalFailed).toInt
    val figures = if (!trace) Map.empty[String, Double] else try w.figures() catch {
      case e: Exception => System.err.println(s"figures failed: $e"); Map.empty[String, Double]
    }
    val good = ops.toSeq.map(_._1).filterNot(_.wallS.isNaN)
    val lat = good.map(_.latencyS)

    val metrics = Map(
      "setup_s" -> (sessionStart + generateS + warmUpS),
      "op_p50_s" -> Stats.median(lat),
      "peak_heap_mb" -> heap.peak / 1e6
    ) ++ (if (trace) traceMetrics(name, spark, log, tracer, cpus, ops.toSeq, lat,
      sessionStart, figures, attempted, failed, out) else Map.empty)

    val result = Map("correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics, "workload" -> name, "seed" -> seed, "ops" -> ops.size,
      "session_start_s" -> sessionStart, "generate_s" -> generateS, "warm_up_s" -> warmUpS,
      "latencies_s" -> lat)
    write(s"$out/result.json", Json(result))
    w match {
      case cc: CorpusCuration => write(s"$out/oracle_request.json", Json(cc.oracleRequest()))
      case _ =>
    }
    heap.close()
    spark.stop()
  }

  private def write(path: String, text: String): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path), text.getBytes(UTF_8))
    ()
  }

  private def traceMetrics(name: String, spark: org.apache.spark.sql.SparkSession, log: EngineLog,
      tracer: Tracer, cpus: Int, ops: Seq[(Op, Boolean)], lat: Seq[Double], sessionStart: Double,
      figures: Map[String, Double], attempted: Int, failed: Int, out: String): Map[String, Double] = {
    val traced = ops.filter(_._2).map(_._1).filterNot(_.wallS.isNaN)
    val plain = ops.filterNot(_._2).map(_._1).filterNot(_.wallS.isNaN)
    val r = new Report(tracer.spans.toSeq, log, cpus, traced.size)
    def only(w: String, v: => Double) = if (name == w) v else 0.0
    val tracedWall = Stats.median(traced.map(_.wallS))
    val plainWall = Stats.median(plain.map(_.wallS))
    val topLevel = tracer.spans.filter(_.parent < 0).map(_.wallNs).sum / 1e9

    val requests = tracer.spans.filter(_.layer == "queries").toSeq
    val planMs = requests.map(s => r.catalystMs(s).toDouble)
    val execMs = requests.map(s => s.wallNs / 1e6 - r.catalystMs(s))
    val perRequest = traced.size.toDouble / math.max(1, requests.size)
    val queriesEngine = r.engine("queries")
    val asked = Observed.requests.toSeq

    val workloadLevel = Map(
      "dag_wall_s" -> only("daily_dag", Stats.median(lat)),
      "tick_freshness_p50_s" -> only("incremental_ticks", Stats.median(lat)),
      "tick_freshness_p90_s" -> only("incremental_ticks", Stats.percentile(lat, 90)),
      "stored_bytes_per_input_byte" -> figures.getOrElse("stored_bytes_per_input_byte", 0.0),
      "adhoc_p50_ms" -> Stats.median(asked) * 1e3,
      "adhoc_p95_ms" -> Stats.percentile(asked, 95) * 1e3,
      "adhoc_qps" -> (if (asked.isEmpty) 0.0 else asked.size / asked.sum),
      "curation_wall_s" -> only("corpus_curation", Stats.median(lat)),
      "failed_op_frac" -> failed.toDouble / math.max(1, attempted),
      "trace.overhead_frac" -> (if (plainWall > 0) (tracedWall - plainWall) / plainWall else 0.0),
      "trace.span_coverage" -> topLevel / math.max(1e-9, traced.map(_.wallS).sum))
    val layers = Map(
      "sources.read_s" -> r.spanSeconds("sources"),
      "vault.fill_s" -> r.spanSeconds("vault.fill"),
      "vault.cached_bytes" -> Observed.cachedBytes.toDouble,
      "semantic.total_s" -> r.spanSeconds("semantic"),
      "quality.dq_s" -> r.spanSeconds("quality.dq"),
      "quality.jobs" -> r.engine("quality")("engine.quality.jobs"),
      "quality.input_bytes" -> r.engine("quality")("engine.quality.input_bytes"),
      "quality.violations" -> Observed.violations.toDouble,
      "streaming.ingest_s" -> r.spanSeconds("streaming.ingest"),
      "streaming.refresh_s" -> r.spanSeconds("streaming.refresh"),
      "queries.plan_ms" -> Stats.median(planMs),
      "queries.exec_ms" -> Stats.median(execMs),
      "queries.jobs_per_request" -> queriesEngine("engine.queries.jobs") * perRequest,
      "queries.tasks_per_request" -> queriesEngine("engine.queries.tasks") * perRequest,
      "queries.input_rows_per_row_returned" ->
        r.inputRecords("queries").toDouble / math.max(1L, Observed.rowsReturned),
      "engine.session_start_s" -> sessionStart) ++
      DailyDag.marts.map { case (m, _) => s"marts.${m}_s" -> r.spanSeconds(s"marts.$m") } ++
      CorpusCuration.pipelines.map(p => s"operators.${p}_s" -> r.spanSeconds(s"operators.$p")) ++
      Seq("streaming.rows_appended", "streaming.rows_suppressed", "streaming.dup_suppress_ratio",
        "streaming.target_files", "streaming.published_versions")
        .map(k => k -> figures.getOrElse(k, 0.0)) ++
      r.engineLayers.flatMap(r.engine)

    val perLayer = workloadLevel ++ layers
    write(s"$out/trace.json", Json(Map(
      "run_id" -> tracer.runId, "workload" -> name, "cores" -> cpus,
      "traced_ops" -> traced.size, "untraced_ops" -> plain.size,
      "latency_samples" -> lat, "request_latency_samples" -> asked,
      "spans" -> tracer.spans.map(s => Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "op" -> s.op, "run_id" -> tracer.runId, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "wall_s" -> s.wallNs / 1e9)),
      "self_times" -> r.selfTimes.map { case (sn, k, total, self) =>
        Map("span" -> sn, "count" -> k, "total_s" -> total, "self_s" -> self) },
      "per_layer" -> perLayer)))
    perLayer
  }
}
