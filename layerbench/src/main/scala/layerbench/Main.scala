package layerbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.{Sessions, Staging}

/** Benchmark harness JVM, started by run.py:
  *
  *   layerbench.Main --workload W --dir RUN_DIR --seconds N --trace 0|1
  *                   --cores C --setups S
  *
  * Reads RUN_DIR/plan.json (the seeded inputs run.py generated), sets up
  * S times (each a fresh session over fresh input copies and a fresh
  * java.io.tmpdir, so Staging's cross-JVM cache starts cold), measures N
  * seconds of the workload on the last session, and writes
  * RUN_DIR/out.json (and RUN_DIR/spans.jsonl when tracing). */
object Main {

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val runDir = opt("dir")
    val seconds = opt("seconds").toInt
    val tracing = opt("trace") == "1"
    val cores = opt("cores").toInt
    val setups = opt("setups").toInt
    val plan = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Paths.get(runDir, "plan.json").toFile)
    val rec = new Recorder(tracing)
    val wl: Workload = opt("workload") match {
      case "query_mix" => new QueryMix(plan, rec)
      case "reference_pipeline" => new ReferencePipeline(plan, rec)
      case "llm_curation" => new LlmCuration(plan, rec)
      case w => sys.error(s"unknown workload $w")
    }

    var spark: SparkSession = null
    var tracer: SparkTracer = null
    val setupS = (0 until setups).map { i =>
      val cycle = s"$runDir/cycle$i"
      if (spark != null) spark.stop()
      val tmp = Paths.get(cycle, "tmp")
      Files.createDirectories(tmp)
      System.setProperty("java.io.tmpdir", tmp.toString)
      val staged0 = Staging.buildSecondsTotal
      val t0 = if (i == 0) 0L else rec.now // the first cycle counts from JVM start
      val b0 = rec.now
      spark = rec.span("sessions", "build")(Sessions.build(s"local[$cores]", cores))
      val buildS = (rec.now - b0) / 1e9
      rec.sc = spark.sparkContext
      if (tracing) { tracer = new SparkTracer(rec); tracer.attach(spark) }
      rec.span("workload", "setUp")(wl.setUp(spark, cycle))
      val jvmUptimeNs = if (i == 0)
        java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime * 1000000L - rec.now
      else 0L
      ((rec.now - t0 + jvmUptimeNs) / 1e9, Staging.buildSecondsTotal - staged0, buildS)
    }
    val stagedBeforeWarm = Staging.buildSecondsTotal
    val warmS = rec.span("workload", "warm") {
      val t = rec.now; wl.warm(spark); (rec.now - t) / 1e9
    }
    val stagedWarm = Staging.buildSecondsTotal - stagedBeforeWarm
    val cacheMb = dirBytes(Paths.get(sys.props("java.io.tmpdir")),
      _.getFileName.toString.startsWith("graft_cache_v2_")) / 1048576.0

    // measured window
    org.apache.spark.LayerbenchBridge.drainListeners(spark.sparkContext)
    if (tracing) tracer.reset()
    rec.resetTotals()
    val jvm = new JvmCounters
    val staged0 = Staging.buildSecondsTotal
    val w0 = rec.now
    val ops0 = rec.span("workload", opt("workload")) {
      wl.run(spark, w0 + seconds * 1000000000L)
    }
    val w1 = rec.now
    val heapPeakMb = jvm.heapPeakMb
    val heapLiveMb = jvm.heapLiveMaxMb
    jvm.close()
    val jvmDelta = jvm.delta
    val stagedWindow = Staging.buildSecondsTotal - staged0
    org.apache.spark.LayerbenchBridge.drainListeners(spark.sparkContext)
    val layers = if (tracing) layerMetrics(rec, tracer, ops0, w0, w1) else Map.empty[String, Any]
    val (ops, extra) = wl.finish(spark, ops0)

    val out = Map[String, Any](
      "setup_s" -> setupS.map(_._1),
      "staging_build_s" -> setupS.map(_._2),
      "warm_s" -> warmS,
      "staging_warm_build_s" -> stagedWarm,
      "staging_window_build_s" -> stagedWindow,
      "staging_cache_mb" -> cacheMb,
      "sessions_build_s" -> setupS.map(_._3),
      "window_s" -> (w1 - w0) / 1e9,
      "heap_peak_mb" -> heapPeakMb,
      "heap_live_mb" -> heapLiveMb,
      "jvm_counters" -> jvmDelta,
      "ops" -> ops.map(o => Map[String, Any]("name" -> o.name, "start_s" -> (o.start - w0) / 1e9,
        "end_s" -> (o.end - w0) / 1e9, "latency_s" -> o.latency / 1e9,
        "ok" -> o.ok.orNull, "hash" -> o.hash, "detail" -> o.detail)),
      "workload" -> extra,
      "layers" -> layers,
      "host" -> Map(
        "cores" -> cores,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
        "gc" -> java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
          .asScala.map(_.getName).mkString(","),
        "jdk" -> System.getProperty("java.runtime.version"),
        "spark" -> spark.version))
    Files.writeString(Paths.get(runDir, "out.json"), Json(out))
    if (tracing) {
      val lines = allSpans(rec, tracer).map(s => Json(Map("id" -> s.id, "parent" -> s.parent,
        "layer" -> s.layer, "name" -> s.name, "start_us" -> s.start / 1000, "end_us" -> s.end / 1000)))
      Files.write(Paths.get(runDir, "spans.jsonl"), lines.asJava)
    }
    spark.stop()
  }

  private def dirBytes(root: java.nio.file.Path, top: java.nio.file.Path => Boolean): Long =
    if (!Files.isDirectory(root)) 0L
    else Files.list(root).iterator.asScala.filter(top).map { d =>
      Files.walk(d).iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    }.sum

  private val JobBase = 1L << 40
  private val StageBase = 2L << 40

  /** Harness spans plus Spark job spans (parented by the harness span that
    * submitted them) and stage spans (parented by their first job). */
  private def allSpans(rec: Recorder, t: SparkTracer): Seq[Span] = {
    val jobs = t.jobs.values.asScala.toSeq.filter(_.end >= 0)
    val stageJob = jobs.sortBy(_.id).flatMap(j => j.stages.map(_ -> j.id)).reverse.toMap
    rec.spans.asScala.toSeq ++
      jobs.map(j => Span(JobBase + j.id, j.parent, "scheduler", s"job-${j.id}", j.start, j.end)) ++
      t.stages.asScala.toSeq.map(s => Span(StageBase + s.id,
        stageJob.get(s.id).map(JobBase + _).getOrElse(0L), "executor", s"stage-${s.id}", s.start, s.end))
  }

  private def layerMetrics(rec: Recorder, t: SparkTracer, ops: Seq[Op],
                           w0: Long, w1: Long): Map[String, Any] = {
    val spans = allSpans(rec, t).filter(s => s.start >= w0 && s.end <= w1)
    val layerOf = spans.map(s => s.id -> s.layer).toMap
    val jobs = t.jobs.values.asScala.toSeq.filter(j => j.start >= w0 && j.end >= 0)
    val stages = t.stages.asScala.toSeq.filter(_.start >= w0)
    val skew = stages.flatMap { s =>
      val d = Option(t.taskTimes.get(s.id)).map(_.asScala.map(_.toDouble).toSeq).getOrElse(Nil)
      val med = Intervals.quantile(d, 0.5)
      if (d.size >= 2 && med > 0) Some(d.max / med) else None
    }
    val nOps = math.max(1, ops.size)
    val progress = t.progress.asScala.toSeq
    def dur(k: String) = progress.map(_._2.getOrElse(k, 0L)).sum.toDouble
    def ms(l: String) = rec.total(l)._1
    val mb = 1048576.0
    Map[String, Any](
      "sessions.ensure_configured_ms" -> ms("sessions"),
      "sessions.ensure_configured_calls" -> rec.total("sessions")._2,
      "partitioning.apply_hint_ms" -> ms("partitioning"),
      "operators.build_ms" -> ms("operators.build"),
      "operators.exec_ms" -> ms("operators.exec"),
      "operators.eager_jobs" ->
        jobs.count(j => layerOf.get(j.parent).contains("operators.build")),
      "timeseries.generate_ms" -> ms("timeseries"),
      "sink.write_ms" -> ms("sink"),
      "streaming.batches" -> progress.count(_._1 > 0),
      "streaming.empty_batch_ratio" ->
        (if (progress.isEmpty) 0.0 else progress.count(_._1 == 0).toDouble / progress.size),
      "streaming.trigger_ms" -> dur("triggerExecution"),
      "streaming.add_batch_ms" -> dur("addBatch"),
      "streaming.query_planning_ms" -> dur("queryPlanning"),
      "streaming.latest_offset_ms" -> dur("latestOffset"),
      "streaming.wal_commit_ms" -> dur("walCommit"),
      "streaming.commit_offsets_ms" -> dur("commitOffsets"),
      "plan.analysis_ms" -> t.sum("plan.analysis_ms"),
      "plan.optimization_ms" -> t.sum("plan.optimization_ms"),
      "plan.planning_ms" -> t.sum("plan.planning_ms"),
      "scheduler.jobs" -> jobs.size,
      "scheduler.stages" -> stages.size,
      "scheduler.tasks" -> stages.map(_.tasks).sum,
      "scheduler.jobs_per_op" -> jobs.size.toDouble / nOps,
      "scheduler.idle_ms" -> ((w1 - w0) - Intervals.covered(stages.map(s => (s.start, s.end)), w0, w1)) / 1e6,
      "scheduler.task_skew" -> Intervals.quantile(skew, 0.5),
      "scheduler.task_skew_p90" -> Intervals.quantile(skew, 0.9),
      "executor.run_ms" -> t.sum("executor.run_ms"),
      "executor.cpu_ms" -> t.sum("executor.cpu_ns") / 1e6,
      "executor.deserialize_ms" -> t.sum("executor.deserialize_ms"),
      "executor.gc_ms" -> t.sum("executor.gc_ms"),
      "shuffle.write_mb" -> t.sum("shuffle.write_bytes") / mb,
      "shuffle.read_mb" -> t.sum("shuffle.read_bytes") / mb,
      "shuffle.fetch_wait_ms" -> t.sum("shuffle.fetch_wait_ms"),
      "shuffle.spill_mb" -> t.sum("shuffle.spill_bytes") / mb,
      "shuffle.peak_task_mem_mb" -> t.peakTaskMemBytes / mb,
      "io.input_mb" -> t.sum("io.input_bytes") / mb,
      "self_ms" -> Intervals.selfTime(spans))
  }
}

/** Minimal JSON encoder for the harness's result maps. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}
