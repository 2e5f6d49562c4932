package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.Engine
import graft.queries.Shared

/** Benchmark driver inside the JVM: set-up rounds, then a fixed number of
  * measured passes of one workload. Writes one JSON result
  * file and, for traced passes, the spans. Invoked by `run.py`.
  *
  * Arguments are `key=value` pairs: workload, seed, passes, trace,
  * cores, data, work, out, spans, and per workload the inputs
  * (queries/expected, feeds/dates, messages/files).
  */
object Main {
  @volatile private var storagePeak = 0L
  /** Called by a workload on each session it creates: a session has its
    * own query-execution listeners, and a traced pass needs its own. */
  @volatile var onSession: SparkSession => Unit = _ => ()

  /** Sample block-manager storage memory in use (all executors). */
  def sampleStorage(spark: SparkSession): Unit = {
    val used = spark.sparkContext.getExecutorMemoryStatus.values
      .map { case (max, free) => max - free }.sum
    if (used > storagePeak) storagePeak = used
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val trace = a("trace") == "1"
    val cores = a("cores")
    val plant = a.get("plant").contains("1")
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime

    Shared.eagerBuilds = true
    val workload: Workload = a("workload") match {
      case "catalog" =>
        val expected = if (a("expected").isEmpty) Map.empty[String, String]
          else Json.flatStrings(Files.readString(Paths.get(a("expected"))))
        new Catalog(a("data"), a("queries").split(",").toSeq, expected,
          a("seed").toLong, plant)
      case "cadence" =>
        new Cadence(a("feeds"), a("work"), a("dates").split(",").toSeq,
          a("year_date"), plant)
      case "strike" =>
        new Strike(a("messages"), a("work"), a("files").toInt,
          a("warm_files").toInt, a("interval_ms").toLong, a("per_trigger").toInt,
          plant)
    }

    // set-up rounds: the first runs from JVM start; each later round
    // stops the session and builds a new one (fresh SparkContext)
    var spark: SparkSession = null
    val setup = (0 until 3).map { r =>
      val t0 = if (r == 0) jvmStart else System.currentTimeMillis()
      if (spark != null) { spark.stop(); SparkSession.clearActiveSession();
        SparkSession.clearDefaultSession() }
      val t1 = System.currentTimeMillis()
      spark = Engine.session("perfbench", cores)
      val t2 = System.currentTimeMillis()
      workload.stage(spark)
      workload.warmup(spark, full = r == 0)
      val t3 = System.currentTimeMillis()
      System.err.println(s"[perfbench] setup round $r: jvm ${(t1 - t0) / 1e3} s, " +
        s"session ${(t2 - t1) / 1e3} s, inputs and warm-up ${(t3 - t2) / 1e3} s")
      (t3 - t0) / 1e3
    }

    val session = spark
    val spans = new Spans(() => session, false)
    val collector = new Collector(spans)
    spark.sparkContext.addSparkListener(collector)
    val heap = new HeapWatch
    val passes = mutable.ArrayBuffer.empty[(Pass, Map[String, Double])]
    val spanOut = mutable.ArrayBuffer.empty[String]
    // A fixed pass count keeps every run of a workload the same shape. A
    // traced run first makes one pass it does not keep (the first pass
    // after set-up runs slower, which would bias the overhead), then one
    // traced pass and one untraced pass.
    val kinds =
      if (trace) Seq(None, Some(true), Some(false))
      else Seq.fill(a("passes").toInt)(Some(false))
    for ((kind, k) <- kinds.zipWithIndex) {
      val traced = kind.contains(true)
      spans.enabled = traced
      onSession = if (traced) _.listenerManager.register(collector) else _ => ()
      onSession(spark)
      val floor = median((1 to 3).map { _ =>
        val s = System.nanoTime()
        spans("sched.floor") {
          spark.range(1).write.format("noop").mode("overwrite").save()
        }
        (System.nanoTime() - s) / 1e9
      })
      collector.drain(); collector.clear(); spans.clear()
      System.gc()
      heap.reset(); storagePeak = 0L; sampleStorage(spark)
      val p = workload.pass(spark, k, spans)
      val heapMb = heap.peakMb
      collector.drain()
      if (traced) spark.listenerManager.unregister(collector)
      val rows = if (p.rows >= 0) p.rows else collector.attribution.total.inputRows
      val base = Map("heap_peak_mb" -> heapMb, "rows" -> rows.toDouble,
        "storage.peak_mb" -> storagePeak / 1048576.0, "sched.floor_s" -> floor)
      val layers = if (traced) layerMetrics(p, spans, collector, cores.toInt)
        else Map.empty[String, Double]
      if (traced) spanOut ++= spanLines(k, spans, collector)
      if (kind.isDefined) passes += ((p.copy(rows = rows), base ++ p.extra ++ layers))
    }
    spark.stop()

    val sb = new StringBuilder
    sb ++= "{\"setup_s\": " + Json.arr(setup.map(Json.num)) + ",\n\"passes\": [\n"
    sb ++= passes.map { case (p, m) =>
      "{\"traced\": " + p.traced + ", \"wall_s\": " + Json.num(p.wall) +
        ", \"metrics\": " + Json.obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }) +
        ",\n \"ops\": " + Json.arr(p.ops.map { o =>
          Json.obj(Seq("name" -> Json.str(o.name), "latency_s" -> Json.num(o.latency),
            "ok" -> o.ok.toString, "why" -> Json.str(o.why),
            "check" -> Json.obj(o.check.toSeq.map { case (k, v) => k -> Json.str(v) })))
        }) + "}"
    }.mkString(",\n")
    sb ++= "\n]"
    workload match {
      case c: Catalog => sb ++= ",\n\"digests\": " +
        Json.obj(c.recorded.toSeq.map { case (k, v) => k -> Json.str(v) })
      case _ =>
    }
    sb ++= "}\n"
    Files.writeString(Paths.get(a("out")), sb.toString)
    if (a.contains("spans")) Files.writeString(Paths.get(a("spans")),
      spanOut.mkString("", "\n", "\n"))
  }

  private def ancestors(s: Span, byId: Map[Int, Span]): List[Span] =
    byId.get(s.parent).map(p => p :: ancestors(p, byId)).getOrElse(Nil)

  /** Per-layer numbers of one traced pass. */
  private def layerMetrics(p: Pass, spans: Spans, c: Collector,
                           cores: Int): Map[String, Double] = {
    val all = spans.all
    val byId = all.map(s => s.id -> s).toMap
    val self = spans.selfSeconds
    val groups = c.attribution.byGroup
    def caused(s: Span) = groups.getOrElse(Spans.Prefix + s.id, Caused())
    def named(n: String) = all.filter(_.name == n)
    def dur(n: String) = named(n).map(_.seconds).sum
    def selfOf(n: String) = named(n).map(s => self(s.id)).sum
    def under(pred: String => Boolean) = all.filter(s =>
      (s :: ancestors(s, byId)).exists(x => pred(x.name)))
    val phases = c.phasesByGroup.values.foldLeft(Phases())(_ + _)
    val w = c.attribution.total
    val mb = 1048576.0
    // a streaming query runs its batches under its own job group, so
    // everything a streaming pass ran counts as read by the stream (bytes
    // include reading back the flagged rows for the check; rows come from
    // the stream's own progress)
    val feedWork = if (named("streaming.run").nonEmpty) w.copy(inputRows = p.rows)
      else under(_.startsWith("runner.job.")).map(caused(_).work)
        .foldLeft(Work())(_ + _)
    val sinkWork = named("sinks.write").map(caused(_).work).foldLeft(Work())(_ + _)
    val perLayerSelf = all.groupBy(_.layer).map { case (l, ss) =>
      s"self.${l}_s" -> ss.map(s => self(s.id)).sum }
    Map(
      "engine.table_open_s" -> dur("engine.table_open"),
      "queries.build_s" -> selfOf("queries.build"),
      "queries.build_jobs" -> named("queries.build").map(caused(_).jobs).sum.toDouble,
      "catalyst.analysis_ms" -> phases.analysisMs,
      "catalyst.optimization_ms" -> phases.optimizationMs,
      "catalyst.planning_ms" -> phases.planningMs,
      "sched.jobs" -> c.attribution.jobs.toDouble,
      "sched.stages" -> c.attribution.stages.toDouble,
      "sched.tasks" -> w.tasks.toDouble,
      "exec.run_s" -> w.runMs / 1e3,
      "exec.cpu_s" -> w.cpuNs / 1e9,
      "exec.gc_s" -> w.gcMs / 1e3,
      "exec.deser_s" -> w.deserMs / 1e3,
      "exec.busy_ratio" -> w.runMs / 1e3 / (p.wall * cores),
      "exec.input_rows" -> w.inputRows.toDouble,
      "exec.input_mb" -> w.inputBytes / mb,
      "exec.shuffle_write_mb" -> w.shuffleWrite / mb,
      "exec.shuffle_read_mb" -> w.shuffleRead / mb,
      "exec.spill_mb" -> w.spill / mb,
      "exec.result_mb" -> w.resultBytes / mb,
      "sources.list_s" -> (dur("sources.list") + dur("sources.stream")),
      "sources.rows_read" -> feedWork.inputRows.toDouble,
      "sources.bytes_read" -> feedWork.inputBytes.toDouble,
      "jobs.build_s" -> selfOf("jobs.build"),
      "operators.build_s" -> selfOf("operators.build"),
      "sinks.write_s" -> dur("sinks.write"),
      "sinks.rows_written" -> sinkWork.outRows.toDouble,
      "sinks.bytes_written" -> sinkWork.outBytes.toDouble
    ) ++ Cadence.Jobs.map(j => s"runner.job_s.$j" -> dur(s"runner.job.$j")) ++
      perLayerSelf
  }

  private def spanLines(k: Int, spans: Spans, c: Collector): Seq[String] = {
    val self = spans.selfSeconds
    val groups = c.attribution.byGroup
    val phases = c.phasesByGroup
    spans.all.map { s =>
      val g = groups.getOrElse(Spans.Prefix + s.id, Caused())
      val ph = phases.getOrElse(Spans.Prefix + s.id, Phases())
      Json.obj(Seq("pass" -> k.toString, "id" -> s.id.toString,
        "name" -> Json.str(s.name), "parent" -> s.parent.toString,
        "op" -> s.op.toString, "start_ns" -> s.start.toString,
        "end_ns" -> s.end.toString, "self_s" -> Json.num(self(s.id)),
        "jobs" -> g.jobs.toString, "stages" -> g.stages.toString,
        "tasks" -> g.work.tasks.toString, "run_ms" -> g.work.runMs.toString,
        "catalyst_ms" -> Json.num(ph.analysisMs + ph.optimizationMs + ph.planningMs)))
    }
  }
}

/** Just enough JSON for the result file and the expected-digest file. */
object Json {
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  def arr(xs: Seq[String]): String = xs.mkString("[", ", ", "]")
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ": " + v }.mkString("{", ", ", "}")
  /** Flat `{"k": "v", ...}` object of strings. */
  def flatStrings(s: String): Map[String, String] =
    "\"([^\"]+)\"\\s*:\\s*\"([^\"]*)\"".r.findAllMatchIn(s)
      .map(m => m.group(1) -> m.group(2)).toMap
}
