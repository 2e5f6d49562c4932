package graft.perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.sql.Timestamp

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.types._

import graft.{Schemas, SparkEntry, Tables}
import graft.jobs.EmployeePipeline
import graft.operators.Merge
import graft.queries.Shared
import graft.runner.Runner
import graft.runner.Runner.{Daily, Job, Monthly, Yearly}
import graft.sources.{Sinks, Sources}
import graft.streaming.StrikeMonitor

/** One measured operation. `check` names the output an external checker
  * must verify; `ok` is the in-process verdict. */
final case class Op(name: String, latency: Double, ok: Boolean,
                    why: String = "", check: Map[String, String] = Map.empty)

/** The result of one pass over a workload's fixed operation sequence. */
final case class Pass(traced: Boolean, wall: Double, ops: Seq[Op],
                      rows: Long, extra: Map[String, Double])

trait Workload {
  /** Prepare inputs for a fresh session (runs in every set-up round). */
  def stage(spark: SparkSession): Unit
  /** Untimed work before the passes. `full` (first set-up round only)
    * makes whole passes, so that the measured passes run compiled code
    * (without it, JIT compilation dominated a pass and its run-to-run
    * spread); later rounds only repeat a cheap part. */
  def warmup(spark: SparkSession, full: Boolean): Unit
  /** One pass; `k` numbers passes within the run. */
  def pass(spark: SparkSession, k: Int, tr: Spans): Pass
}

/** Order-independent digest over every output column: row count plus
  * two sums over a 64-bit row hash. Hashing every column also keeps
  * Catalyst from pruning any output away. */
object Digest {
  def of(df: DataFrame): String = {
    val cells = df.columns.toSeq.map(c =>
      coalesce(col(s"`$c`").cast(StringType), lit("\u0000")))
    val h = xxhash64(concat_ws("\u0001", cells: _*))
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").bitwiseAND(0xffffffffL)),
        sum(shiftright(col("h"), 32)))
      .collect()(0)
    def l(i: Int) = if (r.isNullAt(i)) 0L else r.getLong(i)
    s"${l(0)}:${l(1)}:${l(2)}"
  }
}

/** Query catalog: a fixed list of `SparkEntry.queries`, one cold pass
  * each time (fresh session state and no shared artifacts), in an order
  * drawn from the seed. Op = build the query, then digest its output. */
final class Catalog(dir: String, names: Seq[String],
                    expected: Map[String, String], seed: Long,
                    plant: Boolean) extends Workload {
  private val tables = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")
  private val fns = SparkEntry.queries
  val recorded = mutable.LinkedHashMap.empty[String, String]

  def stage(spark: SparkSession): Unit =
    require(tables.forall(t => Files.exists(Paths.get(dir, s"$t.parquet"))),
      s"missing tables under $dir")

  def warmup(spark: SparkSession, full: Boolean): Unit =
    if (full) pass(spark, -1, new Spans(() => spark, false))
    else Digest.of(fns("q02_pricing_summary")(spark, dir))

  def pass(spark0: SparkSession, k: Int, tr: Spans): Pass = {
    Shared.reset(spark0)
    val spark = spark0.newSession()
    Main.onSession(spark)
    val order = new scala.util.Random(seed * 1000003L + k).shuffle(names)
    val t0 = System.nanoTime()
    tr("engine.table_open") {
      tables.foreach(t => Tables.table(spark, dir, t))
    }
    val ops = order.zipWithIndex.map { case (name, i) =>
      tr.op = i
      val s = System.nanoTime()
      val got = tr("queries.op") {
        val df = tr("queries.build")(fns(name)(spark, dir))
        tr("queries.digest") {
          Digest.of(if (plant && i == 0 && k >= 0) df.union(df.limit(1)) else df)
        }
      }
      val lat = (System.nanoTime() - s) / 1e9
      Main.sampleStorage(spark)
      if (k >= 0) recorded(name) = got
      val want = expected.get(name)
      Op(name, lat, want.contains(got),
        if (want.contains(got)) "" else s"digest $got, expected ${want.getOrElse("none")}")
    }
    tr.op = -1
    val wall = (System.nanoTime() - t0) / 1e9
    val builds = Shared.buildTimes(spark)
    Pass(tr.enabled, wall, ops, -1L, Map(
      "shared.build_s" -> builds.values.sum,
      "shared.artifacts" -> builds.size.toDouble,
      "engine.table_opens" -> tables.size.toDouble))
  }
}

/** The reference's cadence: a yearly run, consecutive daily runs across
  * a month end, then the monthly run, all through `Runner.runCadence`
  * with jobs wiring `Sources` -> `EmployeePipeline`/`operators` ->
  * `Sinks`. Op = one cadence run, from the feed drop to the last report
  * written. Every pass starts from an empty warehouse. */
final class Cadence(feeds: String, work: String, runDates: Seq[String],
                    yearDate: String, plant: Boolean) extends Workload {
  private val calendarSchema = StructType(Seq(
    StructField("reason", StringType), StructField("date", StringType)))

  def stage(spark: SparkSession): Unit =
    require(Files.exists(Paths.get(feeds, "yearly", "quota.csv")),
      s"missing feeds under $feeds")

  /** The whole replay, twice: after one, the next replay still ran a
    * fifth slower than those after it. The cheap form runs the yearly
    * cadence only. */
  def warmup(spark: SparkSession, full: Boolean): Unit =
    for (_ <- 1 to (if (full) 2 else 1)) {
      val w = s"$work/warmup"
      replay(spark, w, if (full) runDates else Nil,
        new Spans(() => spark, false), monthly = full)
      deleteTree(Paths.get(w))
    }

  def pass(spark: SparkSession, k: Int, tr: Spans): Pass = {
    val w = s"$work/pass-$k"
    val t0 = System.nanoTime()
    val (ops, attempts) = replay(spark, w, runDates, tr, monthly = true)
    val wall = (System.nanoTime() - t0) / 1e9
    val live = Seq("dim/timeframe", "dim/leave", "dim/quota", "dim/calendar")
      .map(d => current(s"$w/$d")) ++ Seq(s"$w/reports")
    val files = Files.walk(Paths.get(w)).iterator.asScala
      .count(p => p.getFileName.toString.startsWith("part-"))
    Pass(tr.enabled, wall, ops, -1L, Map(
      "store_bytes" -> live.map(p => treeBytes(Paths.get(p))).sum.toDouble,
      "runner.attempts" -> attempts.toDouble,
      "sinks.files_written" -> files.toDouble))
  }

  private def isData(p: Path): Boolean = {
    val n = p.getFileName.toString
    !n.startsWith(".") && !n.startsWith("_")
  }
  private def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator.asScala
      .filter(f => Files.isRegularFile(f) && isData(f)).map(Files.size).sum

  /** Current version of a versioned table; each merge writes a new one. */
  private def current(t: String): String = {
    val ptr = Paths.get(t, "_current")
    if (Files.exists(ptr)) s"$t/${Files.readString(ptr).trim}" else s"$t/none"
  }
  private def publish(t: String, version: String): Unit = {
    Files.createDirectories(Paths.get(t))
    Files.writeString(Paths.get(t, "_current"), version)
  }

  private def drop(from: String, landing: String, name: String): Unit = {
    val dir = Paths.get(landing); Files.createDirectories(dir)
    // copied, not moved: the drop gets a fresh mtime, as a new upload would
    Files.copy(Paths.get(from), dir.resolve(name),
      StandardCopyOption.REPLACE_EXISTING)
  }

  private def jobs(w: String, day: () => Int, tr: Spans): Seq[Job] = {
    def newest(s: SparkSession, feed: String, schema: StructType) =
      tr("sources.list")(Sources.newestCsv(s, s"$w/landing/$feed", schema))
        .getOrElse(sys.error(s"no $feed drop"))
    def sink(df: DataFrame, path: String, csv: Boolean = false): Unit =
      tr("sinks.write") {
        if (csv) Sinks.overwriteCsv(df, path) else Sinks.overwriteParquet(df, path)
      }
    def read(s: SparkSession, t: String) = s.read.parquet(current(s"$w/dim/$t"))
    def merged(s: SparkSession, t: String, staging: DataFrame,
               f: (DataFrame, DataFrame) => DataFrame): Unit = {
      val v = s"v${day()}"
      val prev = current(s"$w/dim/$t")
      val dim = if (Files.exists(Paths.get(prev))) s.read.parquet(prev)
                else staging.limit(0)
      sink(f(dim, staging), s"$w/dim/$t/$v")
      publish(s"$w/dim/$t", v)
    }
    def job(name: String, c: Runner.Cadence)(body: (SparkSession, String) => Unit) =
      Job(name, c, (s, d) => tr(s"runner.job.$name")(body(s, d)))
    Seq(
      job("load_quota", Yearly) { (s, _) =>
        sink(newest(s, "quota", Schemas.leaveQuotaRaw), s"$w/dim/quota/v0")
        publish(s"$w/dim/quota", "v0")
      },
      job("load_calendar", Yearly) { (s, _) =>
        val raw = newest(s, "calendar", calendarSchema)
        val dim = tr("jobs.build")(raw.select(col("reason"),
          to_date(col("date"), "yyyy-MM-dd").as("date")))
        sink(dim, s"$w/dim/calendar/v0")
        publish(s"$w/dim/calendar", "v0")
      },
      job("clean_timeframe", Daily) { (s, _) =>
        val raw = newest(s, "timeframe", Schemas.empTimeframeRaw)
        sink(tr("jobs.build")(EmployeePipeline.cleanTimeframe(raw)),
          s"$w/staging/timeframe")
      },
      job("merge_timeframe", Daily) { (s, _) =>
        val staging = s.read.parquet(s"$w/staging/timeframe")
        merged(s, "timeframe", staging, (dim, st) =>
          tr("jobs.build")(EmployeePipeline.mergeTimeframeDim(dim, st)))
      },
      job("clean_leave", Daily) { (s, _) =>
        val raw = newest(s, "leave", Schemas.leaveRaw)
        sink(tr("jobs.build")(EmployeePipeline.cleanLeave(raw)),
          s"$w/staging/leave")
      },
      job("merge_leave", Daily) { (s, _) =>
        val staging = s.read.parquet(s"$w/staging/leave")
        merged(s, "leave", staging, (dim, st) =>
          tr("operators.build")(Merge.upsert(dim, st, Seq("emp_id", "leave_date"))))
      },
      job("report_active", Daily) { (s, d) =>
        val rep = tr("jobs.build")(EmployeePipeline.activeByDesignation(read(s, "timeframe")))
        sink(plantRow(rep, w), s"$w/reports/active/$d", csv = true)
      },
      job("report_upcoming", Daily) { (s, d) =>
        val rep = tr("jobs.build")(EmployeePipeline.upcomingLeaveAbuse(s,
          read(s, "leave"), read(s, "calendar"), d))
        sink(rep, s"$w/reports/upcoming/$d", csv = true)
      },
      job("report_quota", Monthly) { (s, d) =>
        val rep = tr("jobs.build")(EmployeePipeline.quotaAbuse(read(s, "quota"),
          read(s, "leave"), d))
        sink(rep, s"$w/reports/quota/$d", csv = true)
      })
  }

  // a planted wrong result: one extra report row on the first daily run
  private var planted = false
  private def plantRow(df: DataFrame, w: String): DataFrame =
    if (plant && !planted && !w.endsWith("warmup")) {
      planted = true; df.union(df.limit(1))
    } else df

  private def replay(spark: SparkSession, w: String, dates: Seq[String],
                     tr: Spans, monthly: Boolean): (Seq[Op], Int) = {
    deleteTree(Paths.get(w))
    var day = 0
    val registry = jobs(w, () => day, tr)
    val ops = mutable.ArrayBuffer.empty[Op]
    var attempts = 0
    def run(name: String, c: Runner.Cadence, date: String,
            dropFeeds: () => Unit, check: Map[String, String]): Unit = {
      tr.op = ops.size
      val t0 = System.nanoTime()
      val res = tr("runner.cadence") {
        dropFeeds()
        Runner.runCadence(spark, registry, c, date)
      }
      val lat = (System.nanoTime() - t0) / 1e9
      Main.sampleStorage(spark)
      attempts += res.map(_.attempts).sum
      val bad = res.filterNot(_.ok)
      ops += Op(name, lat, bad.isEmpty,
        bad.map(r => s"${r.name}: ${r.error.getOrElse("")}").mkString("; "),
        check)
    }
    run("yearly", Yearly, yearDate, () => {
      drop(s"$feeds/yearly/quota.csv", s"$w/landing/quota", "quota.csv")
      drop(s"$feeds/yearly/calendar.csv", s"$w/landing/calendar", "calendar.csv")
    }, Map.empty)
    dates.zipWithIndex.foreach { case (d, n) =>
      day = n
      run("daily", Daily, d, () => {
        drop(s"$feeds/daily/$n/timeframe.csv", s"$w/landing/timeframe", s"timeframe-$d.csv")
        drop(s"$feeds/daily/$n/leave.csv", s"$w/landing/leave", s"leave-$d.csv")
      }, Map("kind" -> "daily", "day" -> n.toString, "date" -> d,
        "timeframe" -> s"$w/dim/timeframe/v$n", "leave" -> s"$w/dim/leave/v$n",
        "active" -> s"$w/reports/active/$d", "upcoming" -> s"$w/reports/upcoming/$d"))
    }
    if (monthly) {
      val d = dates.last
      run("monthly", Monthly, d, () => (), Map("kind" -> "monthly",
        "day" -> (dates.size - 1).toString, "date" -> d,
        "quota" -> s"$w/reports/quota/$d"))
    }
    tr.op = -1
    (ops.toSeq, attempts)
  }

  private def deleteTree(p: Path): Unit = if (Files.exists(p))
    Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
      .iterator.asScala.foreach(Files.delete)
}

object Cadence {
  val Jobs = Seq("load_quota", "load_calendar", "clean_timeframe",
    "merge_timeframe", "clean_leave", "merge_leave", "report_active",
    "report_upcoming", "report_quota")
}

/** Streaming strike monitor: `Sources.csvStream` -> `StrikeMonitor.monitor`
  * -> parquet file sink, fed by one generator thread that drops the
  * message files on a fixed schedule (open loop). Op = one message file,
  * timed from its scheduled drop to the commit of the batch that
  * processed it. Correctness: the flagged rows of every file equal a
  * batch `StrikeMonitor.foldMessages` over the same messages. */
final class Strike(msgDir: String, work: String, files: Int, warmFiles: Int,
                   intervalMs: Long, perTrigger: Int, plant: Boolean)
    extends Workload {
  import StrikeMonitor.{Flagged, Message}
  private val reserved = Set("secret", "fraud", "leak")
  private val schema = StructType(Seq(StructField("emp_id", LongType),
    StructField("message", StringType), StructField("ts", TimestampType)))
  private var salaries = Map.empty[Long, Double]
  // expected flagged rows per file, from one batch fold over all files
  private var expected = Map.empty[Int, Seq[Flagged]]
  private var fileOfTs = (_: Long) => -1

  private def parse(i: Int): Seq[Message] =
    Files.readAllLines(Paths.get(msgDir, f"msg-$i%05d.csv")).asScala.tail
      .map { l =>
        val Array(e, m, t) = l.split(",", 3)
        Message(e.toLong, m, Timestamp.valueOf(t))
      }.toSeq

  def stage(spark: SparkSession): Unit = {
    salaries = Files.readAllLines(Paths.get(msgDir, "salaries.csv")).asScala
      .map { l => val Array(e, s) = l.split(","); e.toLong -> s.toDouble }.toMap
    val byFile = (0 until files).map(parse)
    val bounds = byFile.map(_.map(_.ts.getTime).max)
    fileOfTs = (t: Long) => bounds.indexWhere(t <= _)
    val flagged = byFile.flatten.groupBy(_.emp_id).toSeq.flatMap {
      case (e, msgs) => StrikeMonitor.foldMessages(msgs, null, reserved,
        salaries.getOrElse(e, 100000.0))._2
    }
    expected = flagged.groupBy(f => fileOfTs(f.ts.getTime))
  }

  /** A short stream over the first `warmFiles` files: the first batches
    * of a JVM run slower than the rest. */
  def warmup(spark: SparkSession, full: Boolean): Unit =
    if (full) runStream(spark, s"$work/warmup", warmFiles min files,
      new Spans(() => spark, false), check = false)

  def pass(spark: SparkSession, k: Int, tr: Spans): Pass = {
    val t0 = System.nanoTime()
    val (ops, extra) = runStream(spark, s"$work/pass-$k", files, tr)
    val wall = (System.nanoTime() - t0) / 1e9
    Pass(tr.enabled, wall, ops, extra("rows").toLong, extra - "rows")
  }

  private def runStream(spark: SparkSession, w: String, n: Int, tr: Spans,
                        check: Boolean = true): (Seq[Op], Map[String, Double]) = {
    import spark.implicits._
    val in = Paths.get(w, "in"); Files.createDirectories(in)
    val progress = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()
    val listener = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.add(e.progress)
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    val scheduled = new Array[Long](n)
    val dropped = new Array[Long](n)
    var backlog = 0
    val (q, committedAt) = tr("streaming.run") {
      val msgs = tr("sources.stream")(
        Sources.csvStream(spark, in.toString, schema, perTrigger).as[Message])
      val out = tr("streaming.build")(StrikeMonitor.monitor(spark, msgs, reserved, salaries))
      val q = out.writeStream.format("parquet")
        .option("checkpointLocation", s"$w/ckpt").start(s"$w/out")
      // wait for the first (empty) trigger, so the schedule starts on a
      // running query
      while (q.lastProgress == null && q.isActive) Thread.sleep(5)
      val start = System.currentTimeMillis() + 50
      val gen = new Thread(() => {
        for (i <- 0 until n) {
          scheduled(i) = start + i * intervalMs
          val wait = scheduled(i) - System.currentTimeMillis()
          if (wait > 0) Thread.sleep(wait)
          val tmp = in.resolve(f".msg-$i%05d.csv.tmp")
          Files.copy(Paths.get(msgDir, f"msg-$i%05d.csv"), tmp,
            StandardCopyOption.REPLACE_EXISTING)
          Files.move(tmp, in.resolve(f"msg-$i%05d.csv"), StandardCopyOption.ATOMIC_MOVE)
          dropped(i) = System.currentTimeMillis()
        }
      }, "perfbench-generator")
      gen.start(); gen.join()
      backlog = n - filesCommitted(w)
      q.processAllAvailable()
      // progress events reach the listener asynchronously
      val last = batchFiles(w).keys.maxOption.getOrElse(-1L)
      val until = System.currentTimeMillis() + 5000
      while (!progress.asScala.exists(_.batchId >= last) &&
             System.currentTimeMillis() < until) Thread.sleep(10)
      q.stop()
      (q, commitTimes(w))
    }
    spark.streams.removeListener(listener)
    if (q.exception.isDefined) throw q.exception.get
    val got = spark.read.parquet(s"$w/out").as[Flagged].collect().toSeq
    val gotByFile = got.groupBy(f => fileOfTs(f.ts.getTime))
    val ops = (0 until n).map { i =>
      val want = expected.getOrElse(i, Nil)
      var have = gotByFile.getOrElse(i, Nil)
      if (plant && check && i == 0) have = have ++ want.take(1) ++ (if (want.isEmpty) got.take(1) else Nil)
      val commit = committedAt.getOrElse(i, Long.MaxValue)
      val ok = !check || sameRows(want, have)
      Op(s"file-$i", (commit - scheduled(i)) / 1e3, ok && commit != Long.MaxValue,
        if (ok) "" else s"flagged rows differ: ${have.size} vs ${want.size}")
    }
    val ps = progress.asScala.toSeq.filter(_.numInputRows > 0)
    def dur(k: String) = ps.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0))
    val last = ps.lastOption.flatMap(_.stateOperators.headOption)
    val trig = dur("triggerExecution").sorted
    (ops, Map(
      "rows" -> ps.map(_.numInputRows).sum.toDouble,
      "stream.batches" -> ps.size.toDouble,
      "stream.batch_p50_ms" -> (if (trig.isEmpty) 0.0 else trig(trig.size / 2)),
      "stream.add_batch_ms" -> dur("addBatch").sum,
      "stream.query_planning_ms" -> dur("queryPlanning").sum,
      "stream.wal_commit_ms" -> dur("walCommit").sum,
      "stream.commit_offsets_ms" -> dur("commitOffsets").sum,
      "stream.state_rows" -> last.map(_.numRowsTotal.toDouble).getOrElse(0.0),
      "stream.state_mem_mb" -> last.map(_.memoryUsedBytes / 1048576.0).getOrElse(0.0),
      "stream.state_commit_ms" -> ps.flatMap(_.stateOperators.headOption)
        .map(_.commitTimeMs.toDouble).sum,
      "stream.rows_per_batch" -> (if (ps.isEmpty) 0.0 else ps.map(_.numInputRows).sum.toDouble / ps.size),
      "stream.backlog_files" -> backlog.toDouble,
      "stream.gen_late_ms" -> (0 until n).map(i => dropped(i) - scheduled(i)).max.toDouble))
  }

  private def sameRows(a: Seq[Flagged], b: Seq[Flagged]): Boolean = {
    def key(f: Flagged) = (f.emp_id, f.message, f.ts.getTime, f.strike_no,
      f.updated_salary, f.status)
    a.map(key).sorted == b.map(key).sorted
  }

  /** Files listed by the committed batches of the file source log. */
  private def batchFiles(w: String): Map[Long, Seq[Int]] = {
    val log = Paths.get(w, "ckpt", "sources", "0")
    val commits = Paths.get(w, "ckpt", "commits")
    if (!Files.exists(log) || !Files.exists(commits)) return Map.empty
    val done = Files.list(commits).iterator.asScala
      .map(_.getFileName.toString).filter(_.forall(_.isDigit)).map(_.toLong).toSet
    // every entry names its batch; compacted log files (`N.compact`)
    // repeat the entries of earlier batches
    val entry = "msg-(\\d+)\\.csv\".*\"batchId\":(\\d+)".r
    Files.list(log).iterator.asScala
      .filter { p =>
        val b = p.getFileName.toString.takeWhile(_ != '.')
        b.nonEmpty && b.forall(_.isDigit)
      }
      .flatMap(p => Files.readAllLines(p).asScala)
      .flatMap(l => entry.findFirstMatchIn(l).map(m => m.group(2).toLong -> m.group(1).toInt))
      .toSeq.distinct.filter(x => done(x._1))
      .groupBy(_._1).map { case (b, fs) => b -> fs.map(_._2) }
  }

  private def filesCommitted(w: String): Int = batchFiles(w).values.map(_.size).sum

  /** Commit time of the batch that processed each file: the time its
    * entry in the checkpoint's commit log was written. */
  private def commitTimes(w: String): Map[Int, Long] =
    batchFiles(w).toSeq.flatMap { case (b, fs) =>
      val t = Files.getLastModifiedTime(Paths.get(w, "ckpt", "commits", b.toString))
        .toMillis
      fs.map(_ -> t)
    }.toMap
}
