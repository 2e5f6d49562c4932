package graft.perfbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession

/** Unit tests of the benchmark's attribution rules and output digest.
  * Run by `tests/test_bench.py`; exits non-zero on the first failure. */
object SelfTest {
  private var failures = 0
  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case e: Throwable => println(s"  $e"); false }
    println(s"${if (ok) "ok  " else "FAIL"} $name")
    if (!ok) failures += 1
  }

  def main(args: Array[String]): Unit = {
    check("drain waits until no job is open and the event count is still") {
      // events keep arriving for 4 polls and a job stays open until poll 6
      var poll = 0
      val polls = Attribution.awaitStable(
        () => (math.min(poll, 4).toLong, if (poll < 6) 1 else 0),
        () => poll += 1, quiet = 3)
      poll == polls && polls == 8
    }
    check("drain gives up after maxPolls on a bus that never settles") {
      var poll = 0
      Attribution.awaitStable(() => (poll.toLong, 0), () => poll += 1,
        maxPolls = 50) == 50
    }
    check("only successful stage attempts count") {
      val a = new Attribution
      a.jobStarted(0, Some("pb-1")); a.stageSubmitted(3, Some("pb-1"))
      a.stageCompleted(3, succeeded = false, Work(tasks = 4, inputRows = 100))
      a.stageSubmitted(3, Some("pb-1"))
      a.stageCompleted(3, succeeded = true, Work(tasks = 4, inputRows = 40))
      a.jobEnded(0)
      a.total == Work(tasks = 4, inputRows = 40) &&
        a.byGroup("pb-1") == Caused(1, 1, Work(tasks = 4, inputRows = 40))
    }
    check("a stage shared by several jobs is attributed once") {
      val a = new Attribution
      a.jobStarted(0, Some("pb-1")); a.stageSubmitted(7, Some("pb-1"))
      a.stageCompleted(7, succeeded = true, Work(tasks = 2, shuffleWrite = 10))
      a.jobEnded(0)
      // the second job lists stage 7 again (skipped, or re-run once more)
      a.jobStarted(1, Some("pb-2"))
      a.stageCompleted(7, succeeded = true, Work(tasks = 2, shuffleWrite = 10))
      a.jobEnded(1)
      a.stages == 1 && a.jobs == 2 && a.total.shuffleWrite == 10 &&
        a.byGroup("pb-1").stages == 1 && a.byGroup("pb-2").stages == 0
    }
    check("jobs outside any span count in totals but in no group") {
      val a = new Attribution
      a.jobStarted(0, None); a.stageSubmitted(0, None)
      a.stageCompleted(0, succeeded = true, Work(tasks = 1, inputRows = 5))
      a.jobEnded(0)
      a.byGroup.isEmpty && a.total.inputRows == 5 && a.jobs == 1
    }
    check("self time subtracts the children's time") {
      val self = Spans.selfSeconds(Seq(Span(0, "a.x", -1, -1, 0, 100000),
        Span(1, "b.y", -1, 0, 10000, 40000), Span(2, "b.z", -1, 0, 50000, 60000)))
      self(0) == 60000 / 1e9 && self(1) == 30000 / 1e9 && self(2) == 10000 / 1e9
    }

    val tmp = Files.createTempDirectory("perfbench-selftest")
    val spark = SparkSession.builder().master("local[2]").appName("selftest")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "2").getOrCreate()
    try {
      val session = spark
      spark.range(0, 5000, 1, 4).selectExpr("id", "id % 7 AS k")
        .write.parquet(s"$tmp/t")
      val spans = new Spans(() => session, true)
      val c = new Collector(spans)
      spark.sparkContext.addSparkListener(c)
      spark.listenerManager.register(c)
      spans("queries.op") {
        spark.read.parquet(s"$tmp/t").groupBy("k").count().collect()
      }
      c.drain()
      val op = spans.all.find(_.name == "queries.op").get
      val g = c.attribution.byGroup.get(Spans.Prefix + op.id)
      check("rows and bytes come from stage task metrics, under the span's group") {
        g.exists(x => x.work.inputRows == 5000 && x.work.inputBytes > 0 &&
          x.jobs >= 1 && x.stages >= 1 && x.work.shuffleWrite > 0)
      }
      check("Catalyst phases land on the span that ran the action") {
        c.phasesByGroup.get(Spans.Prefix + op.id).exists(p =>
          p.queries == 1 && p.analysisMs + p.optimizationMs + p.planningMs >= 0)
      }
      val df = spark.range(0, 1000).selectExpr("id", "CAST(id * 0.5 AS DOUBLE) AS v",
        "IF(id % 3 = 0, NULL, CAST(id AS STRING)) AS s")
      check("the digest ignores row order and partitioning") {
        Digest.of(df) == Digest.of(df.orderBy(org.apache.spark.sql.functions.desc("id"))
          .repartition(3))
      }
      check("the digest sees one extra, missing or changed row") {
        val d = Digest.of(df)
        d != Digest.of(df.union(df.limit(1))) && d != Digest.of(df.filter("id <> 5")) &&
          d != Digest.of(df.selectExpr("id", "IF(id = 9, v + 1, v) AS v", "s"))
      }
    } finally spark.stop()
    if (failures > 0) { println(s"$failures failed"); sys.exit(1) }
    println("all passed")
  }
}
