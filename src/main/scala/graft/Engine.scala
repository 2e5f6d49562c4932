package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session factory + table catalog for the graft engine.
  *
  * Design notes (100 TB posture):
  *  - AQE on: runtime shuffle-partition coalescing, skew-join splitting,
  *    dynamic broadcast conversion — the local[32] numbers then transfer
  *    to a real cluster where partition counts are data-driven.
  *  - `spark.sql.shuffle.partitions` is set by the entrypoints (32 locally);
  *    on a 1000-executor cluster AQE re-coalesces from a higher initial value.
  *  - All reads are columnar parquet through the vectorized reader; queries
  *    select narrow column sets so pruning + predicate pushdown reach the scan.
  *  - `file://` is rebound, for both the FileSystem and the FileContext API,
  *    to the fork-free local filesystem (`sources/LocalFs.scala`). Without
  *    native libhadoop the stock one forks `chmod`/`readlink` on every file,
  *    directory and rename: about 130 forks per stateful microbatch, on the
  *    checkpoint and state-store writes that set its latency. Checksums stay.
  *    Caveat: Hadoop caches the `file://` FileSystem once per JVM and ignores
  *    the conf on later lookups, so the first lookup in a JVM fixes the class.
  *    Any new entry point must build its session through `Engine.session`
  *    before it touches a Hadoop FileSystem.
  */
object Engine {
  def session(appName: String = "graft", cores: String = "32"): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName(appName)
      // graft's Catalyst extensions (hamming64 SQL fn + the window-top-k
      // → bounded-heap rewrite); static conf — applies when this builder
      // creates the JVM's SparkContext (Verify/Bench/production), and is
      // a no-op on an already-running context
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // NOT set: adaptive.coalescePartitions.initialPartitionNum. Tried
      // at 8× cores in round 4 to chase q22's 271 MB memory-spill at
      // the 100× smoke; measured WORSE (q22 median 17.4 s → 21.8 s,
      // spill 271 MB → 4.2 GB at 100×): the collect_list aggregation is
      // object-hash/sort-based, and many small sorters spill more than
      // 32 fat ones under the same 32-thread memory pool. On a real
      // cluster initialPartitionNum scales with executors; locally the
      // static 32 is the measured optimum.
      .config("spark.sql.session.timeZone", "UTC")
      // Some events.parquet generations carry INT64 TIMESTAMP(NANOS), which
      // Spark's reader rejects outright; this conf surfaces those as
      // epoch-nanos long instead. It is a no-op on timestamp[us]/[ms] files.
      // Tables.events branches on the surfaced type (SURVEY.md §1.5's
      // explicit-schema mandate: validate physical type at load).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl",
        classOf[graft.sources.ForkFreeLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[graft.sources.ForkFreeLocalFs].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

/** Typed access to the driver-generated parquet tables (TESTDATA.md).
  * One parquet file per table under `$dir/`.
  */
object Tables {
  // Per-(session, dir, table) DataFrame memo (r14, guide §1/VERDICT r13
  // #6 — cut the per-query constants): `spark.read.parquet` pays ~48 ms
  // of driver-side schema/footer inference on EVERY call (measured,
  // FloorProbe `parquet_df_build`), and every bench rep of every query
  // rebuilds its tables — ~2 builds/query × 278 queries ≈ 25-30 s of
  // pure repeated planning per suite pass. The memo returns the same
  // immutable DataFrame object, so schema inference and file listing
  // run once per table per session; NOTHING is persisted or cached —
  // every action still scans the parquet inputs. Keyed by the session
  // instance (weak, so throwaway test sessions are collectable), then
  // by (dir, name) — Verify's multi-SF loop gets one entry per SF.
  private val tableMemo =
    new java.util.WeakHashMap[SparkSession,
      scala.collection.concurrent.TrieMap[(String, String), DataFrame]]
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val perSession = tableMemo.synchronized {
      var m = tableMemo.get(spark)
      if (m == null) {
        m = scala.collection.concurrent.TrieMap.empty
        tableMemo.put(spark, m)
      }
      m
    }
    perSession.getOrElseUpdate((dir, name),
      spark.read.parquet(s"$dir/$name.parquet"))
  }

  def region(s: SparkSession, d: String): DataFrame     = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = table(s, d, "lineitem")
  /** events.ts has shipped as INT64 TIMESTAMP(NANOS) in some testdata
    * generations and timestamp[us] in others. Normalize both: expose
    * `ts_us` (epoch micros, exact long) and `ts` (microsecond-precision
    * timestamp) — all downstream logic uses these two, never the raw
    * column, so a physical-type change in the source can't reach a query.
    */
  def events(s: SparkSession, d: String): DataFrame =
    withEventTime(table(s, d, "events"))

  /** Schema-adaptive event-time normalization (the source contract for the
    * events feed). Branches on the surfaced type of `ts`:
    *  - LongType: INT64 TIMESTAMP(NANOS) surfaced as epoch-nanos via
    *    `spark.sql.legacy.parquet.nanosAsLong` → integer div to micros.
    *  - TimestampType: already micros-precision → `unix_micros`.
    *  - TimestampNTZType: parquet timestamp with isAdjustedToUTC=false;
    *    the session zone is pinned UTC (Engine.session), so the NTZ→LTZ
    *    cast is exact.
    * Any other type is a contract violation and fails loudly at load
    * rather than deep inside a query plan.
    */
  def withEventTime(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val tsUs = raw.schema("ts").dataType match {
      case LongType           => expr("ts div 1000")
      case TimestampType      => unix_micros(col("ts"))
      case TimestampNTZType   => unix_micros(col("ts").cast(TimestampType))
      case other => throw new IllegalStateException(
        s"events.ts: unsupported physical type $other (expected INT64 nanos, timestamp, or timestamp_ntz)")
    }
    raw.withColumn("ts_us", tsUs)
      .withColumn("ts", timestamp_micros(col("ts_us")))
  }
  def documents(s: SparkSession, d: String): DataFrame  = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
