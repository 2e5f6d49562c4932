package graft.streaming

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor,
  TimeMode, TimerValues, ValueState}

import graft.streaming.StrikeMonitor.{Flagged, Message, StrikeState,
  foldMessages}

/** The strike monitor on Spark 4's `transformWithState` arbitrary-state
  * API — the successor to `flatMapGroupsWithState` (which
  * `StrikeMonitor.monitor` uses). Same pure transition
  * (`StrikeMonitor.foldMessages`), different state plumbing:
  *
  *  - state lives in a typed `ValueState[StrikeState]` handle created in
  *    `init` (composable: more handles = more state columns, vs the
  *    single GroupState blob);
  *  - the RocksDB state-store provider is REQUIRED by this API — which
  *    is also the 100 TB posture: state spills off-heap and incremental
  *    checkpoints bound executor memory for hundreds of millions of
  *    keys, where the default HDFS-backed store holds state on-heap.
  *
  * StrikeParitySpec asserts both implementations emit identical flag
  * logs over the same message stream.
  */
object TwsStrikeMonitor {

  /** Holds broadcast handles, not the salary map itself: the processor
    * is serialized into every state task of every microbatch. */
  class StrikeProcessor(reserved: Broadcast[Set[String]],
                        salaries: Broadcast[Map[Long, Double]],
                        defaultSalary: Double)
      extends StatefulProcessor[Long, Message, Flagged] {

    @transient private var state: ValueState[StrikeState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[StrikeState]("strikes",
        Encoders.product[StrikeState], org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(empId: Long, rows: Iterator[Message],
                                 timerValues: TimerValues): Iterator[Flagged] = {
      val st = if (state.exists()) state.get() else null
      val (next, flagged) = foldMessages(rows.toSeq, st, reserved.value,
        salaries.value.getOrElse(empId, defaultSalary))
      state.update(next)
      flagged.iterator
    }
  }

  /** Same contract as `StrikeMonitor.monitor`, on the new API. The
    * session must run the RocksDB state-store provider (see
    * `rocksdbConf`).
    */
  def monitor(spark: SparkSession, messages: Dataset[Message],
              reserved: Set[String], salaries: Map[Long, Double],
              defaultSalary: Double = 100000.0): Dataset[Flagged] = {
    import spark.implicits._
    messages
      .groupByKey(_.emp_id)
      .transformWithState(
        new StrikeProcessor(spark.sparkContext.broadcast(reserved),
          spark.sparkContext.broadcast(salaries), defaultSalary),
        TimeMode.None(), OutputMode.Append())
  }

  /** The conf key/value `transformWithState` requires. */
  val rocksdbConf: (String, String) =
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
}
