package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Real-time communication monitoring (reference README.md §6.3/§9 —
  * spec-only in the reference; this is the engine's designed semantics,
  * documented per SURVEY.md §2.9):
  *
  *  - messages are flagged when they contain a reserved word (T2);
  *  - each flagged message adds one strike and deducts 10% of the
  *    employee's current `updated_salary` (deduction amount is unspecified
  *    by the reference README — 10% per strike is our documented choice);
  *  - reaching 10 strikes marks the employee INACTIVE (T4);
  *  - strikes reset at each calendar-month boundary (processing order by
  *    event time within a group) unless the employee is already INACTIVE
  *    (T5, "monthly cooldown");
  *  - every flagged message is emitted to the flagged-message log (T6).
  *
  * Scale notes: state is one small record per employee, partitioned by
  * emp_id (Spark state store scales horizontally); the salary map (one
  * entry per employee) and the reserved-word set are broadcast once per
  * query, so the state closure every task of every microbatch
  * deserializes carries two handles, not the map. Use `withWatermark`
  * upstream if event-time disorder must be bounded.
  */
object StrikeMonitor {

  case class Message(emp_id: Long, message: String, ts: Timestamp)

  case class StrikeState(strikes: Int, salary: Double, active: Boolean,
                         lastMonth: Int)

  /** One output row per flagged message (the flagged-message log). */
  case class Flagged(emp_id: Long, message: String, ts: Timestamp,
                     strike_no: Int, updated_salary: Double, status: String)

  def containsReserved(message: String, reserved: Set[String]): Boolean = {
    val words = message.toLowerCase.split("\\W+")
    words.exists(reserved.contains)
  }

  /** Pure state transition: fold one employee's new messages (event-time
    * order) into the running strike state, emitting log rows for flagged
    * messages. Factored out of the streaming wiring for unit testing.
    */
  def foldMessages(msgs: Seq[Message], st: StrikeState,
                   reserved: Set[String],
                   baseSalary: Double): (StrikeState, Seq[Flagged]) = {
    var s = if (st == null) StrikeState(0, baseSalary, active = true, -1)
            else st
    val out = Seq.newBuilder[Flagged]
    msgs.sortBy(m => (m.ts.getTime, m.message)).foreach { m =>
      // month boundary computed in UTC — toLocalDateTime would use the
      // JVM default zone and make cooldown resets platform-dependent
      val utc = m.ts.toInstant.atZone(java.time.ZoneOffset.UTC)
      val month = utc.getMonthValue + utc.getYear * 12
      // monthly cooldown: reset strikes only on a FORWARD month change
      // (lastMonth stays monotone) unless INACTIVE — a late cross-batch
      // message from a prior month must not clear accumulated strikes or
      // re-trigger resets when in-order traffic resumes
      if (s.lastMonth != -1 && month > s.lastMonth && s.active)
        s = s.copy(strikes = 0)
      s = s.copy(lastMonth = math.max(s.lastMonth, month))
      if (s.active && containsReserved(m.message, reserved)) {
        val strikes = s.strikes + 1
        val salary = s.salary * 0.9 // 10% deduction per flagged message
        val active = strikes < 10
        s = StrikeState(strikes, salary, active, s.lastMonth)
        out += Flagged(m.emp_id, m.message, m.ts, strikes, salary,
          if (active) "Active" else "INACTIVE")
      }
    }
    (s, out.result())
  }

  /** Wire the fold into a streaming query:
    * groupByKey(emp_id).flatMapGroupsWithState — Append mode, one log row
    * per flagged message. `salaries` seeds per-employee base salary
    * (from the dim's updated_salary, reference
    * clean_load_2_tf_staging.py:88-90); defaults to `defaultSalary`.
    */
  def monitor(spark: SparkSession, messages: Dataset[Message],
              reserved: Set[String], salaries: Map[Long, Double],
              defaultSalary: Double = 100000.0): Dataset[Flagged] = {
    import spark.implicits._
    val reservedB = spark.sparkContext.broadcast(reserved)
    val salariesB = spark.sparkContext.broadcast(salaries)
    messages
      .groupByKey(_.emp_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (empId: Long, msgs: Iterator[Message], state: GroupState[StrikeState]) =>
          val st = state.getOption.orNull
          val (next, flagged) = foldMessages(msgs.toSeq, st, reservedB.value,
            salariesB.value.getOrElse(empId, defaultSalary))
          state.update(next)
          flagged.iterator
      }
  }
}
