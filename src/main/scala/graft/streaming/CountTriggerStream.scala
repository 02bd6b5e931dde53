package graft.streaming

import java.time.Instant

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

import graft.{CountFire, UserActivity}

/** A4: count-triggered global window — the one reference operator with no
  * Spark built-in (SURVEY §2.4/§7.4). Flink semantics
  * (FlinkWindowLearning.scala:242-255): `GlobalWindows` +
  * `CountTrigger.of(5)` FIREs without purging, so each firing reports the
  * conditional count over ALL elements seen so far (cumulative, not
  * per-batch-of-5).
  *
  * Implementation: `flatMapGroupsWithState` over a single logical key
  * keeping `(seen, registrations, fires)`. Elements fold in event-time
  * order within each micro-batch (the reference's arrival order IS its
  * event-time order — the replay source emits the file sequentially);
  * cross-batch order is micro-batch arrival order, same as any streaming
  * engine's.
  *
  * Scale note: a global count trigger is inherently sequential — Flink
  * runs it at parallelism 1 too (windowAll). State is three longs, so the
  * single-key bottleneck is cosmetic; the keyed variant [[firesPerKey]]
  * is the form that parallelizes (per-key counters hash-partition).
  */
object CountTriggerStream {

  /** The operator's one step, pure: fold `events` in event-time order
    * into the `(seen, registrations, fires)` counter, firing on every
    * `every`-th element. Returns the new counter and the fires emitted.
    */
  private def step(every: Int, counter: (Long, Long, Long),
      events: Iterator[UserActivity]): ((Long, Long, Long), Seq[CountFire]) = {
    var (seen, regs, fires) = counter
    val out = Seq.newBuilder[CountFire]
    events.toSeq.sortBy(a => Instant.parse(a.timestamp)).foreach { a =>
      seen += 1
      if (a.activity == "register") regs += 1
      if (seen % every == 0) {
        fires += 1
        out += CountFire(fires, seen, regs)
      }
    }
    ((seen, regs, fires), out.result())
  }

  private def fold(every: Int)(
      events: Iterator[UserActivity],
      state: GroupState[(Long, Long, Long)]): Iterator[CountFire] = {
    val (next, out) = step(every, state.getOption.getOrElse((0L, 0L, 0L)), events)
    state.update(next)
    out.iterator
  }

  /** Global count-trigger fires. Works on batch Datasets too (one pass,
    * empty initial state) — batch and final-streaming results agree.
    */
  def fires(spark: SparkSession, ds: Dataset[UserActivity], every: Int = 5): Dataset[CountFire] = {
    import spark.implicits._
    ds.groupByKey(_ => 0)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_: Int, it: Iterator[UserActivity], st: GroupState[(Long, Long, Long)]) =>
          fold(every)(it, st))
  }

  /** The same operator on Spark 4's `transformWithState` API
    * (StatefulProcessor + typed ValueState, RocksDB-backed): the
    * modern replacement for flatMapGroupsWithState — explicit state
    * handles, TTL support, timers. Semantics identical to [[fires]].
    */
  class CountTriggerProcessor(every: Int)
      extends StatefulProcessor[Int, UserActivity, CountFire] {
    @transient private var state: ValueState[(Long, Long, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState("counter",
        Encoders.product[(Long, Long, Long)], TTLConfig.NONE)

    override def handleInputRows(key: Int, rows: Iterator[UserActivity],
        timerValues: TimerValues): Iterator[CountFire] = {
      val (next, out) =
        step(every, if (state.exists()) state.get() else (0L, 0L, 0L), rows)
      state.update(next)
      out.iterator
    }
  }

  /** [[fires]] via transformWithState (requires the RocksDB state store
    * provider, bundled with Spark).
    */
  def firesTws(spark: SparkSession, ds: Dataset[UserActivity],
      every: Int = 5): Dataset[CountFire] = {
    import spark.implicits._
    ds.groupByKey(_ => 0)
      .transformWithState(new CountTriggerProcessor(every),
        TimeMode.None(), OutputMode.Append())
  }

  /** Keyed count-trigger: independent every-N counters per activity —
    * the hash-partitioned form that scales out.
    */
  def firesPerKey(spark: SparkSession, ds: Dataset[UserActivity],
      every: Int = 5): Dataset[(String, CountFire)] = {
    import spark.implicits._
    ds.groupByKey(_.activity)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (key: String, it: Iterator[UserActivity], st: GroupState[(Long, Long, Long)]) =>
          fold(every)(it, st).map(key -> _))
  }
}
