package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Stateful streaming resample + forward fill: the
  * `flatMapGroupsWithState` twin of graft.llm.Events.resampleFfill.
  *
  * State per user = the open bucket's aggregate (a non-empty bucket is
  * always its own fill baseline). When an event lands in a later bucket
  * than the open one, every bucket in between is emitted — the open
  * bucket with its real aggregate, the gap buckets as zero-count rows
  * carrying the forward-filled value. The open (newest) bucket is held back until a
  * later event closes it, the streaming analogue of the batch
  * operator's span bound: rows are only emitted once their bucket can
  * no longer change.
  *
  * Parity contract (spec-gated): for in-order input, the emitted rows
  * plus the final open bucket per user equal the batch operator's
  * output exactly.
  */
object ResampleStream {

  case class Ev(user_id: Long, event_id: Long, ts_us: Long,
                value: Double)
  case class BucketState(bucketS: Long, nEv: Long, sum: Double)
  case class Bucket(user_id: Long, bucket_s: Long, n_events: Long,
                    bucket_value: Double, fill_value: Double)

  val BucketSec: Long = 3600L
  private val BucketUs = BucketSec * 1000000L

  /** The batch operator's round(sum, 4): Spark's double rounding. */
  private def r4(x: Double): Double = graft.functions.HalfUp.round(x, 4)

  /** Pure per-group transition: emit all buckets strictly before the
    * newest event's bucket; keep the newest open in state.
    *
    * With `idleFlushMs` set (the [[resample]] default), a group whose
    * source goes quiet is timed out by the engine and its open bucket
    * is flushed via [[openBucket]] — without it, the newest bucket per
    * user would be withheld forever on a stream that simply stops.
    */
  def updateUser(userId: Long, events: Iterator[Ev],
                 state: GroupState[BucketState],
                 idleFlushMs: Option[Long] = None): Iterator[Bucket] = {
    if (state.hasTimedOut) {
      val flushed = state.getOption.map(openBucket(_, userId))
      state.remove()
      return flushed.iterator
    }
    var out = List.empty[Bucket]
    var cur = state.getOption
    events.toSeq.sortBy(e => (e.ts_us, e.event_id)).foreach { e =>
      val (next, emitted) = advance(userId, cur, e)
      cur = next
      emitted.foreach(out ::= _)
    }
    cur.foreach(state.update)
    idleFlushMs.foreach(ms => state.setTimeoutDuration(ms))
    out.reverseIterator
  }

  /** Pure single-event transition (emissions in bucket order) — ONE
    * definition shared by the in-order twin and [[OooStream]]'s
    * watermark-reordered variant. An event older than the open bucket
    * is dropped (the documented streaming tradeoff; the Ooo variant's
    * reorder buffer makes that drop impossible within the allowed
    * lateness).
    */
  def advance(userId: Long, cur: Option[BucketState], e: Ev)
      : (Option[BucketState], List[Bucket]) = {
    val b = (e.ts_us / BucketUs) * BucketSec
    cur match {
      case Some(s) if b == s.bucketS =>
        (Some(s.copy(nEv = s.nEv + 1, sum = s.sum + e.value)), Nil)
      case Some(s) if b > s.bucketS =>
        // close the open bucket, then the gap buckets it fills
        val closedFill = r4(s.sum)
        val closed = Bucket(userId, s.bucketS, s.nEv, closedFill,
          closedFill)
        val gaps = Iterator.iterate(s.bucketS + BucketSec)(_ + BucketSec)
          .takeWhile(_ < b)
          .map(g => Bucket(userId, g, 0L, 0.0, closedFill))
          .toList
        (Some(BucketState(b, 1L, e.value)), closed :: gaps)
      case Some(_) => (cur, Nil) // older than the open bucket: dropped
      case None => (Some(BucketState(b, 1L, e.value)), Nil)
    }
  }

  /** The final open bucket a batch backfill would also contain —
    * exposed so tests (and a terminal flush) can complete the parity
    * set.
    */
  def openBucket(s: BucketState, userId: Long): Bucket =
    Bucket(userId, s.bucketS, s.nEv, r4(s.sum), r4(s.sum))

  /** Wire the stateful operator over a streaming Dataset[Ev].
    *
    * By default (idleFlushMs = None) the open bucket per user is held
    * in state until a later event closes it — exactly the batch-parity
    * contract: emitted rows plus the final open bucket equal the batch
    * operator's output, and no (user_id, bucket_s) row is ever emitted
    * twice.
    *
    * `idleFlushMs = Some(ms)` opts into a processing-time idle flush:
    * a group quiet for `ms` has its open bucket emitted and its state
    * dropped, so a stream that simply stops still terminates every
    * user's series. CAVEAT: a group that is merely SLOW (trigger gaps,
    * backpressure, source lag) and then resumes inside the same bucket
    * will emit a SECOND partial row for that (user_id, bucket_s) in
    * Append mode, and the forward-fill baseline is reset — opting in
    * trades the exactly-once bucket contract for liveness.
    */
  def resample(events: Dataset[Ev],
               idleFlushMs: Option[Long] = None): Dataset[Bucket] = {
    import events.sparkSession.implicits._
    val timeout =
      if (idleFlushMs.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, timeout)(
        (uid: Long, evs: Iterator[Ev], st: GroupState[BucketState]) =>
          updateUser(uid, evs, st, idleFlushMs))
  }
}
