package pystreamsspark.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState,
  GroupStateTimeout, OutputMode, StatefulProcessor, TTLConfig, TimeMode,
  TimerValues, ValueState}

/** One event row (mirrors the events table schema after ts conversion). */
case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                 event_type: String, value: Double)

/** Running per-user state for the arbitrary-state example. */
case class UserRunning(user_id: Long, n_events: Long, sum_value: Double)

/** Streaming as-of: probe-side row (asks "latest quote at-or-before my
  * time for my key"). */
case class AsofProbe(event_id: Long, user_id: Long, ts: java.sql.Timestamp)

/** Streaming as-of: quote-side row (the state timeline). */
case class AsofQuote(user_id: Long, ts: java.sql.Timestamp, value: Double)

/** Streaming as-of output; `asof_value` None = no quote at-or-before. */
case class AsofMatch(event_id: Long, user_id: Long,
                     ts: java.sql.Timestamp, asof_value: Option[Double])

/** Internal union row for the streaming as-of (side 0 = quote, 1 = probe). */
case class AsofIn(user_id: Long, ts: java.sql.Timestamp, side: Int,
                  event_id: Long, value: Double)

/** Per-key streaming as-of state: quote timeline (millis, value) and
  * probes still inside the late window. Both lists are bounded by the
  * watermark: quotes older than the carry are evicted each batch,
  * probes leave as soon as the watermark passes them. */
case class AsofKeyState(quotes: List[(Long, Double)],
                        pending: List[(Long, Long)])

/** Streaming near-dup: one incoming document. */
case class NearDupDoc(doc_id: Long, text: String)

/** Streaming near-dup: internal banded row (one per LSH band). */
case class NearDupBanded(bucket: Long, doc_id: Long, sig: Array[Long])

/** Streaming near-dup output: `id_a` arrived no later than `id_b`
  * (first-seen order within the stream); `est` is the MinHash Jaccard
  * estimate from the carried signatures. */
case class NearDupHit(id_a: Long, id_b: Long, est: Double)

/** Per-bucket streaming near-dup state: the signatures of up to
  * `maxPerBucket` representative members seen so far. */
case class NearDupBucketState(members: List[(Long, Array[Long])])

/** Structured-Streaming forms of the event-time operators (SURVEY.md
  * §2.7). Each transform takes a DataFrame that can be EITHER a batch
  * frame or a `readStream` frame — the logical plan is identical; only
  * the sink differs. The batch forms are oracle-checked in
  * `relational.TimeQueries`; the streaming wiring (watermarks, state
  * store, output modes) is smoke-tested with MemoryStream in
  * `StreamingSmokeSpec`.
  *
  * Scale: streaming aggregations shuffle by (window, key) exactly like
  * their batch twins; state lives in the executor-local state store
  * (RocksDB on a real cluster), watermarks bound its size, and
  * `dropDuplicatesWithinWatermark` keeps the dedup state window-bounded
  * instead of unbounded.
  */
object EventStreams {

  /** Tumbling 1-hour counts with a 1-hour watermark. */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("w_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Sliding 1-hour/15-min windows with watermark. */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col("n"))

  /** Session windows (30-min gap) per user with watermark. */
  def sessionCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), col("session_window.start").as("s_start"),
        col("session_window.end").as("s_end"), col("n"))

  /** Streaming daily OHLC bars per event_type — the streaming twin of
    * the batch `AnalyticsQueries.qOhlc`: min_by/max_by on the
    * (ts, event_id) composite inside a watermarked daily window, so a
    * live feed downsamples to the same bars the batch query produces
    * once the watermark closes each day. */
  def ohlcBars(events: DataFrame): DataFrame = {
    val ord = struct(col("ts"), col("event_id"))
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(min_by(col("value"), ord).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max_by(col("value"), ord).as("close"),
        count(lit(1)).as("n"))
      .select(col("window.start").cast("date").as("d"), col("event_type"),
        col("open"), col("high"), col("low"), col("close"), col("n"))
  }

  /** Stateful exact dedup by event_id, state bounded by the watermark. */
  def dedupWithinWatermark(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-stream interval join: each purchase joined to the same
    * user's clicks within the preceding 10 minutes. Watermarks on BOTH
    * sides + the time-range condition bound the join state store (Spark
    * drops buffered rows older than watermark - range). */
  def purchaseClickJoin(purchases: DataFrame, clicks: DataFrame): DataFrame = {
    val p = purchases.withWatermark("ts", "20 minutes")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("p_ts"), col("value"))
    val c = clicks.withWatermark("ts", "20 minutes")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
    p.join(c,
      col("user_id") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 10 MINUTES") &&
        col("c_ts") <= col("p_ts"))
      .select(col("purchase_id"), col("click_id"), col("user_id"),
        col("p_ts"), col("c_ts"))
  }

  /** LEFT OUTER stream-stream join — same watermarked interval
    * condition as [[purchaseClickJoin]], but purchases with NO
    * preceding click still emit (click columns null) once the
    * watermark passes their join window and the runtime can prove no
    * match can arrive. The attribution-with-unattributed-remainder
    * shape: inner drops cold-start purchases, left outer keeps them,
    * and the watermark bound is what keeps the join state finite on an
    * endless stream. */
  def purchaseClickJoinOuter(purchases: DataFrame,
                             clicks: DataFrame): DataFrame = {
    val p = purchases.withWatermark("ts", "20 minutes")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("p_ts"), col("value"))
    val c = clicks.withWatermark("ts", "20 minutes")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
    p.join(c,
      col("user_id") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 10 MINUTES") &&
        col("c_ts") <= col("p_ts"),
      "left_outer")
      .select(col("purchase_id"), col("click_id"), col("user_id"),
        col("p_ts"), col("c_ts"))
  }

  /** Stream-static enrichment join: each streaming event joined to a
    * static dimension table. The static side is planned per micro-batch
    * (broadcast when small — the common dimension-enrichment shape);
    * no watermark or join state is needed because the static side never
    * changes mid-query. At 100 TB/day of events this is THE pattern for
    * attaching user/geo/experiment metadata on ingest. */
  def enrichWithDim(events: DataFrame, dim: DataFrame,
                    key: String): DataFrame =
    events.join(broadcast(dim), Seq(key), "left")

  /** Inactivity-finalized sessions with EVENT-TIME state expiry: per
    * user, accumulate (count, sum); when the watermark passes the
    * user's last event + 30 minutes, the state times out, the finished
    * session is EMITTED ONCE and the state is removed. This is the
    * pattern that keeps arbitrary keyed state bounded on an endless
    * stream — without the timeout, per-key state on 100 TB/day of
    * events grows forever. */
  def finalizedSessions(events: Dataset[Event]): Dataset[UserRunning] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[UserRunning, UserRunning](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[UserRunning]) =>
          if (state.hasTimedOut) {
            val done = state.get
            state.remove() // bounded state: expired keys leave the store
            Iterator.single(done)
          } else {
            val prev = state.getOption.getOrElse(UserRunning(userId, 0L, 0.0))
            var n = prev.n_events
            var s = prev.sum_value
            var maxTs = Long.MinValue
            batch.foreach { e =>
              n += 1; s += e.value; maxTs = math.max(maxTs, e.ts.getTime)
            }
            state.update(UserRunning(userId, n, s))
            // expire 30 min of event time after this user's latest event
            state.setTimeoutTimestamp(maxTs + 30 * 60 * 1000L)
            Iterator.empty
          }
      }
  }

  /** STREAMING as-of join — every probe event picks up the matching
    * quote for its key per `direction`, with out-of-order arrivals
    * handled CORRECTLY up to the watermark — the streaming form of
    * [[pystreamsspark.operators.AsofJoin]] /
    * [[pystreamsspark.plans.BroadcastAsofJoinExec]], which the batch oracles
    * check; `AsofStreamSpec` proves this stream converges to the batch
    * result under adversarial arrival orders, for every direction ×
    * tolerance combination.
    *
    * Directions (identical chooser + tie rules to the batch forms):
    *   - `backward` (default): greatest quote ts <= probe ts; ties on
    *     quote time resolve to the greatest value.
    *   - `forward`: smallest quote ts >= probe ts (same-time quotes DO
    *     match); ties resolve to the greatest value.
    *   - `nearest`: the closer of the backward candidate (<=, greatest
    *     value on ties) and the STRICTLY-forward candidate (>, smallest
    *     value on ties); equal distances go backward — pandas
    *     merge_asof. `tolerance` (µs) filters candidates FIRST, then
    *     the nearest survivor wins.
    *
    * Finality: a probe emits exactly once, when the watermark proves no
    * future arrival can change its answer —
    *   - backward: watermark passes the probe (every quote <= pts is in);
    *   - forward: the candidate quote is itself watermark-final (no
    *     smaller-ts quote can arrive between pts and it), or the whole
    *     `[pts, pts+tolerance]` window is past the watermark (answer is
    *     NULL) — note a forward probe can finalize BEFORE the watermark
    *     reaches its own time, and without a tolerance an unmatched
    *     probe legitimately waits for its key's next quote (the Flink
    *     temporal-join property), draining at the idle timeout;
    *   - nearest: the backward side is fixed (wm > pts) AND either the
    *     forward candidate is fixed, or the backward candidate already
    *     beats every possible future arrival (wm >= pts + backDist —
    *     any later quote is farther, and equal distance goes backward),
    *     or the tolerance window is fully past.
    *
    * Bounded state (the 100 TB/day property): each batch evicts every
    * quote older than the carry below the FLOOR = min(watermark, oldest
    * pending probe) — the floor degenerates to the watermark when no
    * probe waits, giving backward its one-carry steady state; pending
    * probes drain as the watermark moves, and an event-time timeout
    * 30 min past the key's last activity AND its latest pending probe
    * flushes stragglers whose key never sees data again, resolving them
    * against the quotes in hand (idle data treated as complete). The
    * timeout KEEPS the single carry quote — a probe arriving after an
    * idle gap still matches the last state, exactly like the batch
    * result — so steady state is ONE quote row per key plus the
    * in-flight late window: the Flink temporal-join / QuestDB ASOF
    * contract, O(late window) per key, never O(history).
    *
    * All comparisons run at MICROSECOND precision (the batch
    * formulations' unit); emitted timestamps round-trip micros exactly.
    */
  def streamingAsof(
      probes: Dataset[AsofProbe],
      quotes: Dataset[AsofQuote],
      lateness: String = "10 minutes",
      direction: String = "backward",
      tolerance: Option[Double] = None): Dataset[AsofMatch] = {
    val dir = direction match {
      case "backward" => 0
      case "forward" => 1
      case "nearest" => 2
      case other => throw new IllegalArgumentException(
        s"direction must be backward|forward|nearest, got $other")
    }
    val tol = tolerance
    val spark = probes.sparkSession
    import spark.implicits._
    val unioned = probes.map(p => AsofIn(p.user_id, p.ts, 1, p.event_id, 0.0))
      .unionByName(quotes.map(q => AsofIn(q.user_id, q.ts, 0, 0L, q.value)))
      .withWatermark("ts", lateness)

    // micros-exact timestamp codec: the batch formulations compare at µs
    // resolution, so the stream must too (Timestamp.getTime alone drops
    // sub-ms digits and would both mis-match and mangle output rows)
    def toMicros(t: java.sql.Timestamp): Long = {
      val i = t.toInstant
      i.getEpochSecond * 1000000L + i.getNano / 1000L
    }
    def fromMicros(us: Long): java.sql.Timestamp = {
      val t = new java.sql.Timestamp(math.floorDiv(us, 1000000L) * 1000L)
      t.setNanos((math.floorMod(us, 1000000L) * 1000L).toInt)
      t
    }

    // the batch chooser over a (ts, value)-asc quote list: backward =
    // last <= pts (greatest value on its tie run), forward = the tie
    // run at the smallest ts >= pts, greatest value; nearest = backward
    // vs STRICTLY-forward head (smallest value), tolerance-filtered
    // first, equal distances backward
    def answer(sortedQuotes: List[(Long, Double)], pts: Long): Option[Double] =
      dir match {
        case 0 =>
          sortedQuotes.takeWhile(_._1 <= pts).lastOption
            .filter(q => tol.forall(t => (pts - q._1).toDouble <= t))
            .map(_._2)
        case 1 =>
          val run = sortedQuotes.dropWhile(_._1 < pts)
          run.headOption.map(h => run.takeWhile(_._1 == h._1).last)
            .filter(q => tol.forall(t => (q._1 - pts).toDouble <= t))
            .map(_._2)
        case _ =>
          val b = sortedQuotes.takeWhile(_._1 <= pts).lastOption
          val f = sortedQuotes.dropWhile(_._1 <= pts).headOption
          val bD = b.map(q => (pts - q._1).toDouble)
          val fD = f.map(q => (q._1 - pts).toDouble)
          tol match {
            case None =>
              if (f.isEmpty || (b.nonEmpty && bD.get <= fD.get)) b.map(_._2)
              else f.map(_._2)
            case Some(t) =>
              val backOk = b.nonEmpty && bD.get <= t
              val fwdOk = f.nonEmpty && fD.get <= t
              if (fwdOk && !(backOk && bD.get <= fD.get)) f.map(_._2)
              else if (backOk) b.map(_._2)
              else None
          }
      }

    // is this probe's answer immune to every possible future arrival
    // (which, by the watermark contract, has ts >= wm)?
    def isFinal(sortedQuotes: List[(Long, Double)], pts: Long,
        wmUs: Long): Boolean = dir match {
      case 0 =>
        // STRICTLY before the watermark: a quote timed exactly AT the
        // watermark is not yet late and could still arrive
        pts < wmUs
      case 1 =>
        val cand = sortedQuotes.dropWhile(_._1 < pts).headOption
        cand.exists(h => h._1 < wmUs &&
          tol.forall(t => (h._1 - pts).toDouble <= t)) ||
          tol.exists(t => pts.toDouble + t < wmUs.toDouble)
      case _ =>
        if (pts >= wmUs) false // backward side not fixed yet
        else {
          val b = sortedQuotes.takeWhile(_._1 <= pts).lastOption
          val f = sortedQuotes.dropWhile(_._1 <= pts).headOption
          val fFixed = f.exists(_._1 < wmUs)
          // backward wins regardless of future forward arrivals: any
          // quote still to come is >= wm >= pts + backDist away, and
          // equal distances go backward
          val bWins = b.exists(q =>
            tol.forall(t => (pts - q._1).toDouble <= t) &&
              wmUs.toDouble >= pts.toDouble + (pts - q._1).toDouble)
          val noneLeft = tol.exists(t => wmUs.toDouble > pts.toDouble + t)
          fFixed || bWins || noneLeft
        }
    }

    def resolve(sortedQuotes: List[(Long, Double)], uid: Long,
        ready: List[(Long, Long)]): List[AsofMatch] =
      ready.sortBy(identity).map { case (eid, pts) =>
        AsofMatch(eid, uid, fromMicros(pts), answer(sortedQuotes, pts))
      }

    unioned
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[AsofKeyState, AsofMatch](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, batch: Iterator[AsofIn], state: GroupState[AsofKeyState]) =>
          if (state.hasTimedOut) {
            // idle flush: the timeout timestamp covered every pending
            // probe + 30 min, so the watermark now proves them final.
            // KEEP the latest quote as the carry — a probe arriving
            // after the idle gap must still see the last state (batch
            // convergence); one retained row per key, no re-armed timer
            // until the key speaks again.
            val st = state.get
            val sortedQuotes = st.quotes.sortBy(identity)
            val out = resolve(sortedQuotes, uid, st.pending)
            sortedQuotes.lastOption match {
              case Some(carry) => state.update(AsofKeyState(carry :: Nil, Nil))
              case None => state.remove()
            }
            out.iterator
          } else {
            val prev = state.getOption.getOrElse(AsofKeyState(Nil, Nil))
            var quotes = prev.quotes
            var pending = prev.pending
            var maxTsMs = Long.MinValue
            batch.foreach { e =>
              maxTsMs = math.max(maxTsMs, e.ts.getTime)
              if (e.side == 0) quotes = (toMicros(e.ts), e.value) :: quotes
              else pending = (e.event_id, toMicros(e.ts)) :: pending
            }
            val wmUs = state.getCurrentWatermarkMs() * 1000L
            val sortedQuotes = quotes.sortBy(identity)
            val (ready, stillPending) =
              pending.partition(p => isFinal(sortedQuotes, p._2, wmUs))
            val out = resolve(sortedQuotes, uid, ready)
            // evict below the FLOOR = min(watermark, oldest still-
            // pending probe): quotes < floor are final AND wanted by no
            // pending probe's window — only the greatest (the carry)
            // can still be some future probe's backward answer; quotes
            // >= floor keep their full tie runs (pending probes may
            // need any of them, and above wm more may arrive). With no
            // pending probes the floor IS the watermark — the one-carry
            // steady state.
            val floor = stillPending.foldLeft(wmUs)((m, p) => math.min(m, p._2))
            val kept =
              sortedQuotes.takeWhile(_._1 < floor).lastOption.toList :::
                sortedQuotes.filter(_._1 >= floor)
            state.update(AsofKeyState(kept, stillPending))
            // the timer must outlive BOTH the key's last activity and
            // its latest pending probe: a later batch with an older
            // event must never drag the timeout below a pending probe
            // (that would flush it before the watermark proves it final)
            val pendingMaxMs = stillPending.foldLeft(Long.MinValue) {
              (m, p) => math.max(m, math.floorDiv(p._2, 1000L) + 1)
            }
            state.setTimeoutTimestamp(math.max(
              state.getCurrentWatermarkMs() + 1,
              math.max(maxTsMs, pendingMaxMs) + 30 * 60 * 1000L))
            out.iterator
          }
      }
  }

  // ---------------------------------------------------------------------
  // transformWithState forms (Spark 4.x successor API to
  // [flat]mapGroupsWithState): explicit StatefulProcessor lifecycle,
  // named state variables with optional TTL, first-class timers. Both
  // legacy and TWS forms are kept — the semantics are identical
  // (asserted in StreamingSmokeSpec / CheckpointRecoverySpec); TWS is
  // where Spark's state-store features (RocksDB column families, TTL,
  // multiple state vars) land. TWS requires the RocksDB state store
  // provider (tests set spark.sql.streaming.stateStore.providerClass).
  // ---------------------------------------------------------------------

  /** TWS processor: running per-user (count, sum), one output row per
    * input batch of rows per key — same semantics as
    * [[runningUserTotals]]. */
  class RunningTotalsProcessor
      extends StatefulProcessor[Long, Event, UserRunning] {
    @transient private var state: ValueState[UserRunning] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[UserRunning](
        "running", Encoders.product[UserRunning], TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[Event],
                                 timers: TimerValues): Iterator[UserRunning] = {
      val prev = if (state.exists()) state.get() else UserRunning(key, 0L, 0.0)
      var n = prev.n_events
      var s = prev.sum_value
      rows.foreach { e => n += 1; s += e.value }
      val next = UserRunning(key, n, s)
      state.update(next)
      Iterator.single(next)
    }
  }

  /** TWS twin of [[runningUserTotals]]. */
  def runningUserTotalsTws(events: Dataset[Event]): Dataset[UserRunning] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new RunningTotalsProcessor,
        TimeMode.None(), OutputMode.Append())
  }

  /** TWS processor with an EVENT-TIME timer: accumulate per-user
    * (count, sum); (re-)register a timer 30 min of event time past the
    * user's latest event; when the watermark crosses it the session is
    * emitted once and the state cleared — same bounded-state semantics
    * as [[finalizedSessions]], with the timer made explicit. */
  class FinalizedSessionsProcessor
      extends StatefulProcessor[Long, Event, UserRunning] {
    @transient private var state: ValueState[UserRunning] = _
    @transient private var deadline: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      state = getHandle.getValueState[UserRunning](
        "session", Encoders.product[UserRunning], TTLConfig.NONE)
      deadline = getHandle.getValueState[Long](
        "deadline", Encoders.scalaLong, TTLConfig.NONE)
    }
    override def handleInputRows(key: Long, rows: Iterator[Event],
                                 timers: TimerValues): Iterator[UserRunning] = {
      val prev = if (state.exists()) state.get() else UserRunning(key, 0L, 0.0)
      var n = prev.n_events
      var s = prev.sum_value
      var maxTs = Long.MinValue
      rows.foreach { e =>
        n += 1; s += e.value; maxTs = math.max(maxTs, e.ts.getTime)
      }
      state.update(UserRunning(key, n, s))
      // slide the expiry timer to latest event + 30 min (delete the old
      // one — timers are not implicitly replaced like setTimeoutTimestamp)
      if (deadline.exists()) getHandle.deleteTimer(deadline.get())
      val due = maxTs + 30 * 60 * 1000L
      getHandle.registerTimer(due)
      deadline.update(due)
      Iterator.empty
    }
    override def handleExpiredTimer(key: Long, timers: TimerValues,
                                    expired: ExpiredTimerInfo): Iterator[UserRunning] = {
      val done = state.get()
      state.clear()
      deadline.clear()
      Iterator.single(done)
    }
  }

  /** TWS twin of [[finalizedSessions]]. */
  def finalizedSessionsTws(events: Dataset[Event]): Dataset[UserRunning] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .transformWithState(new FinalizedSessionsProcessor,
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Arbitrary keyed state: running per-user (count, sum) emitted on
    * every update — flatMapGroupsWithState with processing-time timeout
    * disabled (the state never expires in the smoke test; production
    * would set an event-time timeout against the watermark). */
  def runningUserTotals(events: Dataset[Event]): Dataset[UserRunning] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[UserRunning, UserRunning](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[UserRunning]) =>
          val prev = state.getOption.getOrElse(UserRunning(userId, 0L, 0.0))
          var n = prev.n_events
          var s = prev.sum_value
          batch.foreach { e => n += 1; s += e.value }
          val next = UserRunning(userId, n, s)
          state.update(next)
          Iterator.single(next)
      }
  }

  /** STREAMING near-duplicate detection — the online form of
    * `Dedup.minHashLsh(verify = "signature")`: every incoming document
    * is checked against EVERYTHING seen so far, emitting
    * (earlier_id, new_id, est) for each pair whose signature estimate
    * clears `threshold`. The ingestion-time dedup filter a 100 TB/day
    * pipeline runs BEFORE paying storage/training cost for a document,
    * where the batch form only cleans after the fact.
    *
    * Shape: signatures and band keys are computed map-side with the
    * same codegen'd natives as the batch path (bit-identical banding,
    * so stream and batch surface the SAME candidate pairs); the stream
    * then groups by LSH BUCKET and keeps per-bucket state = the
    * signatures of up to `maxPerBucket` representative members. A new
    * document compares against its bucket's members only — never the
    * corpus — the exact per-key work of the batch bucket join, done
    * incrementally.
    *
    * State growth, honestly: `maxPerBucket` caps each bucket GROUP at
    * `maxPerBucket` fixed-width signatures (numHashes × 8 B each) — the
    * standard representative-set policy (a bucket overflowing with
    * mutually-similar members gains no detection coverage from member
    * k+1), so a duplicate FLOOD into existing buckets is absorbed at
    * zero state growth. But every distinct document also lands in up to
    * `bands` NEW buckets, so total state across groups grows with the
    * distinct-document count: O(min(docs × bands, 2^32) × cap-bounded
    * members). A long-running ingestion stream of unique docs therefore
    * needs the `stateTtl` eviction policy: a non-empty duration (e.g.
    * "2 hours") expires buckets idle longer than that via a
    * processing-time timeout — dedup coverage becomes a sliding window
    * (a near-dup of a document whose buckets all expired is no longer
    * detected; pick the TTL to cover the ingest dedup horizon), and
    * state is bounded by the arrival rate × TTL. An empty `stateTtl`
    * keeps every bucket forever — exact coverage, state grows with the
    * corpus; use only for bounded streams.
    *
    * Emission notes: a pair sharing several bands is emitted once per
    * DISTINCT shared bucket (buckets are independent state partitions;
    * cross-bucket dedup would need a second stateful stage) — consumers
    * dedupe on (id_a, id_b) or feed `dropDuplicatesWithinWatermark`.
    * Within one bucket a pair is emitted at most once: docs process in
    * doc_id order within a batch and only compare against
    * already-stored members, so the spec's stream≡batch check is on the
    * deduped pair set. */
  def streamingNearDup(docs: Dataset[NearDupDoc], k: Int = 3,
                       numHashes: Int = 32, bands: Int = 8,
                       threshold: Double = 0.7,
                       maxPerBucket: Int = 64,
                       stateTtl: String = ""): Dataset[NearDupHit] = {
    val spark = docs.sparkSession
    import spark.implicits._
    pystreamsspark.functions.VectorExpressions.register(spark)
    val banded = docs.toDF()
      .select(col("doc_id"),
        array_distinct(call_function("shingle_hash",
          pystreamsspark.llm.TextOps.tokens(col("text")), lit(k))).as("sh"))
      .withColumn("sig", call_function("minhash_sig", col("sh"), lit(numHashes)))
      .select(col("doc_id"), col("sig"),
        explode(pystreamsspark.llm.Dedup.lshBandKeys(
          col("sig"), numHashes, bands)).as("bucket"))
      .select(col("bucket"), col("doc_id"), col("sig"))
      .as[NearDupBanded]
    val timeout =
      if (stateTtl.isEmpty) GroupStateTimeout.NoTimeout
      else GroupStateTimeout.ProcessingTimeTimeout
    banded
      .groupByKey(_.bucket)
      .flatMapGroupsWithState[NearDupBucketState, NearDupHit](
        OutputMode.Append, timeout) {
        (_: Long, batch: Iterator[NearDupBanded],
         state: GroupState[NearDupBucketState]) =>
          if (state.hasTimedOut) {
            // TTL eviction: the bucket was idle past stateTtl — drop its
            // representatives (coverage becomes a sliding window)
            state.remove()
            Iterator.empty
          } else {
            var members = state.getOption
              .getOrElse(NearDupBucketState(Nil)).members
            val out = scala.collection.mutable.ListBuffer.empty[NearDupHit]
            // doc_id order makes in-batch pair emission deterministic and
            // matches the batch path's id_a < id_b orientation for docs
            // arriving together
            for (d <- batch.toSeq.sortBy(_.doc_id)
                 if !members.exists(_._1 == d.doc_id)) {
              for ((mid, msig) <- members) {
                var agree = 0
                val n = math.min(msig.length, d.sig.length)
                var i = 0
                while (i < n) { if (msig(i) == d.sig(i)) agree += 1; i += 1 }
                val est = agree.toDouble / numHashes
                if (est >= threshold) out += NearDupHit(mid, d.doc_id, est)
              }
              if (members.size < maxPerBucket)
                members = (d.doc_id, d.sig) :: members
            }
            state.update(NearDupBucketState(members))
            // the idle deadline slides on every batch that touches the
            // bucket; only buckets NOBODY hashes into for stateTtl expire
            if (!stateTtl.isEmpty) state.setTimeoutDuration(stateTtl)
            out.iterator
          }
      }
  }
}
