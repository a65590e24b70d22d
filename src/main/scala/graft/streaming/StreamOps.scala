package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming variants of the event operators: the same
  * semantics as the batch `ev_sessionize` / `ev_window_agg` queries,
  * expressed as incremental plans (SURVEY §2 #34).
  *
  * Inputs use the events schema with `ts` as epoch-nanos Long (see
  * Tables.events). Spec-tested via MemoryStream; not oracle-able
  * (DuckDB has no incremental executor).
  */
object StreamOps {

  final case class Event(event_id: Long, ts: Long, user_id: Long,
                         event_type: String, value: Double)

  final case class SessionState(sessionId: Long, lastTs: Long, count: Long)

  final case class SessionUpdate(user_id: Long, session_id: Long, n_events: Long)

  val GapNanos: Long = 1800L * 1000 * 1000 * 1000

  final case class CmEvent(event_type: String)

  /** Count-min sketch cells as ONE aggregation usable in BOTH batch
    * and streaming plans: each event fans into `depth` (d, cell) rows
    * map-side, and the groupBy state is the ≤ depth·width mergeable
    * cell table — so under Structured Streaming (Complete mode) the
    * sketch is incrementally correct across micro-batches with O(d·w)
    * state regardless of stream length. The batch `ev_countmin` query
    * builds its cells through this SAME function, which is the
    * batch-equality guarantee the streaming spec asserts.
    */
  def countMinCells(events: DataFrame, depth: Int = 4, width: Int = 64): DataFrame =
    events.select(col("event_type"),
        explode(sequence(lit(0), lit(depth - 1))).as("d"))
      .withColumn("cell", pmod(graft.functions.VectorFunctions.md5Long(
        concat(lit("cm"), col("d").cast("string"), lit(":"), col("event_type"))),
        lit(width)))
      .groupBy("d", "cell").agg(count(lit(1)).as("cnt"))

  /** Tumbling 1h windowed counts with a 30min watermark. `ts` nanos →
    * timestamp for the watermark clock; at scale this is a streaming
    * partial-agg with state keyed by (window, event_type).
    */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withColumn("event_time", timestamp_micros((col("ts") / 1000).cast("long")))
      .withWatermark("event_time", "30 minutes")
      .groupBy(window(col("event_time"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("sum_value"))

  /** Session windows via the built-in `session_window` (dynamic-gap
    * merging inside the engine's streaming state store) — the
    * declarative sibling of [[sessionize]]; works identically over a
    * batch DataFrame (spec asserts it matches the window-lag
    * formulation's session structure).
    */
  def sessionWindowCounts(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .withColumn("event_time", timestamp_micros((col("ts") / 1000).cast("long")))
      .withWatermark("event_time", gap)
      .groupBy(col("user_id"), session_window(col("event_time"), gap))
      .agg(count(lit(1)).as("n_events"))

  /** Gap-based sessionization with explicit keyed state
    * (mapGroupsWithState): emits the running session id + count per
    * user on every micro-batch. State is O(1) per user — safe for
    * billions of keys with state-store backing.
    */
  def sessionize(events: Dataset[Event]): Dataset[SessionUpdate] = {
    val s = events.sparkSession
    import s.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState[SessionState, SessionUpdate](
        GroupStateTimeout.NoTimeout) {
        case (userId, evts, state: GroupState[SessionState]) =>
          val sorted = evts.toSeq.sortBy(e => (e.ts, e.event_id))
          var st = state.getOption.getOrElse(SessionState(0L, Long.MinValue, 0L))
          sorted.foreach { e =>
            st =
              if (st.lastTs == Long.MinValue || e.ts - st.lastTs > GapNanos)
                SessionState(st.sessionId + 1, e.ts, 1L)
              else st.copy(lastTs = e.ts, count = st.count + 1)
          }
          state.update(st)
          SessionUpdate(userId, st.sessionId, st.count)
      }
  }

  final case class HashedDoc(doc_id: Long, h: String)

  final case class SeenState(keep_id: Long, n_dups: Long)

  /** Streaming exact dedup of an ingest firehose: state keyed by
    * content hash; only the FIRST document with a given hash is
    * emitted, later arrivals (across and within micro-batches) only
    * bump the duplicate counter. State is O(1) per distinct hash —
    * the streaming face of the batch `dedup_exact` operator, for
    * pipelines that must drop dups before paying storage/embedding
    * cost. Within a batch the smallest doc_id wins (same tie-break as
    * the batch operator).
    */
  def streamingDedup(docs: Dataset[HashedDoc]): Dataset[HashedDoc] = {
    val s = docs.sparkSession
    import s.implicits._
    docs.groupByKey(_.h)
      .flatMapGroupsWithState[SeenState, HashedDoc](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        case (h, it, state: GroupState[SeenState]) =>
          val batch = it.toSeq.sortBy(_.doc_id)
          state.getOption match {
            case Some(seen) =>
              state.update(seen.copy(n_dups = seen.n_dups + batch.size))
              Iterator.empty
            case None =>
              state.update(SeenState(batch.head.doc_id, (batch.size - 1).toLong))
              Iterator.single(HashedDoc(batch.head.doc_id, h))
          }
      }
  }

  final case class BandKey(b: Int, bv: String, doc_id: Long)

  final case class BucketState(ids: Array[Long])

  final case class DupCand(da: Long, db: Long)

  /** Band keys for the streaming near-dup: map-side MinHash signature
    * (Dedup.minhashSignaturesMapSide — no shuffle) split into
    * `k / rows` banded values per doc. The whole transform is a
    * scan-side projection, so the only stateful stage in the query is
    * the bucket state below.
    */
  def bandKeys(docs: DataFrame, n: Int, k: Int, rows: Int): DataFrame = {
    val nBands = k / rows
    val bandCols = (0 until nBands).map { b =>
      concat_ws("_", (0 until rows).map(r => col(s"m${b * rows + r}")): _*)
    }
    graft.dedup.Dedup.minhashSignaturesMapSide(docs, n, k)
      .select(col("doc_id"), posexplode(array(bandCols: _*)).as(Seq("b", "bv")))
  }

  /** Streaming MinHash-LSH near-dup: state keyed by (band, band
    * value) holds the doc ids seen in that bucket; every new arrival
    * emits a candidate pair against each resident — the incremental
    * face of the batch `dedup_minhash_lsh` operator, for catching
    * near-duplicates at ingest time before they reach storage.
    * Pairs may repeat across bands and micro-batches (buckets are
    * independent); consumers `distinct()` downstream, exactly like
    * the batch banded join. `maxPerBucket` caps state per bucket —
    * beyond it new arrivals still pair against the capped residents
    * (recall within a bucket degrades gracefully instead of state
    * growing unboundedly; a bucket that hot is a stop-shingle
    * pathology, see ngramJaccardCapped).
    */
  def streamingNearDup(bands: Dataset[BandKey], maxPerBucket: Int = 1024)
      : Dataset[DupCand] = {
    val s = bands.sparkSession
    import s.implicits._
    bands.groupByKey(bk => (bk.b, bk.bv))
      .flatMapGroupsWithState[BucketState, DupCand](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        case (_, it, state: GroupState[BucketState]) =>
          var ids = state.getOption.map(_.ids).getOrElse(Array.empty[Long])
          val out = Seq.newBuilder[DupCand]
          it.toSeq.map(_.doc_id).distinct.sorted.foreach { id =>
            if (!ids.contains(id)) {
              ids.foreach(prev =>
                out += DupCand(math.min(prev, id), math.max(prev, id)))
              if (ids.length < maxPerBucket) ids = ids :+ id
            }
          }
          state.update(BucketState(ids))
          out.result().iterator
      }
  }

  final case class BloomDoc(doc_id: Long, h: String)

  final case class BloomFlag(doc_id: Long, h: String, bloom_hit: Boolean)

  /** Per-shard 1024-bit filter segment: 16 longs of state per key. */
  final case class BloomState(bits: Array[Long])

  /** Streaming bloom dedup screen — the incremental twin of the batch
    * dedup_bloom_incremental: the 2^16-bit filter is SHARDED by the
    * content hash (64 shards × 1024 bits = 16 longs of state per
    * shard, so total state is the filter size regardless of stream
    * length), each doc's 3 probe positions land inside its own
    * shard's segment, and a doc is flagged when all 3 bits were
    * already set by SOME earlier doc. Docs inside one micro-batch
    * fold in doc_id order, so replaying the same stream reproduces
    * the same flags. A bloom never un-sets bits — no false negatives,
    * same as the batch screen (spec-pinned).
    */
  def streamingBloomDedup(docs: Dataset[BloomDoc]): Dataset[BloomFlag] = {
    val s = docs.sparkSession
    import s.implicits._
    // shard from an MD5 of h (like positions() below) rather than
    // parsing h as hex: a short or non-hex h would otherwise throw
    // NumberFormatException inside groupByKey and kill the query
    def shard(h: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$h:shard".getBytes("UTF-8"))
      val top = md.take(8).foldLeft(0L)((a, b) => (a << 8) | (b & 0xffL)) >>> 4
      top % 64L
    }
    def positions(h: String): Seq[Int] = (0 to 2).map { k =>
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$h:$k".getBytes("UTF-8"))
      // first 60 bits as non-negative long, inside the shard segment
      val top = md.take(8).foldLeft(0L)((a, b) => (a << 8) | (b & 0xffL)) >>> 4
      (top % 1024L).toInt
    }
    docs.groupByKey(d => shard(d.h))
      .flatMapGroupsWithState[BloomState, BloomFlag](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        case (_, it, state: GroupState[BloomState]) =>
          val bits = state.getOption.map(_.bits).getOrElse(Array.fill(16)(0L))
          val out = it.toSeq.sortBy(_.doc_id).map { d =>
            val ps = positions(d.h)
            val hit = ps.forall(p => (bits(p >> 6) & (1L << (p & 63))) != 0)
            ps.foreach(p => bits(p >> 6) |= 1L << (p & 63))
            BloomFlag(d.doc_id, d.h, hit)
          }
          state.update(BloomState(bits))
          out.iterator
      }
  }

  final case class ConfEvent(event_id: Long, ts: Long, user_id: Long,
                             event_type: String)

  final case class Transition(user_id: Long, from_type: String,
                              to_type: String, is_allowed: Boolean)

  final case class LastEvent(ts: Long, event_id: Long, event_type: String)

  /** Streaming process-conformance feed — the incremental twin of the
    * batch ev_conformance: ONE (ts, event_id, type) triple of keyed
    * state per user carries the previous event across micro-batches,
    * every arriving event emits its (from, to) transition classified
    * against the allowed-transition model, and a downstream count by
    * cell reproduces the batch transition-cell table exactly when the
    * stream respects per-user (ts, event_id) order (spec-pinned).
    */
  def streamingConformance(events: Dataset[ConfEvent],
                           allowed: Set[String]): Dataset[Transition] = {
    val s = events.sparkSession
    import s.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[LastEvent, Transition](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        case (uid, it, state: GroupState[LastEvent]) =>
          val batch = it.toSeq.sortBy(e => (e.ts, e.event_id))
          var last = state.getOption.orNull
          val out = Seq.newBuilder[Transition]
          batch.foreach { e =>
            if (last != null) {
              out += Transition(uid, last.event_type, e.event_type,
                allowed.contains(s"${last.event_type}>${e.event_type}"))
            }
            last = LastEvent(e.ts, e.event_id, e.event_type)
          }
          if (last != null) state.update(last)
          out.result().iterator
      }
  }

  /** Streaming windowed top-k ("trending now"): per-hour event counts
    * per user, then the k most active users per hour — TWO chained
    * stateful aggregations (Spark 3.4+ append-mode support for
    * stacked time-window aggregates), with the second stage's state
    * bounded at k rows per window by the TopK partial aggregate. The
    * shuffle between stages carries one row per (window, user); the
    * sink receives k rows per window when the watermark closes it.
    */
  def windowedTopUsers(events: DataFrame, k: Int): DataFrame =
    events
      .withColumn("event_time", timestamp_micros((col("ts") / 1000).cast("long")))
      .withWatermark("event_time", "30 minutes")
      .groupBy(window(col("event_time"), "1 hour"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .groupBy(window(col("window"), "1 hour"))
      .agg(graft.ops.TopK.topk(k)(col("n").cast("double"), col("user_id"))
        .as("top_users"))

  final case class EwmaEvent(event_id: Long, ts: Long, user_id: Long,
                             value: Option[Double])

  /** Ring of the last `lags-1` observed values per user, most recent
    * first; `mask(i)` false marks a null observation (which still
    * OCCUPIES a lag slot — matching the batch operator's row-based
    * `lag()`). `frontier` is the newest event time already folded
    * (round 15 — new checkpoint dir required, see [[Scd2State]]).
    */
  final case class EwmaRing(vals: Array[Double], mask: Array[Boolean],
                            frontier: Long)

  final case class EwmaPoint(user_id: Long, event_id: Long,
                             v: Option[Double], ewma: Option[Double])

  /** Streaming twin of the batch `ev_ewma_bounded` smoother: the
    * 8-lag bounded EWMA per user as keyed state. The bounded-lookback
    * form was chosen in the batch operator precisely because it
    * streams: state is the last 7 observations per user — O(1) per
    * key — where a truly recursive EWMA's value depends on the entire
    * history. Weights are α(1-α)^k over the lags whose value is
    * non-null, renormalized (all-null window → null, same guard as
    * the batch query). Emits one smoothed point per input event.
    *
    * LATE-DATA POLICY (spec-pinned in StreamingSpec): the state
    * carries a per-user event-time frontier; an event arriving in a
    * later micro-batch with ts < frontier is DROPPED. The lag window
    * is positional — a late event belongs in the MIDDLE of the ring,
    * and points smoothed over the un-inserted ring have already been
    * emitted to the append sink, so retro-inserting could only make
    * state and emitted history disagree. Within one micro-batch,
    * events sort by (ts, event_id) before folding, so intra-batch
    * disorder is harmless. Production bounds lateness with an
    * upstream watermark; beyond it, this is the degrade.
    */
  def streamingEwma(events: Dataset[EwmaEvent], alpha: Double = 0.5,
                    lags: Int = 8): Dataset[EwmaPoint] = {
    val s = events.sparkSession
    import s.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[VersionedState, EwmaPoint](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (uid, it, state: GroupState[VersionedState]) =>
          val st0 = state.getOption.map(StateCodecs.EwmaCodec.decode)
          var ring: Vector[Option[Double]] = st0 match {
            case Some(r) =>
              r.vals.lazyZip(r.mask).map((v, m) => if (m) Some(v) else None).toVector
            case None => Vector.empty
          }
          var frontier = st0.map(_.frontier).getOrElse(Long.MinValue)
          val out = it.toSeq.sortBy(e => (e.ts, e.event_id))
            .dropWhile(_.ts < frontier) // late vs a PRIOR batch: drop
            .map { e =>
            frontier = math.max(frontier, e.ts)
            val win = (e.value +: ring).take(lags)
            var num = 0.0; var den = 0.0
            win.zipWithIndex.foreach { case (ov, k) =>
              val w = alpha * math.pow(1 - alpha, k)
              ov.foreach { v => num += v * w; den += w }
            }
            val ewma =
              if (den == 0) None
              else if ((num / den).isNaN || (num / den).isInfinite) Some(num / den)
              else Some(java.math.BigDecimal.valueOf(num / den)
                .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue())
            ring = (e.value +: ring).take(lags - 1)
            EwmaPoint(e.user_id, e.event_id, e.value, ewma)
          }
          state.update(StateCodecs.EwmaCodec.encode(
            EwmaRing(ring.map(_.getOrElse(0.0)).toArray,
              ring.map(_.isDefined).toArray, frontier)))
          out.iterator
      }
  }

  final case class DebEvent(event_id: Long, ts: Long, user_id: Long,
                            event_type: String)

  /** Streaming twin of the batch `ev_debounce` query: throttle-style
    * dedup as keyed state — per (user, type) the state is ONE long
    * (the previous RAW event's ts), so memory is O(active keys).
    * Emits only the kept events; an event is kept when it arrives
    * more than `gapNs` after the previous raw event of its key,
    * matching the batch lag-window semantics exactly (per-key
    * in-order arrival, the sessionize contract).
    */
  def streamingDebounce(events: Dataset[DebEvent],
                        gapNs: Long = 5000000000L): Dataset[DebEvent] = {
    val s = events.sparkSession
    import s.implicits._
    events.groupByKey(e => (e.user_id, e.event_type))
      .flatMapGroupsWithState[Long, DebEvent](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (_, it, state: GroupState[Long]) =>
          var last: Option[Long] = state.getOption
          val out = it.toSeq.sortBy(e => (e.ts, e.event_id)).flatMap { e =>
            val keep = last.forall(l => e.ts - l > gapNs)
            last = Some(e.ts)
            if (keep) Some(e) else None
          }
          last.foreach(state.update)
          out.iterator
      }
  }

  final case class Scd2Event(event_id: Long, ts: Long, user_id: Long,
                             event_type: String)
  /** CHECKPOINT COMPATIBILITY (r16): every state class that has ever
    * evolved (this one and [[CusumState]] gained fields in r14;
    * [[EwmaRing]]/[[LocfState]]/[[BollState]]/[[PhState]]/
    * [[KalmanState]] in r15) now checkpoints through the
    * [[VersionedState]] envelope — the stored schema is permanently
    * (ver INT, payload BINARY) and field evolution happens in the
    * operator's [[StateCodecs]] codec (bump `version`, decode older
    * versions with defaults). Adding a field therefore NO LONGER
    * requires a new checkpoint directory (the old rule, which
    * silently discarded state). The envelope adoption itself was the
    * one final schema break per operator; states stable since birth
    * (SessionState, SeenState, …) adopt the envelope the same way on
    * their first change. Both the old failure mode and the envelope's
    * cross-version restart are pinned in StreamingSpec. */
  final case class Scd2State(eventId: Long, eventType: String, since: Long,
                             frontier: Long)
  final case class Scd2Closed(user_id: Long, event_id: Long,
                              event_type: String, valid_from: Long,
                              valid_to: Long)

  /** Streaming twin of the batch `ev_scd2` query, emitting CLOSED
    * validity intervals as they close (the CDC/dimension-history
    * feed): keyed state is ONE (event_id, type, since) triple per
    * user, a type change closes the open interval and emits it, and
    * the still-open interval lives in state — exactly the batch
    * query's NULL-valid_to rows. Timestamps stay in nanos here; the
    * batch query emits micros only for its DuckDB oracle.
    *
    * LATE-DATA POLICY (spec-pinned in StreamingSpec): the state
    * carries a per-user event-time frontier = the newest timestamp
    * already processed; an event arriving in a later micro-batch
    * with ts < frontier is DROPPED. Once an interval has been
    * emitted to the append sink it cannot be retracted, so replaying
    * history below the frontier could only corrupt the emitted
    * timeline (a valid_to earlier than rows already downstream).
    * Within one micro-batch, out-of-order events are fine — the
    * group sorts by (ts, event_id) before folding. Production bounds
    * how long state waits for stragglers with an upstream watermark;
    * the drop rule here is what that watermark's lateness bound
    * degrades to for events beyond it.
    */
  def streamingScd2(events: Dataset[Scd2Event]): Dataset[Scd2Closed] = {
    val s = events.sparkSession
    import s.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[VersionedState, Scd2Closed](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (uid, it, state: GroupState[VersionedState]) =>
          var cur = state.getOption.map(StateCodecs.Scd2Codec.decode)
          var frontier = cur.map(_.frontier).getOrElse(Long.MinValue)
          val out = scala.collection.mutable.ArrayBuffer.empty[Scd2Closed]
          it.toSeq.sortBy(e => (e.ts, e.event_id))
            .dropWhile(_.ts < frontier) // late vs a PRIOR batch: drop
            .foreach { e =>
            frontier = math.max(frontier, e.ts)
            cur match {
              case Some(st) if st.eventType != e.event_type =>
                out += Scd2Closed(uid, st.eventId, st.eventType, st.since, e.ts)
                cur = Some(Scd2State(e.event_id, e.event_type, e.ts, frontier))
              case Some(st) => // same type: the open interval continues
                cur = Some(st.copy(frontier = frontier))
              case None =>
                cur = Some(Scd2State(e.event_id, e.event_type, e.ts, frontier))
            }
          }
          cur.foreach(s => state.update(StateCodecs.Scd2Codec.encode(s)))
          out.iterator
      }
  }

  final case class SeasEvent(event_id: Long, ts: Long,
                             event_type: String, value: Double)

  /** Per-(type, hour-of-day) μ/σ baseline — the static half of the
    * seasonal anomaly detector, identical to the profile the batch
    * `ts_seasonal` query builds internally.
    */
  def seasonalProfile(events: DataFrame): DataFrame =
    events.withColumn("hod", expr("(ts DIV 3600000000000) % 24"))
      .groupBy(col("event_type").as("et"), col("hod").as("h"))
      .agg(avg("value").as("mu"), stddev("value").as("sd"))

  /** Stream-static twin of the batch `ts_seasonal` query: the
    * baseline profile is computed once from history and broadcast;
    * arriving events join it MAP-SIDE and are flagged when |z| > 3.
    * Zero streaming state — the detector is embarrassingly parallel
    * at any event rate, and refreshing the baseline is just
    * restarting the query with a new static side.
    */
  def streamingSeasonalFlags(events: Dataset[SeasEvent],
                             profile: DataFrame): DataFrame =
    events.toDF()
      .withColumn("hod", expr("(ts DIV 3600000000000) % 24"))
      .join(broadcast(profile),
        col("event_type") === col("et") && col("hod") === col("h"))
      .select(col("event_id"), col("event_type"),
        (abs((col("value") - col("mu")) / col("sd")) > lit(3.0)).as("anom"))

  final case class CusumDay(event_type: String, day: Long, cnt: Long,
                            mu: Double)

  final case class CusumState(cusum: Double, maxAbs: Double, argDay: Long,
                              lastDay: Long)

  final case class CusumUpdate(event_type: String, day: Long, cusum: Double,
                               max_abs: Double, change_day: Long)

  /** Streaming twin of the batch `ts_cusum` changepoint tracker: the
    * input is the per-(type, day) count rollup (the upstream windowed
    * agg) already joined to a STATIC baseline μ per type — the
    * stream-static idiom of [[streamingSeasonalFlags]]. Keyed state
    * is three numbers per event_type (running cusum, max |cusum|,
    * its argmax day), so memory is O(|types|) at any event rate.
    * Strict `>` on the max keeps the FIRST maximal day — the same
    * tie-break as the batch row_number (abs desc, day asc). Arrival
    * contract: per-type in-order days within and across batches
    * (same as [[sessionize]]); each day emits one update carrying
    * the changepoint-so-far.
    *
    * LATE-DATA POLICY (spec-pinned in StreamingSpec): the state
    * carries the last processed day; a rollup row arriving in a
    * later micro-batch with day <= lastDay is DROPPED — a cusum is a
    * prefix sum, so accepting a late day out of order would fold it
    * into the wrong prefix and silently shift every subsequent
    * update (and a duplicate day would double-count). Within one
    * micro-batch, days sort before folding, so intra-batch disorder
    * is harmless. Production bounds lateness at the upstream
    * windowed rollup's watermark; beyond it, this is the degrade.
    */
  def streamingCusum(days: Dataset[CusumDay]): Dataset[CusumUpdate] = {
    val s = days.sparkSession
    import s.implicits._
    days.groupByKey(_.event_type)
      .flatMapGroupsWithState[VersionedState, CusumUpdate](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (et, it, state: GroupState[VersionedState]) =>
          var st = state.getOption.map(StateCodecs.CusumCodec.decode).getOrElse(
            CusumState(0.0, -1.0, -1L, Long.MinValue))
          val out = it.toSeq.sortBy(_.day)
            .dropWhile(_.day <= st.lastDay) // late/duplicate day: drop
            .map { d =>
            val c = st.cusum + (d.cnt - d.mu)
            st = if (math.abs(c) > st.maxAbs)
              CusumState(c, math.abs(c), d.day, d.day)
            else st.copy(cusum = c, lastDay = d.day)
            CusumUpdate(et, d.day, c, st.maxAbs, st.argDay)
          }
          state.update(StateCodecs.CusumCodec.encode(st))
          out.iterator
      }
  }

  final case class GrowthEvent(event_id: Long, ts: Long, user_id: Long)

  final case class GrowthUpdate(user_id: Long, wk: Long, status: String)

  /** Streaming twin of the batch `ev_growth_accounting`
    * classification: keyed state is ONE last-active-week long per
    * user; each NEW active week emits that user's (week, status)
    * transition — new / retained / resurrected — which a downstream
    * weekly rollup turns into the batch accounting table (churned(w)
    * = active(w−1) − retained(w) is derived there, so it needs no
    * extra state). Same arrival contract as [[sessionize]] (per-user
    * in-order across micro-batches); within a batch the week set is
    * deduped and processed in order, so event volume per week never
    * changes the output.
    */
  def streamingGrowth(events: Dataset[GrowthEvent]): Dataset[GrowthUpdate] = {
    val s = events.sparkSession
    import s.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[Long, GrowthUpdate](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (uid, it, state: GroupState[Long]) =>
          var last: Option[Long] = state.getOption
          val out = scala.collection.mutable.ArrayBuffer.empty[GrowthUpdate]
          it.map(_.ts / 604800000000000L).toSeq.distinct.sorted.foreach { wk =>
            last match {
              case None =>
                out += GrowthUpdate(uid, wk, "new"); last = Some(wk)
              case Some(lw) if wk > lw =>
                out += GrowthUpdate(uid, wk,
                  if (wk == lw + 1) "retained" else "resurrected")
                last = Some(wk)
              case _ => () // week already counted
            }
          }
          last.foreach(state.update)
          out.iterator
      }
  }

  final case class AttrEvent(event_id: Long, ts: Long, user_id: Long,
                             event_type: String, value: Double, k: Long)

  final case class LastClick(k: Long, set: Boolean)

  final case class Attribution(user_id: Long, event_id: Long,
                               campaign: Long, value: Double)

  /** Streaming twin of the batch `ev_attribution` query: last-touch
    * attribution as keyed state — the per-user state is ONE value
    * (the latest click's campaign key), updated on clicks and read on
    * purchases, so memory is O(users) regardless of event volume.
    * Same arrival contract as [[sessionize]] (per-user in-order);
    * emits one attributed row per purchase.
    */
  def streamingAttribution(events: Dataset[AttrEvent]): Dataset[Attribution] = {
    val s = events.sparkSession
    import s.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[LastClick, Attribution](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (uid, it, state: GroupState[LastClick]) =>
          var lc = state.getOption.getOrElse(LastClick(0L, set = false))
          val out = scala.collection.mutable.ArrayBuffer.empty[Attribution]
          it.toSeq.sortBy(e => (e.ts, e.event_id)).foreach { e =>
            e.event_type match {
              case "click" => lc = LastClick(e.k, set = true)
              case "purchase" =>
                out += Attribution(uid, e.event_id,
                  if (lc.set) math.floorMod(lc.k, 10L) else -1L, e.value)
              case _ => ()
            }
          }
          state.update(lc)
          out.iterator
      }
  }

  final case class ConvState(su: Long, pu: Long, emitted: Boolean)

  final case class Conversion(user_id: Long, lag_h: Double)

  /** Streaming twin of the batch `ev_conversion_lag` pairing: per-user
    * state is two timestamps (first signup, first purchase) and an
    * emitted flag — O(1) per user; a conversion row is emitted exactly
    * once, when both firsts are known and signup ≤ purchase. Unlike
    * the batch query (which reports latency percentiles), the stream
    * emits the raw per-user latencies — feed them to the streaming
    * quantile sketch for the percentile view. In-order arrival is NOT
    * required here: min-tracking is order-insensitive, but a
    * conversion emitted early with a provisional first-purchase is
    * not (hence emit-once only fires on the final minimum seen so
    * far; late earlier-events can in principle shrink the true lag —
    * the same caveat as any watermarkless first-event metric).
    */
  def streamingConversionLag(events: Dataset[Event]): Dataset[Conversion] = {
    val s = events.sparkSession
    import s.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[ConvState, Conversion](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (uid, it, state: GroupState[ConvState]) =>
          var st = state.getOption.getOrElse(
            ConvState(Long.MaxValue, Long.MaxValue, emitted = false))
          it.foreach { e =>
            e.event_type match {
              case "signup"   => st = st.copy(su = math.min(st.su, e.ts))
              case "purchase" => st = st.copy(pu = math.min(st.pu, e.ts))
              case _          => ()
            }
          }
          val out =
            if (!st.emitted && st.su != Long.MaxValue && st.pu != Long.MaxValue &&
                st.pu >= st.su) {
              st = st.copy(emitted = true)
              Iterator.single(Conversion(uid, (st.pu - st.su) / 3.6e12))
            } else Iterator.empty
          state.update(st)
          out
      }
  }

  /** Streaming training-data prep: PII scrub → normalize →
    * quality-filter → first-seen exact dedup on the NORMALIZED
    * content hash of the SCRUBBED text, end to end as one incremental
    * plan. Everything before the stateful dedup is a map-side
    * projection/filter (no streaming aggregation in front of the
    * state op — the composition that actually deploys); spec asserts
    * batch-equivalence against the same stages run as a batch plan.
    * Scrub-before-hash matters: two docs differing only in the PII
    * they leak are the same training document.
    */
  def prepPipeline(docs: DataFrame, minQuality: Double,
                   rules: Seq[graft.text.Pii.Rule] = graft.text.Pii.defaultRules)
      : Dataset[HashedDoc] = {
    val s = docs.sparkSession
    import s.implicits._
    import graft.text.TextAnalytics
    val scrubbed = graft.text.Pii.redact(docs, "text", rules)
      .select(col("doc_id"), col("redacted").as("text"))
    val toks = graft.text.TextPrimitives.tokens(col("text"))
    val quality = (least(size(toks), lit(100)) / lit(100.0)) *
      (lit(1.0) - size(regexp_extract_all(col("text"), lit("[.,;:!?]"), lit(0))) *
        lit(1.0) / greatest(length(col("text")), lit(1))) *
      (lit(0.2) + lit(0.8) * (size(filter(toks, t => t.isin(TextAnalytics.Stopwords: _*))) *
        lit(1.0) / greatest(size(toks), lit(1))))
    streamingDedup(
      scrubbed.filter(quality >= minQuality)
        .select(col("doc_id"),
          graft.functions.VectorFunctions.md5Long(TextAnalytics.normalize(col("text")))
            .cast("string").as("h"))
        .as[HashedDoc])
  }

  /** Stream-static as-of enrichment: every micro-batch of events is
    * matched to the latest static reference row at-or-before it
    * (graft.ops.Joins.asofJoin per batch) — the online feature-join
    * shape (e.g. enrich a live event with the most recent model
    * snapshot / price point). Static side stays a pruned scan; per
    * batch the cost is one keyed shuffle of the batch + static side.
    */
  def startAsofEnrich(stream: DataFrame, static: DataFrame,
                      keys: Seq[String], lts: String, rts: String)
                     (onBatch: DataFrame => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty)
          onBatch(graft.ops.Joins.asofJoin(batch, static, keys, lts, rts))
      }
      .start()

  /** Convenience: run [[windowedCounts]] on a memory sink in append
    * mode (used by specs and as API documentation).
    */
  def startToMemory(df: DataFrame, name: String, mode: OutputMode =
      OutputMode.Append): org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream.format("memory").queryName(name).outputMode(mode).start()

  /** Streaming ANN: score a stream of query vectors (qid, qv) against
    * a static collection and emit top-k per query per micro-batch —
    * the online-serving face of the engine (the reference's
    * search_query endpoint, as a continuous pipeline).
    *
    * Each micro-batch routes through the dense-kernel dispatch
    * ([[graft.ann.Ann.denseKernelTopK]]): a batch that fits one query
    * tile (≤`tile` queries) broadcasts once and scans the collection
    * once; a batch ABOVE the tile bound goes through the 2D
    * block-matrix kernel ([[graft.ann.Ann.blockedTop]]) so a backfill
    * or replay surge still pays ONE collection scan instead of one
    * per query tile. Output is row-equal to the batch
    * `Ann.bruteForceTopK` on the same (collection, batch) — same
    * 6dp rounding, same (score desc, id asc) tie-break, same
    * self-exclusion — spec-pinned at a forced multi-tile size
    * (StreamingSpec "streaming search routes oversized micro-batches
    * through the blocked kernel").
    */
  def startStreamingSearch(queries: DataFrame, collection: DataFrame, k: Int,
                           tile: Int = graft.ann.Ann.defaultKernelTile)
                          (onBatch: DataFrame => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // each micro-batch pays the kernel's one fetch job, which returns
    // the batch's (count, dim) with its rows; the driver keeps the rows
    // only within the fast-path budget, so a batch wider than the
    // collection stays bounded
    queries.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty)
          onBatch(graft.ann.Ann.denseKernelTopK(collection, batch, k,
            graft.ann.Ann.Cosine, tile))
      }
      .start()
  }

  /** Continuous vector ingestion: a stream of points (the reference's
    * per-request HTTP upserts, reference routes.py:109/150) becomes a
    * micro-batched merge into the partitioned collection store. Each
    * micro-batch is one last-writer-wins upsert + dynamic partition
    * overwrite of ONLY the touched user partitions — bounded work per
    * batch regardless of total collection size.
    */
  def startCollectionIngest(points: DataFrame, collectionPath: String,
                            checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    points.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        // left-semi against the batch's keys: the broadcast build side
        // feeds dynamic partition pruning on the user_id partition
        // column, so only touched partitions are read — same pruning
        // the old isin-collect literal list gave, without driver
        // materialization (a wide backfill batch would otherwise
        // become a thousand-literal In expression tree)
        val existing =
          try graft.store.CollectionStorage.load(spark, collectionPath)
              .join(org.apache.spark.sql.functions.broadcast(
                      batch.select("user_id").distinct()),
                    Seq("user_id"), "left_semi")
          catch { case _: org.apache.spark.sql.AnalysisException => batch.limit(0) }
        val merged = graft.store.VectorStore.upsert(existing, batch)
        graft.store.CollectionStorage.overwriteUserPartitions(merged, collectionPath)
      }
      .start()

  final case class LocfEvent(event_id: Long, ts: Long, user_id: Long,
                             value: Option[Double])

  final case class LocfPoint(user_id: Long, event_id: Long,
                             value: Option[Double], filled: Option[Double])

  /** (last non-null value, whether one exists, event-time frontier)
    * — round 15 widened the bare Double state for the late-data
    * frontier (new checkpoint dir required, see [[Scd2State]]). */
  final case class LocfState(last: Double, hasLast: Boolean, frontier: Long)

  /** Streaming twin of the batch `ts_locf` query: last-observation-
    * carried-forward, keyed state one (value, frontier) pair per
    * user. NULL values emit the carried observation; non-null values
    * pass through and refresh the state. Same semantics as the batch
    * last(ignoreNulls) running window (batch-equivalence spec-pinned).
    *
    * LATE-DATA POLICY (spec-pinned in StreamingSpec): an event
    * arriving in a later micro-batch with ts < frontier is DROPPED —
    * its own fill row has been superseded (rows after it were already
    * emitted using the then-current carry), and letting a STALE
    * observation refresh the carry would corrupt every future fill
    * (batch semantics carry the newest-by-time observation, not the
    * newest-by-arrival). Within one micro-batch, events sort by
    * (ts, event_id) before folding. Production bounds lateness with
    * an upstream watermark; beyond it, this is the degrade.
    */
  def streamingLocf(events: Dataset[LocfEvent]): Dataset[LocfPoint] = {
    val s = events.sparkSession
    import s.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[VersionedState, LocfPoint](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (uid, it, state: GroupState[VersionedState]) =>
          var st = state.getOption.map(StateCodecs.LocfCodec.decode).getOrElse(
            LocfState(0.0, hasLast = false, Long.MinValue))
          val out = it.toSeq.sortBy(e => (e.ts, e.event_id))
            .dropWhile(_.ts < st.frontier) // late vs a PRIOR batch: drop
            .map { e =>
            val filled = e.value.orElse(if (st.hasLast) Some(st.last) else None)
            st = e.value match {
              case Some(v) => LocfState(v, hasLast = true,
                math.max(st.frontier, e.ts))
              case None => st.copy(frontier = math.max(st.frontier, e.ts))
            }
            LocfPoint(uid, e.event_id, e.value, filled)
          }
          state.update(StateCodecs.LocfCodec.encode(st))
          out.iterator
      }
  }

  final case class WinsEvent(event_id: Long, ts: Long, event_type: String,
                             value: Double)

  final case class WinsPoint(event_type: String, event_id: Long,
                             value: Double, lo: Double, hi: Double,
                             clipped: Double)

  /** Streaming winsorize (the round-10 deferred item): per-type keyed
    * state is the mergeable deterministic KLL sketch
    * ([[graft.ops.QuantileSketch]]) — O(k·log(n/k)) values regardless
    * of stream length, never the raw history. Each micro-batch folds
    * its values in (ts, event_id) order and clips against the
    * POST-update p05/p95 cutoffs ("winsorize against everything seen
    * so far"). Exact percentiles are NOT incrementally computable, so
    * the spec is an ERROR-BOUND spec, not an equivalence spec: the
    * emitted cutoffs' true ranks sit within the sketch's measured
    * 4·n/k rank-error headroom (QuantileSketchPropSpec's bound), and
    * are exact whenever n ≤ k.
    */
  def streamingWinsorize(events: Dataset[WinsEvent], k: Int = 256)
      : Dataset[WinsPoint] = {
    val s = events.sparkSession
    import s.implicits._
    val agg = new graft.ops.QuantileSketch.QuantileAggregator(
      k, Seq(0.05, 0.95))
    events.groupByKey(_.event_type)
      .flatMapGroupsWithState[graft.ops.QuantileSketch.Sketch, WinsPoint](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (et, it, state) =>
          var sk = state.getOption.getOrElse(agg.zero)
          val batch = it.toSeq.sortBy(e => (e.ts, e.event_id))
          batch.foreach(e => sk = agg.reduce(sk, e.value))
          state.update(sk)
          val qs = agg.finish(sk)
          val lo = qs.head
          val hi = qs(1)
          batch.iterator.map { e =>
            WinsPoint(et, e.event_id, e.value, lo, hi,
              math.min(math.max(e.value, lo), hi))
          }
      }
  }

  final case class BollDay(day: Long, x: Long)

  /** `lastDay` added round 15 for the late-data policy (new
    * checkpoint dir required, see [[Scd2State]]). */
  final case class BollState(ring: Seq[Long], lastDay: Long)

  final case class BollPoint(day: Long, x: Long, mid: Double, lo: Double,
                             hi: Double, breakout: Long)

  /** Streaming twin of ts_bollinger: the keyed state is the last ≤7
    * daily counts (a bounded integer ring — the ev_ewma_bounded
    * discipline), and each full window emits the same 4/6dp-pinned
    * band row the batch window computes, bit-equal across micro-batch
    * slicings because the band math divides exact integers.
    *
    * LATE-DATA POLICY (spec-pinned in StreamingSpec): a rollup row
    * arriving in a later micro-batch with day <= lastDay is DROPPED —
    * the 7-day ring is positional, so folding a late or duplicate day
    * would shift the window every subsequent (already-emitted) band
    * was computed over. Same rule as [[streamingCusum]]; within one
    * micro-batch, days sort before folding.
    */
  def streamingBollinger(days: Dataset[BollDay]): Dataset[BollPoint] = {
    val s = days.sparkSession
    import s.implicits._
    def r4(x: Double) = math.floor(x * 1e4 + 0.5) / 1e4
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    days.groupByKey(_ => 0L)
      .flatMapGroupsWithState[VersionedState, BollPoint](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (_, it, state: GroupState[VersionedState]) =>
          val st0 = state.getOption.map(StateCodecs.BollCodec.decode)
          var ring = st0.map(_.ring).getOrElse(Seq.empty[Long])
          var lastDay = st0.map(_.lastDay).getOrElse(Long.MinValue)
          val out = it.toSeq.sortBy(_.day)
            .dropWhile(_.day <= lastDay) // late/duplicate day: drop
            .flatMap { d =>
            lastDay = d.day
            ring = (ring :+ d.x).takeRight(7)
            if (ring.size < 7) None
            else {
              val s1 = ring.sum
              val s2 = ring.map(v => v * v).sum
              val mid = r4(s1.toDouble / 7)
              val sd = r6(math.sqrt((7L * s2 - s1 * s1).toDouble / 42.0))
              val lo = r4(mid - sd * 2)
              val hi = r4(mid + sd * 2)
              Some(BollPoint(d.day, d.x, mid, lo, hi,
                if (d.x < lo || d.x > hi) 1L else 0L))
            }
          }
          state.update(StateCodecs.BollCodec.encode(BollState(ring, lastDay)))
          out.iterator
      }
  }

  final case class CapEvent(event_id: Long, user_id: Long, day: Long, t: Long)

  final case class CapDecision(event_id: Long, kept: Boolean)

  /** Streaming frequency-cap ENFORCER (the online side of
    * ev_freq_cap's what-if): one long of keyed state per (user, day) —
    * how many events that key has admitted — and each arriving event
    * gets an immediate keep/drop decision. Replaying a day through
    * this operator keeps exactly the first `cap` events per key in
    * (t, event_id) order, bit-equal to the batch rank rule across any
    * micro-batch slicing (spec-pinned). Day-keyed state means expired
    * keys are droppable by watermark in production.
    *
    * LATE-DATA POLICY (spec-pinned in StreamingSpec): decisions are
    * first-come-first-served STABLE — an admit already emitted is
    * never revoked. An event arriving in a later micro-batch with an
    * earlier `t` than events already admitted competes only for the
    * REMAINING budget: it is kept iff the key's admit count is still
    * under the cap, regardless of its timestamp rank. This is the
    * only behavior an online enforcer can have (its keep/drop answers
    * are acted on immediately); the batch what-if (`ev_freq_cap`)
    * remains the timestamp-ranked ground truth for replays, and the
    * two agree exactly whenever batches are time-ordered per key.
    */
  def streamingFreqCap(ev: Dataset[CapEvent], cap: Int): Dataset[CapDecision] = {
    val s = ev.sparkSession
    import s.implicits._
    ev.groupByKey(e => (e.user_id, e.day))
      .flatMapGroupsWithState[Long, CapDecision](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (_, it, state: GroupState[Long]) =>
          var n = state.getOption.getOrElse(0L)
          val out = it.toSeq.sortBy(e => (e.t, e.event_id)).map { e =>
            n += 1
            CapDecision(e.event_id, n <= cap)
          }
          state.update(n)
          out.iterator
      }
  }

  final case class PhDay(day: Long, x: Long)

  /** (cumulative deviation sum, its running min) in integer
    * micro-units; `lastDay` added round 15 for the late-data policy
    * (new checkpoint dir required, see [[Scd2State]]). */
  final case class PhState(cum: Long, mn: Long, lastDay: Long)

  final case class PhPoint(day: Long, x: Long, ph: Double, alarm: Long)

  /** Pinned Page–Hinkley baseline off a daily-count series — the SAME
    * 6dp rounding trajectory as the batch `stat_page_hinkley`
    * aggregate (exact integer power sums → μ, σ → δ = 0.05σ,
    * λ = 3σ, reference term in integer micro-units). Returns
    * (ref_u, lambda).
    */
  def phBaseline(daily: Seq[(Long, Long)]): (Long, Double) = {
    val n = daily.size
    val s1 = daily.map(d => BigInt(d._2)).sum
    val s2 = daily.map(d => BigInt(d._2) * BigInt(d._2)).sum
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    val mu = r6(s1.toDouble / n)
    val sigma = r6(math.sqrt((BigInt(n) * s2 - s1 * s1).toDouble) / n)
    val delta = r6(sigma * 0.05)
    val lambda = r6(sigma * 3.0)
    (math.floor((mu + delta) * 1e6 + 0.5).toLong, lambda)
  }

  /** Streaming twin of the batch `stat_page_hinkley` detector: the
    * reference window (ref_u, λ) is trained batch-side and frozen — a
    * drift detector's baseline is a constant by definition — and the
    * keyed state is TWO longs (the cumulative deviation sum and its
    * running min, both in integer micro-units). Integer state means
    * replaying the daily rollup reproduces the batch PH column
    * bit-for-bit across any micro-batch slicing (spec-pinned): there
    * is no float accumulation to drift at batch boundaries. Days
    * inside one micro-batch are processed in day order.
    *
    * LATE-DATA POLICY (spec-pinned in StreamingSpec): a row arriving
    * in a later micro-batch with day <= lastDay is DROPPED — the PH
    * statistic is a prefix sum with a running min, so a late day
    * folded out of order lands in the wrong prefix (and a duplicate
    * day double-counts), silently shifting every later emitted point.
    * Same rule as [[streamingCusum]].
    */
  def streamingPageHinkley(days: Dataset[PhDay], refU: Long,
                           lambda: Double): Dataset[PhPoint] = {
    val s = days.sparkSession
    import s.implicits._
    def r4(x: Double) = math.floor(x * 1e4 + 0.5) / 1e4
    days.groupByKey(_ => 0L)
      .flatMapGroupsWithState[VersionedState, PhPoint](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (_, it, state: GroupState[VersionedState]) =>
          var st = state.getOption.map(StateCodecs.PhCodec.decode).getOrElse(
            PhState(0L, Long.MaxValue, Long.MinValue))
          val out = it.toSeq.sortBy(_.day)
            .dropWhile(_.day <= st.lastDay) // late/duplicate day: drop
            .map { d =>
            val cum = st.cum + (d.x * 1000000L - refU)
            val mn = math.min(st.mn, cum)
            st = PhState(cum, mn, d.day)
            val ph = r4((cum - mn).toDouble / 1e6)
            PhPoint(d.day, d.x, ph, if (ph > lambda) 1L else 0L)
          }
          state.update(StateCodecs.PhCodec.encode(st))
          out.iterator
      }
  }

  final case class KalmanDay(series: String, t: Long, day: Long, v: Double)

  /** (level, variance, whether any day was consumed yet, last folded
    * step) — `lastT` added round 15 for the late-data policy (new
    * checkpoint dir required, see [[Scd2State]]). */
  final case class KalmanState(level: Double, p: Double, started: Boolean,
                               lastT: Long)

  final case class KalmanPoint(series: String, t: Long, day: Long,
                               obs: Double, level: Double,
                               gain: Option[Double])

  /** Streaming twin of the batch `ts_kalman_level` fold: the filter
    * state is TWO doubles per series (level, error variance) — O(1)
    * regardless of stream length — and each arriving day emits the
    * filtered level. Identical per-step 6/4dp rounding to the batch
    * driver fold and the DuckDB RECURSIVE oracle, so replaying the
    * daily rollup through this operator reproduces the batch table
    * bit-for-bit (spec-pinned). Days inside one micro-batch are
    * processed in t order.
    *
    * LATE-DATA POLICY (spec-pinned in StreamingSpec): a row arriving
    * in a later micro-batch with t <= lastT for its series is
    * DROPPED — the filter is a recursive fold, so a late step folded
    * out of order (or a duplicate step folded twice) perturbs the
    * level/variance trajectory behind points already emitted. Same
    * rule as [[streamingCusum]].
    */
  def streamingKalman(days: Dataset[KalmanDay]): Dataset[KalmanPoint] = {
    val s = days.sparkSession
    import s.implicits._
    def r4(x: Double) = math.floor(x * 1e4 + 0.5) / 1e4
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    days.groupByKey(_.series)
      .flatMapGroupsWithState[VersionedState, KalmanPoint](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (series, it, state: GroupState[VersionedState]) =>
          var st = state.getOption.map(StateCodecs.KalmanCodec.decode).getOrElse(
            KalmanState(0.0, 10000.0, false, Long.MinValue))
          val out = it.toSeq.sortBy(_.t)
            .dropWhile(_.t <= st.lastT) // late/duplicate step: drop
            .map { d =>
            if (!st.started) {
              st = KalmanState(d.v, 10000.0, started = true, d.t)
              KalmanPoint(series, d.t, d.day, d.v, st.level, None)
            } else {
              val pp = st.p + 25.0
              val kg = r6(pp / (pp + 100.0))
              st = KalmanState(r4(st.level + kg * (d.v - st.level)),
                r4((1 - kg) * pp), started = true, d.t)
              KalmanPoint(series, d.t, d.day, d.v, st.level, Some(kg))
            }
          }
          state.update(StateCodecs.KalmanCodec.encode(st))
          out.iterator
      }
  }

  final case class BpeDoc(doc_id: Long, lang: String, text: String)

  /** Streaming twin of the batch `text_bpe_encode` apply stage:
    * encode NEW documents against a FROZEN tokenizer (merge rules +
    * symbol-id vocabulary trained by Bpe on the existing corpus).
    * Completes the train→encode→pack story for incremental corpora
    * (r16 ask 5): the trainer stays a batch job; arriving documents
    * tokenize through the frozen artifact with ZERO streaming state.
    *
    * Shape: Bpe.applyMerges is a pure projection (a codegen'd
    * double-replace chain per rule), so each document row encodes
    * end-to-end inside per-row expressions — tokens → per-word merge
    * chain → symbol ids — and the bounded symbol vocabulary
    * (≤ |alphabet| + rounds entries) arrives as ONE static map row
    * through a broadcast stream-static join, the
    * [[graft.embed.ServiceEmbedder]] / [[streamingSeasonalFlags]]
    * idiom.
    * No groupBy, no watermark, no state store: the encoder is
    * embarrassingly parallel at any document rate, and refreshing
    * the tokenizer is restarting the query with new static sides.
    *
    * OOV POLICY (spec-pinned): a symbol outside the frozen
    * vocabulary (an unseen character, or an unseen pairing left
    * unmerged) yields NO id — try_element_at's null is filtered out,
    * matching what the batch re-train would only fix by growing the
    * vocabulary. Word ORDER and intra-word symbol order are
    * preserved exactly as the batch (wp, sp) sort.
    */
  def streamingBpeEncode(docs: Dataset[BpeDoc], rules: Seq[String],
                         symIds: DataFrame): DataFrame = {
    import graft.text.{Bpe, TextPrimitives}
    // one static row: the whole bounded vocabulary as a map column
    val symMap = symIds.agg(map_from_entries(
      sort_array(collect_list(struct(col("sym"), col("id"))))).as("symmap"))
    docs.toDF()
      .crossJoin(broadcast(symMap))
      .select(col("doc_id"), col("lang"),
        filter(TextPrimitives.tokens(col("text")), w => w =!= lit(""))
          .as("ws"),
        col("symmap"))
      .select(col("doc_id"), col("lang"),
        flatten(transform(col("ws"), w =>
          transform(
            split(trim(Bpe.applyMerges(Bpe.spacedChars(w), rules)), " "),
            sym => try_element_at(col("symmap"), sym)))).as("ids0"))
      .select(col("doc_id"), col("lang"),
        filter(col("ids0"), x => x.isNotNull).as("ids"))
  }
}
