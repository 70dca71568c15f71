package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured-Streaming surface. The reference is a bounded-only engine
  * (SURVEY.md §1 — no watermarks, no stateful ops), so this module is
  * EXTENSION surface, not parity: the streaming shapes a training-data
  * ingest pipeline needs, expressed so the same semantics hold in batch
  * (`graft.queries.Temporal.p03`) and incrementally over an unbounded
  * source.
  *
  * Scale notes:
  *  - state is per-key (user), partitioned by the stream's groupBy hash
  *    shuffle — the same key layout a 1000-executor cluster spreads;
  *  - watermarks bound state: windows older than the watermark are
  *    finalized and dropped, so state size tracks the out-of-orderness
  *    bound, not the stream length;
  *  - sessionization state is O(1) per open session (aggregates only,
  *    never the event list).
  */
object StreamOps {

  case class Ev(user_id: Long, ts: Timestamp, value: Double)
  /** A document arriving on the ingest stream (content already hashed). */
  case class Doc(doc_hash: String, ts: Timestamp, source: String)
  /** A raw-text document on the ingest stream (for near-dup dedup). */
  case class RawDoc(text: String, ts: Timestamp, source: String)
  /** The enrichment stream for the stream-stream join (labels produced by
    * a downstream annotator, keyed back to the doc within a time bound). */
  case class Label(l_doc_hash: String, l_ts: Timestamp, label: String)
  case class Session(user_id: Long, session_start: Timestamp,
                     n_events: Long, total_value: Double)

  /** Per-key mutable state carried between micro-batches (public: the
    * state encoder's generated code must construct it). */
  case class OpenSession(start: Long, last: Long, n: Long, total: Double)

  /** Watermarked tumbling-window aggregate (append mode): per-window event
    * counts + value sums that finalize once the watermark passes the
    * window end. */
  def windowedAgg(events: DataFrame, windowLen: String = "1 hour",
                  watermark: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value")).as("total_value"))
      .select(col("window.start").as("win_start"), col("user_id"),
        col("n_events"), col("total_value"))

  /** Streaming exact dedup — the ingest-side twin of the batch d01 exact
    * dedup: keep the FIRST arrival of each content hash, drop duplicates
    * that arrive within the watermark delay. State is one row per distinct
    * key seen inside the watermark horizon (dropped once the watermark
    * passes), so state size tracks the duplicate-arrival bound, not the
    * stream length — the property that makes exact dedup runnable on an
    * unbounded 100 TB/day ingest. */
  def dedupStream(docs: DataFrame, watermark: String = "30 minutes")
      : DataFrame =
    docs.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("doc_hash")

  /** Streaming COUNT-MIN sketch maintenance — the incremental twin of
    * the batch t21 CMS build: arriving tokens explode into d=3
    * (row, bucket) keys (the same md5(tok#j) bucket derivation) and a
    * running streaming aggregate maintains the d×w counter matrix.
    * Because CMS counters are PLAIN SUMS, the streaming state after any
    * prefix of micro-batches equals the batch sketch over the same
    * tokens — additivity is exactly why CMS serves unbounded streams
    * with O(d·w) state (3·1024 counters here), never O(vocabulary) and
    * never O(stream length). No watermark needed: the aggregate is
    * keyed on the bounded counter space, so state cannot grow past
    * d·w rows regardless of arrival order or lateness.
    * `StreamingSpec` pins the complete-mode table equal to the batch
    * matrix after every batch boundary. Input: a `tok` string column. */
  def countMinStream(toks: DataFrame, w: Int = 1024): DataFrame =
    toks
      .select(explode(array((0 until 3).map(j =>
        struct(lit(j.toLong).as("j"),
          (conv(substring(md5(concat(col("tok"), lit(s"#$j"))
            .cast("binary")), 1, 8), 16, 10).cast("long") % w)
            .as("b"))): _*)).as("jb"))
      .select(col("jb.j").as("j"), col("jb.b").as("b"))
      .groupBy(col("j"), col("b")).agg(count(lit(1)).as("c"))

  /** Streaming NEAR-dup dedup: per-row 16-bit SimHash (graft.llm.Dedup's
    * bit-majority vote as one codegen projection — no groupBy, so it runs
    * incrementally) as the dedup key within the watermark horizon. Token
    * reorderings and docs with identical token multisets collapse to the
    * same key; state is one row per distinct simhash inside the horizon.
    * The streaming twin of batch d05 + "keep first". */
  def nearDedupStream(docs: DataFrame, watermark: String = "30 minutes")
      : DataFrame =
    docs.withColumn("simhash16", graft.llm.Dedup.simhashExpr(col("text")))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("simhash16")

  /** A raw document with an id arriving on the indexed-ingest stream. */
  case class IngestDoc(doc_id: Long, ts: Timestamp, text: String)

  /** Streaming INDEXED ingest dedup — the incremental twin of the batch
    * d21: each arriving document is hashed and signed ONCE (content md5
    * + token set + MinHash signature, one codegen projection), then
    * probes the PRE-MATERIALIZED corpus index via stream-static joins —
    * exact-duplicate flag against the content-hash index, LSH band
    * collisions against the band index, token sets re-attached from the
    * tset index for exact Jaccard verification. Per doc (emitted when
    * the watermark closes its window): exact_dup, candidate count,
    * verified near-dup count (J ≥ 0.7), best match.
    *
    * Scale shape: stream state is only the in-flight window aggregates
    * (bounded by the watermark horizon — no growth with stream length);
    * the corpus side is the static index, hash-partitioned under each
    * join, never re-hashed per batch — work per micro-batch is
    * ∝ |batch| × collision rate, the d21 invariant made continuous.
    * Candidate de-dup across bands uses collect_set (streaming allows
    * no countDistinct); sets are bounded by a doc's band-collision
    * fan-out, not the corpus. */
  def indexedIngestDedupStream(docs: Dataset[IngestDoc],
                               corpusHashes: DataFrame, // (cch)
                               corpusBands: DataFrame, // (db, band, mh[, union_pop])
                               corpusTsets: DataFrame, // (db, tb)
                               watermark: String = "10 minutes",
                               windowLen: String = "1 minute")
      : DataFrame = {
    val (tset, sig) = graft.llm.Dedup.sigCols(col("text"))
    val signed = docs.toDF()
      .withWatermark("ts", watermark)
      .select(col("doc_id"), col("ts"),
        md5(col("text").cast("binary")).as("ch"),
        tset.as("ta"), sig.as("sig"))
      .join(corpusHashes, col("ch") === col("cch"), "left_outer")
      .select(col("doc_id"), col("ts"), col("ta"),
        when(col("cch").isNotNull, 1L).otherwise(0L).as("exact_dup"),
        posexplode_outer(col("sig")).as(Seq("band", "mh")))
    // Corpus-side bucket cap — the batch probes' BandCap rule (see
    // Dedup.BandCap): hot buckets distinguish nothing and make the
    // stream-static join quadratic in corpus size.
    val cappedBands = graft.llm.Dedup.capCorpusBands(
      corpusBands.withColumnRenamed("band", "bandb")
        .withColumnRenamed("mh", "mhb"))
    val probed = graft.llm.PairMiner.score(signed
      .join(cappedBands,
        col("band") === col("bandb") && col("mh") === col("mhb"),
        "left_outer")
      .join(corpusTsets, Seq("db"), "left_outer"))
    probed
      .groupBy(window(col("ts"), windowLen), col("doc_id"),
        col("exact_dup"))
      .agg(size(collect_set(col("db"))).cast("long").as("n_candidates"),
        size(collect_set(when(col("jac") >= 0.7, col("db"))))
          .cast("long").as("n_near"),
        max(when(col("jac") >= 0.7, struct(col("jac"), col("db"))))
          .as("best"))
      .select(col("doc_id"), col("exact_dup"), col("n_candidates"),
        col("n_near"), col("best.jac").as("best_jac"),
        col("best.db").as("best_doc"))
  }

  /** Watermarked stream-stream inner join: each doc joins labels that
    * arrive within `boundMinutes` AFTER it. Both sides carry watermarks and
    * the join condition carries the event-time bound, so both join-state
    * buffers are purged as the watermark advances — bounded state, the
    * requirement for an unbounded two-stream join. */
  def labelJoin(docs: DataFrame, labels: DataFrame,
                watermark: String = "30 minutes",
                boundMinutes: Int = 10): DataFrame =
    docs.withWatermark("ts", watermark)
      .join(labels.withWatermark("l_ts", watermark),
        expr(s"""doc_hash = l_doc_hash AND
                 l_ts >= ts AND l_ts <= ts + interval $boundMinutes minutes"""))
      .select(col("doc_hash"), col("source"), col("ts"),
        col("label"), col("l_ts"))

  /** An event carrying a type, for the transition stream. `event_id` is
    * the unique ordering tiebreaker — the batch twin (p08) orders its
    * lead() window by (ts, event_id), so the stream must too or
    * equal-timestamp events would pair nondeterministically. */
  case class TEv(user_id: Long, ts: Timestamp, event_type: String,
                 event_id: Long)
  case class Transition(user_id: Long, event_type: String,
                        next_type: String, gap_ms: Long)
  /** Per-key state: the last consumed event (public for the encoder);
    * carries the tiebreaker so cross-batch equal-ts events keep p08's
    * (ts, event_id) total order. */
  case class LastEv(ts: Long, eid: Long, typ: String)

  /** Per-user event-transition stream (the incremental twin of the batch
    * p08 lead() pairing): each arriving event pairs with its
    * predecessor, emitting (type → next_type, gap). State is ONE row per
    * user (the last event) — O(|users|) total, no growth with stream
    * length and no timeout needed. Within a micro-batch events are
    * processed in (event-time, event_id) order — p08's window order; a
    * straggler ordered before the already-consumed state is dropped
    * (consuming it would require buffering the full horizon — the
    * watermark bounds how late that can happen).
    */
  def transitionStream(events: Dataset[TEv],
                       watermark: String = "10 minutes")
      : Dataset[Transition] = {
    import events.sparkSession.implicits._

    def update(uid: Long, evs: Iterator[TEv],
               state: GroupState[LastEv]): Iterator[Transition] = {
      val sorted = evs.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
      var last = state.getOption
      val out = Seq.newBuilder[Transition]
      sorted.foreach { e =>
        val t = e.ts.getTime
        last match {
          case Some(l) if t > l.ts || (t == l.ts && e.event_id >= l.eid) =>
            out += Transition(uid, l.typ, e.event_type, t - l.ts)
            last = Some(LastEv(t, e.event_id, e.event_type))
          case Some(_) => // straggler older than consumed state: dropped
          case None => last = Some(LastEv(t, e.event_id, e.event_type))
        }
      }
      last.foreach(state.update)
      out.result().iterator
    }

    events.withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(update)
  }

  /** Gap-based sessionization via flatMapGroupsWithState: a session closes
    * after `gapMinutes` of silence per user (event-time; the timeout fires
    * when the watermark passes last_ts + gap). Emits one row per CLOSED
    * session — the incremental twin of the batch sessionizer
    * (`Temporal.p03`'s lag + running-sum window). */
  def sessionize(events: Dataset[Ev], gapMinutes: Int,
                 watermark: String = "10 minutes"): Dataset[Session] = {
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60L * 1000L

    def update(userId: Long, evs: Iterator[Ev],
               state: GroupState[OpenSession]): Iterator[Session] = {
      if (state.hasTimedOut) {
        val s = state.get
        state.remove()
        return Iterator(Session(userId, new Timestamp(s.start), s.n, s.total))
      }
      val sorted = evs.toSeq.sortBy(_.ts.getTime)
      var open = state.getOption
      val closed = Seq.newBuilder[Session]
      sorted.foreach { e =>
        val t = e.ts.getTime
        open match {
          case Some(s) if t >= s.start - gapMs && t - s.last <= gapMs =>
            // min() on start: a within-gap event from an earlier event-time
            // can arrive in a later micro-batch (allowed until the
            // watermark passes it) and must extend the session backwards.
            open = Some(s.copy(start = math.min(s.start, t),
              last = math.max(s.last, t), n = s.n + 1,
              total = s.total + e.value))
          case Some(s) if t - s.last > gapMs =>
            closed += Session(userId, new Timestamp(s.start), s.n, s.total)
            open = Some(OpenSession(t, t, 1L, e.value))
          case Some(_) =>
            // t < open.start - gap: a straggler strictly before the open
            // session — it is gap-separated from everything we still
            // track, so it closes immediately as a singleton.
            closed += Session(userId, new Timestamp(t), 1L, e.value)
          case None =>
            open = Some(OpenSession(t, t, 1L, e.value))
        }
      }
      open.foreach { s =>
        state.update(s)
        state.setTimeoutTimestamp(s.last + gapMs)
      }
      closed.result().iterator
    }

    events.withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(update)
  }

  /** Per-key state for the island stream: the currently open island —
    * O(1) per user, like OpenSession (public for the state encoder). */
  case class OpenIsland(start: Long, maxEnd: Long, n: Long)
  case class IslandRow(user_id: Long, island_start: Timestamp,
                       island_end: Timestamp, n_events: Long)

  /** Interval-ISLAND stream — the incremental twin of the batch p15
    * gaps-and-islands consolidation: each event opens a fixed-length
    * validity interval [t, t+win); overlapping or touching intervals per
    * user merge into one island, which emits once the watermark passes
    * its running max end (no event can extend it anymore — the same
    * closure rule as the batch cummax). State is ONE open island per
    * user (start, max end, count) — O(|users|), no growth with stream
    * length. A straggler whose interval still touches the open island
    * merges (extending start backwards if needed, like sessionize); one
    * gap-separated strictly before it closes immediately as a singleton.
    */
  def intervalIslandsStream(events: Dataset[Ev], winMinutes: Int = 10,
                            watermark: String = "10 minutes")
      : Dataset[IslandRow] = {
    import events.sparkSession.implicits._
    val winMs = winMinutes * 60L * 1000L

    def update(uid: Long, evs: Iterator[Ev],
               state: GroupState[OpenIsland]): Iterator[IslandRow] = {
      def emit(s: OpenIsland) = IslandRow(uid, new Timestamp(s.start),
        new Timestamp(s.maxEnd), s.n)
      if (state.hasTimedOut) {
        val s = state.get
        state.remove()
        return Iterator(emit(s))
      }
      val sorted = evs.toSeq.sortBy(_.ts.getTime)
      var open = state.getOption
      val closed = Seq.newBuilder[IslandRow]
      sorted.foreach { e =>
        val t = e.ts.getTime
        open match {
          case Some(s) if t > s.maxEnd =>         // gap: island is final
            closed += emit(s)
            open = Some(OpenIsland(t, t + winMs, 1L))
          case Some(s) if t + winMs >= s.start => // overlap/touch: merge
            open = Some(OpenIsland(math.min(s.start, t),
              math.max(s.maxEnd, t + winMs), s.n + 1))
          case Some(_) =>                          // gap-separated straggler
            closed += IslandRow(uid, new Timestamp(t),
              new Timestamp(t + winMs), 1L)
          case None =>
            open = Some(OpenIsland(t, t + winMs, 1L))
        }
      }
      open.foreach { s =>
        state.update(s)
        state.setTimeoutTimestamp(s.maxEnd)
      }
      closed.result().iterator
    }

    events.withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(update)
  }

  /** Explicit interval event for the sweep stream (k = sweep key). */
  case class IvEv(k: Long, st: Timestamp, en: Timestamp)
  /** Open-island state for the sweep stream: island bounds and count,
    * a running (depth, maxDepth) pair summarizing the FINALIZED sweep
    * prefix, plus only the endpoints still at-or-above the watermark
    * (aligned seqs, epoch ms). Endpoints below the watermark can never
    * be reordered by a future event (late rows are dropped by the
    * strictly-greater filter), so each update folds them into the
    * running pair — state is bounded by the endpoints inside the
    * watermark HORIZON, not by island length (round-11 advice: a chain
    * of touching intervals keeps extending maxEnd, so an
    * endpoints-forever state would grow with stream length on
    * continuously-active keys). The retained suffix still lets the
    * close-time sweep stay exact and arrival-order-independent; a
    * depth-counter-only O(1) state would be cheaper but
    * order-sensitive. Public for the encoder. */
  case class OpenSweep(start: Long, maxEnd: Long, nIntervals: Long,
                       depth: Long, maxDepth: Long,
                       sts: Seq[Long], ens: Seq[Long])
  case class SweepRow(k: Long, island_start: Timestamp,
                      island_end: Timestamp, n_intervals: Long,
                      peak_concurrency: Long)

  /** Sweep-line CONCURRENCY stream — the incremental twin of batch
    * p21 (`Temporal.sweepSummary`), emitted at ISLAND grain: intervals
    * [st, en) per key merge into islands exactly like
    * [[intervalIslandsStream]] (touching spans merge; an island is
    * final once the watermark passes its running max end), and each
    * island closes with its interval count and PEAK overlap depth —
    * the ±1-event sweep run over the island's own members at close
    * time, with -1 before +1 at equal ts so back-to-back intervals
    * never count as concurrent (p20's half-open rule, same tie order
    * as the batch window). Summing rows per key reproduces the batch
    * report: n_islands = count, n_intervals/peak/covered via
    * sum/max/sum(en−st). State is one open island per key holding a
    * compacted (depth, maxDepth) prefix plus only the endpoints at or
    * above the watermark — bounded by the endpoints inside the
    * watermark HORIZON, not by island (or stream) length, so a
    * continuously-active key whose touching intervals never close the
    * island cannot grow state without bound; that's an exact,
    * arrival-order-independent peak at O(horizon) state. A
    * gap-separated straggler strictly before the open island closes
    * immediately as a singleton (same caveat as the island stream). */
  def sweepConcurrencyStream(events: Dataset[IvEv],
                             watermark: String = "10 minutes")
      : Dataset[SweepRow] = {
    import events.sparkSession.implicits._

    // Sweep the retained suffix on top of the compacted running pair:
    // (ts, delta) sorted puts -1 before +1 at equal ts (half-open rule).
    def peakOf(s: OpenSweep): Long = {
      val ev = (s.sts.map(t => (t, 1L)) ++ s.ens.map(t => (t, -1L)))
        .sorted
      var d = s.depth
      var mx = s.maxDepth
      ev.foreach { case (_, dl) => d += dl; if (d > mx) mx = d }
      mx
    }
    def emit(k: Long, s: OpenSweep) = SweepRow(k,
      new Timestamp(s.start), new Timestamp(s.maxEnd),
      s.nIntervals, peakOf(s))

    // Fold every endpoint strictly below the watermark into the running
    // (depth, maxDepth) pair — any future event has st (and so en) > wm,
    // so it sorts after the folded prefix and the sweep's total order is
    // preserved; endpoints AT the watermark stay live (a future event at
    // wm+1 could still tie-order against them only if they were +1s at
    // the same ts, which an st > wm guarantees can't happen — keeping
    // them is just the conservative side of the boundary).
    def compact(s: OpenSweep, wm: Long): OpenSweep =
      if (wm <= 0 || (s.sts.isEmpty && s.ens.isEmpty)) s
      else {
        val ev = (s.sts.map(t => (t, 1L)) ++ s.ens.map(t => (t, -1L)))
          .sorted
        var d = s.depth
        var mx = s.maxDepth
        val keepSt = Seq.newBuilder[Long]
        val keepEn = Seq.newBuilder[Long]
        ev.foreach { case (t, dl) =>
          if (t < wm) { d += dl; if (d > mx) mx = d }
          else if (dl == 1L) keepSt += t
          else keepEn += t
        }
        OpenSweep(s.start, s.maxEnd, s.nIntervals, d, mx,
          keepSt.result(), keepEn.result())
      }

    def update(k: Long, evs: Iterator[IvEv],
               state: GroupState[OpenSweep]): Iterator[SweepRow] = {
      if (state.hasTimedOut) {
        val s = state.get
        state.remove()
        return Iterator(emit(k, s))
      }
      val sorted = evs.toSeq.sortBy(e => (e.st.getTime, e.en.getTime))
      var open = state.getOption
      val closed = Seq.newBuilder[SweepRow]
      sorted.foreach { e =>
        val t = e.st.getTime
        val en = e.en.getTime
        open match {
          case Some(s) if t > s.maxEnd =>          // gap: island is final
            closed += emit(k, s)
            open = Some(OpenSweep(t, en, 1L, 0L, 0L, Seq(t), Seq(en)))
          case Some(s) if en >= s.start =>         // overlap/touch: merge
            open = Some(OpenSweep(math.min(s.start, t),
              math.max(s.maxEnd, en), s.nIntervals + 1L,
              s.depth, s.maxDepth, s.sts :+ t, s.ens :+ en))
          case Some(_) =>                          // gap-separated straggler
            closed += SweepRow(k, new Timestamp(t), new Timestamp(en),
              1L, 1L)
          case None =>
            open = Some(OpenSweep(t, en, 1L, 0L, 0L, Seq(t), Seq(en)))
        }
      }
      open.foreach { s =>
        state.update(compact(s, state.getCurrentWatermarkMs()))
        state.setTimeoutTimestamp(s.maxEnd)
      }
      closed.result().iterator
    }

    events.withWatermark("st", watermark)
      .groupByKey(_.k)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(update)
  }

  /** Valued event for the rolling monitor (cents keeps sums exact). */
  case class VEv(event_type: String, ts: java.sql.Timestamp, cents: Long)
  /** A day's final aggregate (public for the state encoder). */
  case class DayAgg(day: Long, n: Long, cents: Long)
  case class DayState(days: Seq[DayAgg], maxEmitted: Long)
  case class AnomalyRow(event_type: String, day: Long, n_events: Long,
                        day_cents: Long, trail_cents: Long, trail_n: Long,
                        is_spike: Boolean)

  /** Rolling-baseline anomaly stream — the incremental twin of the batch
    * p11 monitor: per event type, daily totals accumulate in state; when
    * the WATERMARK closes a day, that day is emitted with its
    * trailing-7-day baseline and the exact cross-multiplied spike test
    * (tn·day > 2·trail_sum — integer cents, no float decides a row).
    *
    * Closure order makes the baseline final-by-construction: the
    * watermark passes day d only after passing every earlier day, so all
    * trailing days are fully merged before d emits. State per type is
    * the open days plus a 7-day closed horizon — O(|types|·8) rows
    * total, no growth with stream length. Events later than the
    * watermark (or older than an already-emitted day) are dropped, the
    * standard streaming-vs-batch caveat shared by the dedup twins. */
  def rollingAnomalyStream(events: Dataset[VEv],
                           watermark: String = "1 day")
      : Dataset[AnomalyRow] = {
    import events.sparkSession.implicits._
    val dayMs = 86400000L

    def update(typ: String, evs: Iterator[VEv],
               state: GroupState[DayState]): Iterator[AnomalyRow] = {
      val st = state.getOption.getOrElse(DayState(Seq.empty, Long.MinValue))
      val merged = scala.collection.mutable.Map[Long, (Long, Long)](
        st.days.map(d => d.day -> (d.n, d.cents)): _*)
      evs.foreach { e =>
        val d = Math.floorDiv(e.ts.getTime, dayMs)
        if (d > st.maxEmitted) { // older-than-emitted stragglers: dropped
          val (n, c) = merged.getOrElse(d, (0L, 0L))
          merged(d) = (n + 1, c + e.cents)
        }
      }
      val wm = state.getCurrentWatermarkMs()
      val closed = merged.keys
        .filter(d => d > st.maxEmitted && (d + 1) * dayMs <= wm)
        .toSeq.sorted
      val out = Seq.newBuilder[AnomalyRow]
      var maxEmitted = st.maxEmitted
      closed.foreach { d =>
        val (n, c) = merged(d)
        val trail = merged.collect {
          case (k, (_, kc)) if k >= d - 7 && k <= d - 1 => kc
        }.toSeq
        val tn = trail.size.toLong
        val tc = trail.sum
        out += AnomalyRow(typ, d, n, c, tc, tn, tn > 0 && tn * c > 2 * tc)
        maxEmitted = d
      }
      // Keep the trailing horizon future closures still read. (The
      // no-emissions sentinel must not enter the subtraction: MinValue-6
      // wraps POSITIVE and would prune the whole state.)
      val floor =
        if (maxEmitted == Long.MinValue) Long.MinValue else maxEmitted - 6
      val keep = merged.collect {
        case (k, (n, c)) if k >= floor => DayAgg(k, n, c)
      }.toSeq
      state.update(DayState(keep, maxEmitted))
      out.result().iterator
    }

    events.withWatermark("ts", watermark)
      .groupByKey(_.event_type)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(update)
  }

  case class EwmaEv(user_id: Long, event_id: Long, ts: Timestamp,
                    value: Double)
  /** Ring of the ≤15 most-recent cents (most recent FIRST) + the last
    * consumed (ts, eid) so stragglers are detected, not mis-ordered. */
  case class EwmaState(lastTs: Long, lastEid: Long, recent: Seq[Long])
  case class EwmaRow(user_id: Long, event_id: Long, ts: Timestamp,
                     n_terms: Long, ewma: Double)

  /** p17's bounded EWMA, incrementally: one row per event with the
    * α = 3/4, 16-term smoothed value — the SAME integer weights
    * 3^k·4^(15−k) as the batch window (every sum < 2^53, see
    * `Temporal.p17`), so stream and batch agree bit-for-bit on
    * in-order input. State is O(W) = 16 longs per user — the ring of
    * recent cents — independent of stream length; no watermark-bounded
    * buffering is needed because the operator is causal (each output
    * depends only on the event and its predecessors). Events older
    * than the last consumed (ts, event_id) are dropped (the
    * transitionStream straggler rule): a bounded-memory stream cannot
    * retro-insert into an already-emitted suffix — the documented
    * stream-vs-batch delta shared by every stateful twin here. */
  def ewmaStream(events: Dataset[EwmaEv],
                 watermark: String = "10 minutes"): Dataset[EwmaRow] = {
    import events.sparkSession.implicits._
    val W = 16
    val weights: IndexedSeq[Long] = (0 until W).map(k =>
      (BigInt(3).pow(k) * BigInt(4).pow(W - 1 - k)).toLong)

    def cents(v: Double): Long =
      (BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP) * 100)
        .toLongExact

    def update(uid: Long, evs: Iterator[EwmaEv],
               state: GroupState[EwmaState]): Iterator[EwmaRow] = {
      val sorted = evs.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
      var st = state.getOption.getOrElse(
        EwmaState(Long.MinValue, Long.MinValue, Seq.empty))
      val out = Seq.newBuilder[EwmaRow]
      sorted.foreach { e =>
        val t = e.ts.getTime
        val inOrder = t > st.lastTs ||
          (t == st.lastTs && e.event_id > st.lastEid)
        if (inOrder) {
          val c = cents(e.value)
          val window = c +: st.recent // k=0 is the current observation
          var num = 0L; var den = 0L; var k = 0
          window.foreach { ck =>
            num += ck * weights(k); den += weights(k); k += 1
          }
          out += EwmaRow(uid, e.event_id, e.ts, window.length.toLong,
            num.toDouble / den.toDouble / 100.0)
          st = EwmaState(t, e.event_id, window.take(W - 1))
        } // else: straggler older than consumed state — dropped
      }
      state.update(st)
      out.result().iterator
    }

    events.withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(update)
  }

  case class ScdEv(user_id: Long, event_id: Long, ts: Timestamp,
                   event_type: String)
  case class OpenRun(typ: String, from: Long, n: Long,
                     lastTs: Long, lastEid: Long)
  case class Scd2Row(user_id: Long, event_type: String, valid_from: Long,
                     valid_to: Long, n_events: Long)

  /** p18's SCD Type-2 build, incrementally — streaming dimension
    * maintenance: per user, one OPEN run (attribute value, start, count)
    * of O(1) state; an attribute CHANGE closes the run and emits its
    * [valid_from, valid_to) row. Append mode emits CLOSED intervals
    * only — the open run is the state store's "is_current" row (the
    * batch twin's valid_to IS NULL rows), which a dimension service
    * reads from state, not from the sink. Stragglers older than the
    * consumed suffix drop (the shared stateful-twin rule); timestamps
    * are epoch ms (the Ev convention). */
  def scd2Stream(events: Dataset[ScdEv],
                 watermark: String = "10 minutes"): Dataset[Scd2Row] = {
    import events.sparkSession.implicits._

    def update(uid: Long, evs: Iterator[ScdEv],
               state: GroupState[OpenRun]): Iterator[Scd2Row] = {
      val sorted = evs.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
      var open = state.getOption
      val out = Seq.newBuilder[Scd2Row]
      sorted.foreach { e =>
        val t = e.ts.getTime
        val inOrder = open.forall(o => t > o.lastTs ||
          (t == o.lastTs && e.event_id > o.lastEid))
        if (inOrder) {
          open match {
            case Some(o) if o.typ == e.event_type =>
              open = Some(o.copy(n = o.n + 1, lastTs = t,
                lastEid = e.event_id))
            case Some(o) =>
              out += Scd2Row(uid, o.typ, o.from, t, o.n)
              open = Some(OpenRun(e.event_type, t, 1L, t, e.event_id))
            case None =>
              open = Some(OpenRun(e.event_type, t, 1L, t, e.event_id))
          }
        } // else: straggler older than consumed state — dropped
      }
      open.foreach(state.update)
      out.result().iterator
    }

    events.withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(update)
  }

  /** A document arriving on the SERVING ingest stream: raw text plus its
    * (possibly absent) embedding. */
  case class ServeDoc(doc_id: Long, ts: Timestamp, text: String,
                      embedding: Array[Float])

  /** Streaming SERVING-INGEST composite — the incremental twin of the
    * batch d33 (`graft.llm.Dedup` "d33_serving_pipeline"): each arriving
    * document runs the full serving gauntlet against the PRE-MATERIALIZED
    * base+delta indexes, per micro-batch, emitting one row per doc when
    * the watermark closes its window:
    *   Bloom gate (3 broadcast bit probes over the ≤4096-row set-bit
    *   table — a STREAM-SIDE filter, no state) → bloom-GATED exact hash
    *   probe (bloom_pass = 0 docs provably fresh, skip the join — the
    *   gate is in the plan, as in batch) → LSH band probe with
    *   per-SEGMENT provenance (n_near_delta) → frozen-codebook ANN
    *   probe over cells_base ∪ cells_delta (top-1 indexed neighbor).
    *
    * Scale shape (the d33 invariants made continuous): the ONLY text
    * hashing and quantization is the stream's; the corpus appears
    * exclusively through the static index inputs — never re-hashed,
    * never re-trained per batch. The centroid argmin is a broadcast
    * 1-row codebook array scanned per doc (codegen'd higher-order
    * functions, NO stateful aggregation, no N×K shuffle), candidate
    * fan-out is bounded by band-collision and probed-cell rates, and
    * the single stateful operator is the final windowed per-doc
    * aggregate — state bounded by the watermark horizon, work per
    * micro-batch ∝ |batch| × collision rate.
    *
    * Candidate de-dup across bands uses collect_set (the streaming
    * substitute for the batch `.distinct()` — a bare distinct would be
    * an unbounded stateful dedup); the ANN top-1 is a null-skipping
    * struct-MIN ((−sim, c_id): sim desc, id asc — the batch window's
    * order) inside the same aggregate. */
  def servingIngestStream(docs: Dataset[ServeDoc],
                          corpusHashes: DataFrame, // (cch) distinct
                          bloomBits: DataFrame, // (sb) set-bit table
                          corpusBands: DataFrame, // (db, bandb, mhb[, union_pop])
                          corpusTsets: DataFrame, // (db, tb, seg)
                          cents: DataFrame, // (cid, cv)
                          cells: DataFrame, // (c_cell, c_id, c_emb, seg)
                          nProbe: Int,
                          watermark: String = "10 minutes",
                          windowLen: String = "1 minute"): DataFrame = {
    val mBits = 4096
    def bit(c: Column, j: Int): Column =
      conv(substring(md5(concat(c, lit(s"#$j")).cast("binary")),
        1, 8), 16, 10).cast("long") % mBits

    val base = docs.toDF().withWatermark("ts", watermark)
    // ---- Bloom gate: stream-side filter, three broadcast bit probes.
    val hashed = base
      .select(col("doc_id"), col("ts"), col("text"), col("embedding"),
        md5(col("text").cast("binary")).as("ch"))
      .withColumn("b0", bit(col("ch"), 0))
      .withColumn("b1", bit(col("ch"), 1))
      .withColumn("b2", bit(col("ch"), 2))
    val bloomed = Seq("b0", "b1", "b2").foldLeft(hashed) { (df, c) =>
      df.join(broadcast(bloomBits.select(col("sb").as(s"hit_$c"))),
        col(c) === col(s"hit_$c"), "left_outer")
    }.select(col("doc_id"), col("ts"), col("text"), col("embedding"),
      col("ch"),
      when(col("hit_b0").isNotNull && col("hit_b1").isNotNull &&
        col("hit_b2").isNotNull, 1L).otherwise(0L).as("bloom_pass"))

    def nl(n: String, t: String) = lit(null).cast(t).as(n)
    // ---- Leg 0: one base row per doc (carries the gate verdict).
    val baseRows = bloomed.select(col("doc_id"), col("ts"),
      col("bloom_pass"), nl("exact_dup", "long"), nl("db", "long"),
      nl("jac", "double"), nl("lseg", "string"),
      nl("ann", "struct<nsim:double,c_id:bigint,sim:double,seg:string>"))
    // ---- Leg 1: bloom-GATED exact probe.
    val exactRows = bloomed.filter(col("bloom_pass") === 1)
      .join(corpusHashes, col("ch") === col("cch"), "left_outer")
      .select(col("doc_id"), col("ts"), nl("bloom_pass", "long"),
        when(col("cch").isNotNull, 1L).otherwise(0L).as("exact_dup"),
        nl("db", "long"), nl("jac", "double"), nl("lseg", "string"),
        nl("ann",
          "struct<nsim:double,c_id:bigint,sim:double,seg:string>"))
    // ---- Leg 2: LSH band probe (inner joins: collision rows only).
    val (tset, sig) = graft.llm.Dedup.sigCols(col("text"))
    val lshRows = graft.llm.PairMiner.score(bloomed
      .select(col("doc_id"), col("ts"), tset.as("ta"),
        posexplode_outer(sig).as(Seq("band", "mh")))
      // BandCap rule — matches the batch d33 probe it is pinned to.
      .join(graft.llm.Dedup.capCorpusBands(corpusBands),
        col("band") === col("bandb") && col("mh") === col("mhb"))
      .join(corpusTsets, "db")) // brings tb + the segment tag (db-unique)
      .select(col("doc_id"), col("ts"), nl("bloom_pass", "long"),
        nl("exact_dup", "long"), col("db"), col("jac"),
        col("seg").as("lseg"),
        nl("ann",
          "struct<nsim:double,c_id:bigint,sim:double,seg:string>"))
    // ---- Leg 3: ANN probe ([[annProbe]]), probed-cell equi-join,
    // exact cosine on the bounded candidate set.
    val annRows = annProbe(bloomed, "doc_id", cents, nProbe)
      // c_emb rides the cells artifact (round 12 — the batch twin's
      // join-free exact re-rank; see ensureAnnDeltaIndexWhere).
      .join(cells, col("p_cell") === col("c_cell") &&
        col("doc_id") =!= col("c_id"))
      .withColumn("sim", expr("cosine_sim(q_emb, c_emb)"))
      .select(col("doc_id"), col("ts"), nl("bloom_pass", "long"),
        nl("exact_dup", "long"), nl("db", "long"), nl("jac", "double"),
        nl("lseg", "string"),
        struct((-col("sim")).as("nsim"), col("c_id"), col("sim"),
          col("seg")).as("ann"))

    // ---- ONE stateful operator: the windowed per-doc roll-up.
    baseRows.unionByName(exactRows).unionByName(lshRows)
      .unionByName(annRows)
      .groupBy(window(col("ts"), windowLen), col("doc_id"))
      .agg(max(col("bloom_pass")).as("bloom_pass"),
        coalesce(max(col("exact_dup")), lit(0L)).as("exact_dup"),
        size(collect_set(col("db"))).cast("long").as("n_candidates"),
        size(collect_set(when(col("jac") >= 0.7, col("db"))))
          .cast("long").as("n_near"),
        size(collect_set(when(col("jac") >= 0.7 &&
          col("lseg") === "delta", col("db"))))
          .cast("long").as("n_near_delta"),
        min(col("ann")).as("best"))
      .select(col("doc_id"), col("bloom_pass"), col("exact_dup"),
        col("n_candidates"), col("n_near"), col("n_near_delta"),
        col("best.c_id").as("ann_nn"), col("best.sim").as("ann_sim"),
        col("best.seg").as("ann_seg"))
  }

  /** The ANN probe of both serving streams: each row with an embedding
    * is quantized inline (Similarity's ivfQv arithmetic; the norm is a
    * column, computed once per row) and probes the nProbe nearest cells
    * of the broadcast 1-row codebook array (exact integer L2, cid ties)
    * — no stateful op, no N×K shuffle. Returns (`id`, ts, q_emb,
    * p_cell), one row per probed cell. */
  private def annProbe(df: DataFrame, id: String, cents: DataFrame,
                       nProbe: Int): DataFrame = {
    import graft.llm.Similarity.{ivfIntDist, l2Norm, quantize}
    val centsArr = cents
      .agg(sort_array(collect_list(struct(col("cid"), col("cv"))))
        .as("carr"))
    df.filter(col("embedding").isNotNull)
      .select(col(id), col("ts"), col("embedding").as("q_emb"),
        transform(col("embedding"), x => x.cast("double")).as("ed"))
      .withColumn("nrm", l2Norm(col("ed")))
      .withColumn("qv", quantize(col("ed"), col("nrm")))
      .crossJoin(broadcast(centsArr))
      .withColumn("probe", slice(array_sort(
        transform(col("carr"), c => struct(
          ivfIntDist(col("qv"), c("cv")).as("dist"),
          c("cid").as("cid")))), 1, nProbe))
      .select(col(id), col("ts"), col("q_emb"),
        explode(col("probe.cid")).as("p_cell"))
  }

  /** An arriving retrieval query for the hybrid serving stream. */
  case class QueryEv(q_id: Long, ts: Timestamp, text: String,
                     embedding: Array[Float])
  /** One index hit flowing into the fusion operator (kind = lex|vec;
    * e9 carries the lexical fixed-point contribution, sim the vector
    * cosine). Public for the encoder. */
  case class HybridHit(q_id: Long, ts: Timestamp, kind: String,
                       c_id: Long, e9: Long, sim: Double)
  case class RrfRow(q_id: Long, rnk: Long, c_id: Long,
                    r_lex: Long, r_vec: Long, rrf: Double)

  /** Hybrid-RRF SERVING stream — batch v25b's incremental twin: queries
    * ARRIVE (q_id, ts, text, embedding) and probe the same two
    * MATERIALIZED artifacts the batch composite reads — the
    * dictionary-encoded postings index (BM25 shortlist in the identical
    * e9 DECIMAL(38) fixed point) and the IVF cells (codebook-argmin
    * probe → exact cosine re-rank) — then fuse with the same
    * 1/(60+rank) RRF and emit each query's top 10.
    *
    * The d33 serving discipline: every index side is a STREAM-STATIC
    * join (the stream never scans the corpus — the lexical leg touches
    * Σ df(query terms) postings via vocab-resolved int32 ids, the
    * vector leg nProbe cells), and the single stateful operator is the
    * final per-query fusion, a flatMapGroupsWithState whose per-key
    * state is ONE boolean serve-guard evicted at the watermark — a
    * query's hits all materialize in its own micro-batch (stream-static
    * joins are batch-local), so the fusion needs no cross-batch hit
    * state; the guard only suppresses a re-issued duplicate q_id inside
    * the horizon. Both shortlists truncate to depth 20 INSIDE the
    * group update, so per-invocation work is sort(Σ df) and the emitted
    * rows are bit-identical to the batch window ranks (score desc,
    * c_id asc ties, the exact integer e9 sums and the same cosine
    * doubles). Late queries (ts at or below the watermark) drop — the
    * standard streaming-vs-batch caveat the dedup twins share. */
  def hybridRrfStream(queries: Dataset[QueryEv],
                      postings: DataFrame, // (tid, c_id, tf, df, dl)
                      vocab: DataFrame, // (tok, tid, df)
                      stats: DataFrame, // 1 row (n, a)
                      cents: DataFrame, // (cid, cv)
                      cells: DataFrame, // (c_cell, c_id)
                      corpusEmb: DataFrame, // (c_id, c_emb)
                      nProbe: Int,
                      watermark: String = "10 minutes")
      : Dataset[RrfRow] = {
    import queries.sparkSession.implicits._
    val base = queries.toDF().withWatermark("ts", watermark)

    // ---- Lexical leg: distinct query tokens → vocab ids → postings
    // probe → per-hit e9 contribution (v25b's exact expression).
    val lexHits = base
      .select(col("q_id"), col("ts"),
        explode_outer(array_distinct(split(col("text"), " ")))
          .as("tok"))
      .join(vocab.select(col("tok"), col("tid")), "tok")
      .join(postings, "tid")
      .filter(col("q_id") =!= col("c_id"))
      .crossJoin(broadcast(stats))
      .withColumn("e9", expr(
        "CAST(CAST(2*n - 2*df + 1 AS DECIMAL(38,0))" +
          " * tf * 44 * a * 1000000000 div " +
          "(CAST(2*df + 1 AS DECIMAL(38,0))" +
          " * (20 * CAST(a AS DECIMAL(38,0)) * tf" +
          "    + 6 * CAST(a AS DECIMAL(38,0))" +
          "    + 18 * CAST(dl AS DECIMAL(38,0)) * n)) AS BIGINT)"))
      .select(col("q_id"), col("ts"), lit("lex").as("kind"),
        col("c_id"), col("e9"), lit(0.0).as("sim"))

    // ---- Vector leg: [[annProbe]] (the servingIngestStream shape),
    // probed-cell equi-join, exact cosine on the bounded candidate set.
    val vecHits = annProbe(base, "q_id", cents, nProbe)
      .join(cells, col("p_cell") === col("c_cell") &&
        col("q_id") =!= col("c_id"))
      .join(corpusEmb, "c_id")
      .select(col("q_id"), col("ts"), lit("vec").as("kind"),
        col("c_id"), lit(0L).as("e9"),
        expr("cosine_sim(q_emb, c_emb)").as("sim"))

    // The lex leg MUST sort by exact Long ordering (round-12 advice):
    // summed e9 scores live in the int64 fixed-point domain whose
    // magnitudes exceed 2^53 (that is why the batch BM25 first factor is
    // DECIMAL(38,0)), so a Double sort key could collapse distinct
    // scores and reorder ranks relative to batch v25b's exact integer
    // `score_e9 DESC` window — breaking the stream==batch rank pin. The
    // Double key survives only on the vec leg, whose sims are Doubles.
    def shortlist(scored: Seq[(Long, Long, Double)], lex: Boolean)
        : Map[Long, Long] = {
      val ranked =
        if (lex) scored.sortBy { case (c, e9, _) => (-e9, c) }
        else scored.sortBy { case (c, _, sim) => (-sim, c.toDouble) }
      ranked.take(20).zipWithIndex
        .map { case ((c, _, _), i) => c -> (i + 1L) }.toMap
    }

    def update(q: Long, evs: Iterator[HybridHit],
               state: GroupState[Boolean]): Iterator[RrfRow] = {
      if (state.hasTimedOut) { state.remove(); return Iterator.empty }
      val rows = evs.toSeq
      if (state.exists) return Iterator.empty // duplicate re-issue
      state.update(true)
      state.setTimeoutTimestamp(rows.map(_.ts.getTime).max)
      val lex = shortlist(rows.filter(_.kind == "lex")
        .groupBy(_.c_id).map { case (c, hs) =>
          (c, hs.map(_.e9).sum, 0.0)
        }.toSeq, lex = true)
      val vec = shortlist(rows.filter(_.kind == "vec")
        .map(h => (h.c_id, 0L, h.sim)).distinct, lex = false)
      val fused = (lex.keySet ++ vec.keySet).toSeq.map { c =>
        val rrf = lex.get(c).map(r => 1.0 / (60.0 + r)).getOrElse(0.0) +
          vec.get(c).map(r => 1.0 / (60.0 + r)).getOrElse(0.0)
        (c, lex.getOrElse(c, 0L), vec.getOrElse(c, 0L), rrf)
      }.sortBy { case (c, _, _, rrf) => (-rrf, c.toDouble) }.take(10)
      fused.zipWithIndex.map { case ((c, rl, rv, rrf), i) =>
        RrfRow(q, i + 1L, c, rl, rv, rrf)
      }.iterator
    }

    lexHits.unionByName(vecHits).as[HybridHit]
      .groupByKey(_.q_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(update)
  }
}
