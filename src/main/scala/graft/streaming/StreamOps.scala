package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders,
  KeyValueGroupedDataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming._

import scala.collection.mutable

/** Event mirrors the `events` table schema at microsecond precision
  * (FIXTURES.md) — the stream element type for every stateful operator.
  */
final case class Event(
    event_id: Long, ts: Timestamp, user_id: Long, event_type: String,
    value: Double, props: String)

final case class KeyCount(
    user_id: Long, event_type: String, n: Long, val_cents: Long)
final case class CountState(n: Long, cents: Long)

final case class SessState(n: Long, startUs: Long, lastUs: Long)
final case class ClosedSession(
    user_id: Long, n_events: Long, start_us: Long, end_us: Long)

final case class TopKState(vals: Seq[Long])
final case class UserTopK(user_id: Long, top1: Long, top2: Long, top3: Long)

final case class TypeHll(
    event_type: String, registers: Seq[Long], estimate: Double)

final case class TypeCms(event_type: String, cells: Seq[Long])

final case class TypeHdr(
    event_type: String, cells: Seq[Long], est_p50: Long, est_p99: Long)

final case class KmvState(hexes: Seq[String], nSeen: Long)
final case class TypeKmv(
    event_type: String, n_seen: Long, hexes: Seq[String], estimate: Long)

// t1/t2/t3: -1 = unset; maxTs: latest event time seen in any prior batch
// (-1 = none); nOoo: events that arrived in a later batch than one with a
// greater timestamp — the in-order-delivery contract violations
final case class FunnelState(
    t1: Long, t2: Long, t3: Long, maxTs: Long, nOoo: Long)
final case class UserStage(user_id: Long, stage: Long, n_ooo: Long)

// hasPrev distinguishes "no prior event" from a prior event whose type is
// the empty string (a "" sentinel in prevType would silently drop that
// user's first real transition, diverging from the batch twin's lag());
// maxTs/nOoo: same in-order-delivery guard as FunnelState
final case class MarkovState(
    prevType: String, hasPrev: Boolean, maxTs: Long, nOoo: Long)
final case class Transition(
    user_id: Long, prev_type: String, event_type: String, n_ooo: Long)

// EWMA keyed state — the O(1)-per-key form of the n6 recurrence: only the
// previous smoothed value survives (hasS distinguishes "no events yet"
// from s == 0.0); maxTs/nOoo: same in-order-delivery guard as FunnelState
final case class EwmaState(
    s: Double, hasS: Boolean, n: Long, maxTs: Long, nOoo: Long)
final case class UserEwma(
    user_id: Long, n_events: Long, ewma: Double, n_ooo: Long)

// CEP pattern state — n7's lazy-regex semantics as one boolean + one
// counter (arm on view, reset on error, fire+disarm on purchase)
final case class PatternState(
    armed: Boolean, conv: Long, maxTs: Long, nOoo: Long)
final case class UserConversions(
    user_id: Long, conversions: Long, n_ooo: Long)

// Streaming gap-fill emission — n5's bucket row with the minute as epoch
// minutes (the test derives the timestamp; keyed state must stay scalar)
final case class GapBucket(
    event_type: String, epoch_min: Long, n: Long, ff_cents: Long)
final case class PendingMinute(n: Long, cents: Long)

// Streaming interpolation emission — n8's bucket row (epoch-minute form)
final case class InterpBucket(
    event_type: String, epoch_min: Long, n: Long, li_cents: Long)

// Holt linear-trend state — n9's recurrence memory: level + trend (two
// doubles), plus x1 held ONLY until the second event arrives (the init
// l₂=x₂, b₂=x₂−x₁ needs it; -1 count distinguishes the phases)
final case class HoltState(
    l: Double, b: Double, x1: Double, n: Long, maxTs: Long, nOoo: Long)
final case class UserHolt(
    user_id: Long, n_events: Long, level: Double, trend: Double,
    n_ooo: Long)

// CUSUM keyed state — n10's recurrence memory: the one-sided cumulative
// sum plus the alarm counter, O(1) per key on an unbounded stream;
// maxTs/nOoo: same in-order-delivery guard as FunnelState
final case class CusumState(
    s: Double, alarms: Long, n: Long, maxTs: Long, nOoo: Long)
final case class UserCusum(
    user_id: Long, n_events: Long, alarms: Long, cusum: Double,
    n_ooo: Long)

// Holt–Winters keyed state — n12's recurrence memory: level, trend, the
// 24-slot seasonal profile, and the hour counter; `init` buffers ONLY the
// first season (≤ 24 values, then cleared — state is O(m) forever after);
// maxH/nOoo: the in-order guard on the hour index
final case class HwState(
    l: Double, b: Double, s: Seq[Double], t: Long, init: Seq[Double],
    maxH: Long, nOoo: Long)
// One dense hourly bucket (the gap-filled series element n12 folds;
// upstream = an hourly gapFillStream shape with zero-filled gaps)
final case class HourCount(event_type: String, epoch_hour: Long, x: Double)
final case class TypeHw(
    event_type: String, n_hours: Long, level: Double, trend: Double,
    forecast: Double, n_ooo: Long)

final case class ChunkIn(doc_id: Long, idx: Long, ck: String)
final case class ChunkDecision(
    doc_id: Long, idx: Long, ck: String, kept: Boolean)
// Streaming novelty input/output — one row per (doc, distinct trigram)
// with its in-doc count (j92's map-side pre-aggregation, as rows)
final case class GramIn(doc_id: Long, g: String, cnt: Long)
final case class GramDecision(
    doc_id: Long, g: String, cnt: Long, novel: Boolean)
final case class BucketTok(bucket: Long, btok: Long)
final case class BudgetCut(
    batch_id: Long, total_toks: Long, budget: Long,
    cut_bucket: Long, spent_above: Long)

// per-row contract violations (dup from doc_id-keyed seen-state, the four
// row-local flags from the LlmOps.docContractFlags seam)
final case class DocViol(
    doc_id: Long, dup: Long, text_empty: Long, n_chars_bad: Long,
    lang_bad: Long, too_short: Long)
// per-micro-batch violation DELTAS (see contractMonitorStream's contract)
final case class ContractDelta(
    batch_id: Long, doc_id_dup: Long, text_empty: Long, n_chars_bad: Long,
    lang_bad: Long, too_short: Long)

// per-micro-batch quality-gate funnel DELTAS (see qualityGateStream)
final case class FunnelDelta(
    batch_id: Long, source: String, verdict: String, n_docs: Long,
    n_chars_total: Long)

// k-anonymity monitoring: quasi-identifier tuples in, per-batch risk-band
// DELTAS out (see kAnonymityStream)
final case class QiIn(lang: String, source: String, len_bucket: Long)
final case class QiBandDelta(
    source: String, d_k1: Long, d_k2_4: Long, d_k5: Long, d_at_risk: Long)
final case class AnonDelta(
    batch_id: Long, source: String, groups_k1: Long, groups_k2_4: Long,
    groups_k5: Long, docs_at_risk: Long)

// SCD2 maintenance: dimension-change rows in, closed version rows out;
// valid dates travel as wall-clock strings (the j76/j78 tz discipline)
final case class DimIn(custkey: Long, dt: String, ok: Long, status: String)
final case class Scd2State(
    status: String, valid_from: String, version: Long)
final case class Scd2Closed(
    custkey: Long, status: String, valid_from: String, valid_to: String,
    version: Long)

// streaming PIT enrichment: a union of dimension-change and fact rows
// (kind 0 = dim, 1 = fact; at equal date the dim sorts first, matching
// the batch valid_from <= sd boundary), facts emerge tagged with the
// version in force at their own date
final case class PitIn(custkey: Long, kind: Int, dt: String, ok: Long,
    status: String, rev_c: Long)
final case class PitFact(custkey: Long, sd: String, version: Long,
    status: String, rev_c: Long)

/** SURVEY §2 category I — the stateful streaming operators themselves
  * (the reference's core surface), built on Structured Streaming.
  *
  * Design invariants:
  *  - every operator here has a batch-equivalent registered in
  *    `graft.queries.StatefulShadows` (or is literally the same code run on
  *    a batch DataFrame — window()/session_window() are mode-agnostic), and
  *    the MemoryStream differential suite asserts streaming == batch;
  *  - state lives in the executor-side state store keyed by the group key,
  *    so parallelism scales with key cardinality — no driver-side state;
  *  - watermarks bound state: windowed aggregates evict closed windows,
  *    timeouts/TTL evict idle keys (the 100 TB memory story);
  *  - no builder changes session config: the transformWithState builders
  *    (`*Tws`, gap-fill, interpolation, activity) need the RocksDB provider
  *    set on the session, and Spark rejects them on the HDFS store at the
  *    first batch with
  *    `UNSUPPORTED_FEATURE.STATE_STORE_MULTIPLE_COLUMN_FAMILIES`.
  */
object StreamOps {

  /** Exact epoch microseconds of a Timestamp. `getTime` alone truncates to
    * milliseconds; the sub-millisecond part lives in `getNanos` (which holds
    * the FULL sub-second nanos, so only its sub-ms remainder is added). The
    * events table carries microsecond timestamps, and the batch shadow (i3)
    * compares at full precision — truncation here would shift session
    * boundaries within 1 ms of the gap threshold.
    */
  def micros(ts: Timestamp): Long =
    ts.getTime * 1000L + (ts.getNanos / 1000L) % 1000L

  /** Integer cents with SQL rounding semantics (half away from zero),
    * bit-identical to the batch twins' `Q.cents` = `round(c*100)`. NOT
    * `math.round`, which is floor(x+0.5) and diverges on negative *.xx5
    * values (math.round(-0.125*100) = -12, SQL round gives -13) — the
    * streaming/batch differential would fail on negative event values.
    */
  def cents(v: Double): Long =
    BigDecimal(v * 100).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong

  /** One keyed state machine, written once for both state APIs: `step`
    * folds one key's rows of a micro-batch into the key's next state and
    * the rows it emits; `zero` is an unseen key's state; `name` names the
    * transformWithState ValueState (part of that API's checkpoint).
    */
  private final case class Machine[K, S, I, O](
      name: String, zero: S, step: (K, S, Iterator[I]) => (S, Iterator[O]))

  /** The GroupState (`flatMapGroupsWithState`) adapter of a [[Machine]]. */
  private def viaGroupState[K, I, S: Encoder, O: Encoder](
      groups: KeyValueGroupedDataset[K, I], m: Machine[K, S, I, O],
      mode: OutputMode): Dataset[O] =
    groups.flatMapGroupsWithState(mode, GroupStateTimeout.NoTimeout()) {
      (key: K, rows: Iterator[I], st: GroupState[S]) =>
        val (next, out) = m.step(key, st.getOption.getOrElse(m.zero), rows)
        st.update(next)
        out
    }

  /** The transformWithState adapter of a [[Machine]]: one ValueState per
    * key. State TTL is processing-time-based and requires that time mode.
    */
  private def viaValueState[K, I, S: Encoder, O: Encoder](
      groups: KeyValueGroupedDataset[K, I], m: Machine[K, S, I, O],
      mode: OutputMode, ttl: TTLConfig = TTLConfig.NONE): Dataset[O] =
    groups.transformWithState(
      new MachineProcessor(m, implicitly[Encoder[S]], ttl),
      if (ttl == TTLConfig.NONE) TimeMode.None() else TimeMode.ProcessingTime(),
      mode)

  private final class MachineProcessor[K, I, S, O](
      m: Machine[K, S, I, O], enc: Encoder[S], ttl: TTLConfig)
      extends StatefulProcessor[K, I, O] {
    @transient private var st: ValueState[S] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[S](m.name, enc, ttl)

    override def handleInputRows(
        key: K, rows: Iterator[I], timerValues: TimerValues): Iterator[O] = {
      val (next, out) =
        m.step(key, if (st.exists()) st.get() else m.zero, rows)
      st.update(next)
      out
    }
  }

  /** The in-order guard every order-sensitive event fold runs under:
    * within a batch, rows fold in (ts, event_id) order; across batches the
    * fold assumes in-order delivery and checks it. Before each event's
    * `step` (which also gets the event's µs time), `mark` writes the
    * state's guard fields: maxTs, the latest event time seen (-1 = none),
    * and nOoo, incremented by an event older than the latest one of an
    * earlier batch. A violated feed thus surfaces as n_ooo > 0 instead of
    * silently diverging from the batch twin.
    */
  private def inOrder[S](st: S, maxTs: Long, nOoo: Long,
      rows: Iterator[Event])(mark: (S, Long, Long) => S)(
      step: (S, Event, Long) => S): S = {
    var (mx, n) = (maxTs, nOoo)
    rows.toSeq.sortBy(e => (micros(e.ts), e.event_id)).foldLeft(st) {
      (s, e) =>
        val t = micros(e.ts)
        if (maxTs != -1L && t < maxTs) n += 1
        mx = math.max(mx, t)
        step(mark(s, mx, n), e, t)
    }
  }

  /** The canonical Spark-Streaming demo — streaming word count over a line
    * stream (`flatMap(_.split(" ")) → map((_,1)) → updateStateByKey` in the
    * classic API; incremental groupBy here). Batch twin: the h5_explode
    * oracle query.
    */
  def wordCount(lines: Dataset[String]): DataFrame =
    lines.select(explode(split(col("value"), " ")).as("word"))
      .groupBy("word")
      .agg(count(lit(1)).as("cnt"))

  /** i4 — running count/sum per (user, event_type): the modern
    * `updateStateByKey`. Emits the updated running totals for every key
    * touched by the micro-batch (update-mode semantics).
    */
  def runningCounts(events: Dataset[Event]): Dataset[KeyCount] = {
    import events.sparkSession.implicits._
    viaGroupState(events.groupByKey(e => (e.user_id, e.event_type)),
      counts[(Long, String)](identity), OutputMode.Update())
  }

  /** The running count/sum machine; `label` maps the group key to the
    * emitted (user_id, event_type).
    */
  private def counts[K](label: K => (Long, String)) =
    Machine[K, CountState, Event, KeyCount]("count", CountState(0L, 0L),
      (key, st, rows) => {
        var (n, c) = (st.n, st.cents)
        rows.foreach { e => n += 1; c += StreamOps.cents(e.value) }
        val (uid, typ) = label(key)
        (CountState(n, c), Iterator.single(KeyCount(uid, typ, n, c)))
      })

  /** Streaming distinct-cardinality per key with CONSTANT state: the keyed
    * state is j47's 256-register HLL file (one small array per key — 256
    * bytes of real state), never a distinct-user-id set, so a key with 10⁹
    * distinct users costs exactly what a key with 10 costs — the streaming
    * cardinality shape at 100 TB. Register merge is element-wise max
    * (idempotent), so a replayed micro-batch after failure recovery cannot
    * skew the registers the way a count would. Update-mode emission: every
    * key touched re-emits its current registers + estimate; the registers
    * are monotone per slot, so the differential test reduces the update
    * stream with a per-slot max. Batch twin: fold the same events through
    * the same Aggregator ([[graft.functions.HyperLogLog]]).
    */
  def distinctUsersHll(events: Dataset[Event]): Dataset[TypeHll] = {
    import events.sparkSession.implicits._
    import graft.functions.{HllSketch, HyperLogLog}
    events.groupByKey(_.event_type)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[Event], state: GroupState[HllSketch]) =>
          val sk = state.getOption.getOrElse(HyperLogLog.zero)
          rows.foreach(e => HyperLogLog.reduce(sk, e.user_id.toString))
          state.update(sk)
          TypeHll(key, sk.registers.toSeq, HyperLogLog.estimate(sk))
      }
  }

  /** Streaming per-key frequency sketch — [[distinctUsersHll]]'s twin for
    * COUNTS: keyed state is j44's 1,024-cell CMS (8 KB per key, constant
    * regardless of how many distinct users flow through), so "how often
    * has user u hit event type t" is answerable from bounded state on an
    * unbounded stream — the alternative, a per-(type, user) count map,
    * grows with distinct users. Cells only ever grow, so the update stream
    * is per-slot monotone and the differential test reduces it with max;
    * batch twin: the same Aggregator folded over the union of batches.
    */
  def userFreqCms(events: Dataset[Event]): Dataset[TypeCms] = {
    import events.sparkSession.implicits._
    import graft.functions.{CmsSketch, CountMinSketch}
    events.groupByKey(_.event_type)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[Event], state: GroupState[CmsSketch]) =>
          val sk = state.getOption.getOrElse(CountMinSketch.zero)
          rows.foreach(e => CountMinSketch.reduce(sk, e.user_id.toString))
          state.update(sk)
          TypeCms(key, sk.cells.toSeq)
      }
  }

  /** Streaming per-key quantiles — the third member of the bounded-state
    * sketch family next to [[distinctUsersHll]] (distinct) and
    * [[userFreqCms]] (frequency): keyed state is d16's 1,024-cell HDR
    * histogram (8 KB per key, constant no matter how many observations
    * stream through), so "p50/p99 value per event type" is answerable from
    * bounded state on an unbounded stream — the production "p99 latency
    * per service" shape, where the exact alternative must retain every
    * observation. Cells are additive (only ever grow), so the update
    * stream is per-slot monotone and the differential test reduces it with
    * max; estimates carry the d16 1/16-relative-error guarantee. Batch
    * twin: the same Aggregator folded over the union of batches.
    */
  def valueQuantilesHdr(events: Dataset[Event]): Dataset[TypeHdr] = {
    import events.sparkSession.implicits._
    import graft.functions.{HdrHistogram, HdrSketch}
    events.groupByKey(_.event_type)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[Event], state: GroupState[HdrSketch]) =>
          val sk = state.getOption.getOrElse(HdrHistogram.zero)
          // exact cents; negative values clamp to cell 0 per the sketch's
          // non-negative contract (events.value is non-negative in this
          // generator — the clamp is the loud-degrade, not a silent path)
          rows.foreach(e => HdrHistogram.reduce(sk,
            math.max(0L, math.round(e.value * 100))))
          state.update(sk)
          TypeHdr(key, sk.cells.toSeq,
            HdrHistogram.quantile(sk, 1, 2),
            HdrHistogram.quantile(sk, 99, 100))
      }
  }

  /** Streaming per-key KMV distinct sketch — the fourth member of the
    * bounded-state family (HLL = distinct estimate, CMS = frequency,
    * HDR = quantiles): keyed state is a K=64 minimum-values synopsis of
    * md5-hashed user ids, the streaming form of j60's batch sketch. Below
    * K distinct values the sketch IS the exact distinct set (estimate
    * exact); past K it estimates (K-1)·M/τ — and unlike HLL, KMV states
    * can also answer cross-key overlap questions (j60's pairwise stage)
    * offline, for sketches built with the same hash over the same element
    * domain (this one hashes user ids; j60 double-hashes content chunks,
    * so the two are NOT directly joinable — the construction, not the
    * sketch rows, is what transfers). Insertion is set-union + sort +
    * take-K: idempotent
    * under replay (a re-delivered micro-batch cannot change the sketch),
    * which is the recovery story a plain count lacks. The update stream
    * re-emits the full sketch per touched key with a monotone n_seen, so
    * the differential test reads the last emission per key and compares
    * against the batch fold.
    */
  def distinctUsersKmv(events: Dataset[Event], k: Int = 64)
      : Dataset[TypeKmv] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.event_type)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[Event], state: GroupState[KmvState]) =>
          val prev = state.getOption.getOrElse(KmvState(Vector.empty, 0L))
          val fresh = rows.map(e => StreamOps.kmvHex(e.user_id)).toVector
          val next = KmvState(
            (prev.hexes ++ fresh).distinct.sorted.take(k),
            prev.nSeen + fresh.size)
          state.update(next)
          TypeKmv(key, next.nSeen, next.hexes, kmvEstimate(next.hexes, k))
      }
  }

  /** Same construction as j60's hash (first 8 hex chars of an md5 with a
    * "kmv:" domain prefix) — fixed-width, so lexicographic order IS
    * numeric order over the 16^8 value space. Element domains differ:
    * here the md5 input is the raw id, in j60 it is the chunk's md5.
    */
  def kmvHex(id: Long): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"kmv:$id".getBytes("UTF-8"))
    d.take(4).map(b => f"${b & 0xff}%02x").mkString
  }

  /** (K-1)·M/τ past saturation; the exact set size below it. */
  def kmvEstimate(hexes: Seq[String], k: Int): Long =
    if (hexes.size < k) hexes.size.toLong
    else (k - 1).toLong * 4294967296L /
      math.max(1L, java.lang.Long.parseLong(hexes.max, 16))

  /** Running top-k event values (cents) per user — the keyed-state shape
    * whose per-key footprint is BOUNDED at k longs no matter how long the
    * stream runs (contrast: a running collect_list grows without bound).
    * Update-mode emission: every key touched by a micro-batch re-emits its
    * current top-k, padded with -1 below k values. Fixed output columns
    * (not a list) because each rank is monotone nondecreasing over updates,
    * which is what lets the differential test reduce the update stream with
    * max() per rank. Batch twin: sorted collect_list sliced to k.
    */
  def runningTopK(events: Dataset[Event]): Dataset[UserTopK] = {
    import events.sparkSession.implicits._
    val k = 3 // UserTopK carries exactly 3 rank columns
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[Event], state: GroupState[TopKState]) =>
          val merged =
            (state.getOption.map(_.vals).getOrElse(Seq.empty) ++
              rows.map(e => StreamOps.cents(e.value)))
              .sorted(Ordering[Long].reverse).take(k)
          state.update(TopKState(merged))
          val p = merged.padTo(k, -1L)
          UserTopK(uid, p(0), p(1), p(2))
      }
  }

  /** Streaming conversion-funnel state machine — the signature stateful-
    * analytics shape: per user, track earliest view (t1), first click after
    * it (t2), first purchase after that (t3); stage = how far the user got
    * (0–3). State is THREE longs per user regardless of stream length.
    * Within a batch, rows are sorted by (ts, event_id) before folding;
    * across batches the machine assumes in-order delivery (same contract as
    * the watermark-less forms — an out-of-order view cannot retroactively
    * re-open a click window). The contract is GUARDED, not just assumed:
    * state tracks the max event time seen, and any event arriving in a
    * later batch than one with a greater timestamp increments the emitted
    * `n_ooo` counter — a violated feed surfaces as n_ooo > 0 (and is
    * asserted 0 in the differential test) instead of silently diverging
    * from the batch twin. Update-mode emission; stage and n_ooo are
    * monotone nondecreasing, so the differential test reduces with max().
    * Batch twin: the registered `n1_funnel` oracle query.
    */
  def funnelStages(events: Dataset[Event]): Dataset[UserStage] = {
    import events.sparkSession.implicits._
    val None_ = -1L
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[Event], state: GroupState[FunnelState]) =>
          val st0 = state.getOption.getOrElse(
            FunnelState(None_, None_, None_, None_, 0L))
          val st = inOrder(st0, st0.maxTs, st0.nOoo, rows)(
              (s, m, n) => s.copy(maxTs = m, nOoo = n)) { (st, e, t) =>
            e.event_type match {
              case "view" if st.t1 == None_ => st.copy(t1 = t)
              case "click" if st.t1 != None_ && st.t2 == None_ &&
                  t > st.t1 =>
                st.copy(t2 = t)
              case "purchase" if st.t2 != None_ && st.t3 == None_ &&
                  t > st.t2 =>
                st.copy(t3 = t)
              case _ => st
            }
          }
          state.update(st)
          val stage =
            if (st.t3 != None_) 3L
            else if (st.t2 != None_) 2L
            else if (st.t1 != None_) 1L
            else 0L
          UserStage(uid, stage, st.nOoo)
      }
  }

  /** Streaming twin of the registered `n4_markov_transitions` batch
    * query — the funnel state machine generalized from a fixed 3-stage
    * pattern to the full prev→next transition matrix: per user, state is
    * just the PREVIOUS event type (one string + the two guard longs —
    * bounded regardless of stream length), and each arriving event emits
    * one (prev_type, event_type) transition row. Emissions are increments
    * (each observed transition exactly once), so the differential test
    * aggregates the emission stream with groupBy().count() and compares
    * against n4's batch matrix. Same in-order contract and n_ooo guard as
    * [[funnelStages]]: within a batch rows fold in (ts, event_id) order;
    * a cross-batch out-of-order arrival increments the emitted n_ooo
    * instead of silently diverging from the batch twin. At scale, wrap
    * the key with a timeout/TTL (as [[runningCountsTws]] does) to evict
    * dormant users.
    */
  def markovTransitions(events: Dataset[Event]): Dataset[Transition] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update(),
        GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[Event], state: GroupState[MarkovState]) =>
          val st0 = state.getOption.getOrElse(
            MarkovState("", hasPrev = false, -1L, 0L))
          val out = Vector.newBuilder[Transition]
          val st = inOrder(st0, st0.maxTs, st0.nOoo, rows)(
              (s, m, n) => s.copy(maxTs = m, nOoo = n)) { (st, e, _) =>
            if (st.hasPrev)
              out += Transition(uid, st.prevType, e.event_type, st.nOoo)
            st.copy(prevType = e.event_type, hasPrev = true)
          }
          state.update(st)
          out.result().iterator
      }
  }

  /** Streaming per-user EWMA — the twin of the registered `n6_ewma` batch
    * query and the REASON EWMA is the streaming-native statistic: the
    * recurrence s_i = 0.75·s_{i-1} + 0.25·x_i needs only the previous
    * smoothed value, so keyed state is ONE double (plus the guard longs) —
    * constant per key on an unbounded stream, where the batch form's
    * per-key history list grows with it. First event seeds s = x (the
    * list_reduce init convention the batch oracle uses), every later event
    * applies the same two correctly-rounded IEEE ops in the same order, so
    * after the same events the streaming state is BIT-identical to the
    * batch fold — the differential test compares at full precision, no
    * rounding slack. Same in-order contract and n_ooo guard as
    * [[funnelStages]]: within a batch rows fold in (ts, event_id) order;
    * cross-batch out-of-order arrivals are counted, not silently folded
    * (EWMA is order-sensitive — an unguarded late event would diverge from
    * the batch twin invisibly). Update-mode emission of the running
    * (n, ewma) per touched key; at scale, add a TTL
    * (as [[runningCountsTws]] does) to evict dormant users.
    */
  def ewmaStream(events: Dataset[Event]): Dataset[UserEwma] = {
    import events.sparkSession.implicits._
    viaGroupState(events.groupByKey(_.user_id), ewma, OutputMode.Update())
  }

  /** [[ewmaStream]]'s machine on transformWithState — the dual-API
    * discipline (the spec runs the same batches through both and asserts
    * identical final rows).
    */
  def ewmaStreamTws(events: Dataset[Event]): Dataset[UserEwma] = {
    import events.sparkSession.implicits._
    viaValueState(events.groupByKey(_.user_id), ewma, OutputMode.Update())
  }

  private val ewma = Machine[Long, EwmaState, Event, UserEwma]("ewma",
    EwmaState(0.0, hasS = false, 0L, -1L, 0L), (uid, st0, rows) => {
      val st = inOrder(st0, st0.maxTs, st0.nOoo, rows)(
          (s, m, n) => s.copy(maxTs = m, nOoo = n)) { (st, e, _) =>
        val s = if (st.hasS) 0.75 * st.s + 0.25 * e.value else e.value
        st.copy(s = s, hasS = true, n = st.n + 1)
      }
      (st, Iterator.single(UserEwma(uid, st.n, st.s, st.nOoo)))
    })

  /** Folds one batch into a MapState in memory: reads `state` once,
    * merges every row into its entry (`add`, from `zero` for an unseen
    * entry) and writes each entry the rows touched back once. Store
    * traffic is one scan plus one put per distinct entry, whatever the row
    * count. With an order-free `add` (a sum, a count), puts and the
    * returned map do not depend on the order of the rows or of the scan.
    * Returns the merged map: every entry, touched or not.
    */
  private def foldInto[K, V, R](state: MapState[K, V], rows: Iterator[R],
      zero: V)(key: R => K)(add: (V, R) => V): mutable.HashMap[K, V] = {
    val all = readAll(state)
    val touched = mutable.HashSet.empty[K]
    rows.foreach { r =>
      val k = key(r)
      all(k) = add(all.getOrElse(k, zero), r)
      touched += k
    }
    touched.foreach(k => state.updateValue(k, all(k)))
    all
  }

  private def readAll[K, V](state: MapState[K, V]): mutable.HashMap[K, V] =
    mutable.HashMap.from(state.iterator())

  /** Adds one event to its minute's (n, cents); the gap processors' fold. */
  private def addToMinute(p: PendingMinute, e: Event): PendingMinute =
    PendingMinute(p.n + 1, p.cents + cents(e.value))

  private def minuteOf(e: Event): Long = micros(e.ts) / 60000000L

  /** Streaming gap-fill — the twin of the registered `n5_gapfill_ffill`
    * batch query, and the operator that shows WHY densification needs
    * event-time timers: a gap bucket has no event to trigger its emission,
    * so something else must fire when the bucket becomes final. Here that
    * is the WATERMARK: per event_type, arriving events accumulate into a
    * pending per-minute map, and every batch/timer drain emits, IN ORDER,
    * each minute whose end the watermark has passed: observed minutes with
    * their (n, cents), gap minutes with n=0 and the last observed cents
    * (locf) — exactly n5's row, finalized exactly once (Append mode). An
    * event-time timer parked at the newest pending minute's end flushes
    * the tail when the watermark moves without new rows for this key.
    * Ordering needs no n_ooo guard: Spark drops rows behind the watermark,
    * and every surviving row lands in a bucket that is by definition not
    * yet final — the watermark contract IS the order contract. Emission
    * never runs past the key's max observed minute, so after the watermark
    * passes a type's whole series the emitted stream equals the batch n5
    * series row-for-row (asserted in the differential with a far-future
    * sentinel on a throwaway type to push the global watermark).
    *
    * `pending` holds the observed minutes not yet emitted: at most the
    * distinct minutes one batch spans plus the watermark lag (about 4.4k
    * entries per type for a batch of 15 days of events), never the whole
    * series. Each batch is folded per minute before the state store is
    * touched ([[foldInto]]), and a drain walks the minutes from that
    * in-memory map, so the store sees one scan and one put per distinct
    * minute, one removal per emitted observed minute, and one write each
    * of `maxSeen`, `lastMin` and `lastCents` — not a call per event or per
    * emitted gap minute.
    */
  final class GapFillProcessor
      extends StatefulProcessor[String, Event, GapBucket] {
    @transient private var pending: MapState[Long, PendingMinute] = _
    @transient private var lastMin: ValueState[Long] = _   // last emitted
    @transient private var lastCents: ValueState[Long] = _ // locf carry
    @transient private var maxSeen: ValueState[Long] = _   // newest minute

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      pending = getHandle.getMapState[Long, PendingMinute]("pending",
        Encoders.scalaLong, Encoders.product[PendingMinute], TTLConfig.NONE)
      lastMin = getHandle.getValueState[Long](
        "lastMin", Encoders.scalaLong, TTLConfig.NONE)
      lastCents = getHandle.getValueState[Long](
        "lastCents", Encoders.scalaLong, TTLConfig.NONE)
      maxSeen = getHandle.getValueState[Long](
        "maxSeen", Encoders.scalaLong, TTLConfig.NONE)
    }

    /** Emit every complete minute of `pend` (the key's whole pending map)
      * in order; re-arm the flush timer. `firedAt` is the just-expired
      * timer's stamp when called from handleExpiredTimer — it is already
      * gone, deleting it again only logs a spurious WARN. */
    private def drain(key: String, wmMs: Long,
        pend: collection.Map[Long, PendingMinute],
        firedAt: Long = Long.MinValue): Iterator[GapBucket] = {
      val out = Vector.newBuilder[GapBucket]
      val mx = if (maxSeen.exists()) maxSeen.get() else Long.MinValue
      if (mx != Long.MinValue) {
        // first drain starts at the key's first observed minute (in-order
        // feed ⇒ it is the series min, matching batch n5's span start)
        val from =
          if (lastMin.exists()) lastMin.get() + 1
          else if (pend.isEmpty) Long.MaxValue
          else pend.keysIterator.min
        var cur = from
        var carry = if (lastCents.exists()) lastCents.get() else 0L
        // bucket [m, m+1) is final once the watermark reaches its end
        while (cur <= mx && (cur + 1) * 60000L <= wmMs) {
          pend.get(cur) match {
            case Some(p) =>
              carry = p.cents
              out += GapBucket(key, cur, p.n, carry)
              pending.removeKey(cur)
            case None => out += GapBucket(key, cur, 0L, carry)
          }
          cur += 1
        }
        if (cur != from) {
          lastMin.update(cur - 1)
          lastCents.update(carry)
        }
        // park the flush timer at the newest pending minute's end so the
        // tail emits when the watermark advances without new rows here
        getHandle.listTimers().foreach(t =>
          if (t != firedAt) getHandle.deleteTimer(t))
        if (cur <= mx) getHandle.registerTimer((mx + 1) * 60000L)
      }
      out.result().iterator
    }

    override def handleInputRows(
        key: String, rows: Iterator[Event],
        timerValues: TimerValues): Iterator[GapBucket] = {
      val pend = foldInto(pending, rows,
        PendingMinute(0L, 0L))(minuteOf)(addToMinute)
      // every pending minute was seen, so the newest pending one is the
      // newest seen unless an earlier batch saw a newer one
      val m = pend.keysIterator.max
      if (!maxSeen.exists() || m > maxSeen.get()) maxSeen.update(m)
      drain(key, timerValues.getCurrentWatermarkInMs(), pend)
    }

    override def handleExpiredTimer(
        key: String, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[GapBucket] =
      drain(key, timerValues.getCurrentWatermarkInMs(), readAll(pending),
        expiredTimerInfo.getExpiryTimeInMs())
  }

  def gapFillStream(events: Dataset[Event]): Dataset[GapBucket] = {
    import events.sparkSession.implicits._
    events.withWatermark("ts", "10 minutes")
      .groupByKey(_.event_type)
      .transformWithState(new GapFillProcessor,
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Streaming linear interpolation — n8's twin and [[gapFillStream]]'s
    * BOUNDED-LOOKAHEAD sibling: locf is causal (a gap needs only the last
    * anchor) but interpolation needs the NEXT observed bucket, so a gap
    * row cannot finalize when the watermark passes it — it finalizes when
    * the watermark passes its next ANCHOR. The state trick: gap rows are
    * never buffered at all. They are arithmetic between two anchors
    * (c_p + (c_n−c_p)·Δ DIV span, n8's exact integer form), so state is
    * the last emitted anchor (two longs) + the pending observed minutes
    * (bounded as in [[GapFillProcessor]], and folded per minute the same
    * way); each observed minute that finalizes first RECONSTRUCTS and
    * emits the whole gap run behind it, then itself. The anchor is read
    * and written once per drain. Emission remains exactly-once append, and
    * once the watermark passes a type's series the output equals the
    * registered batch n8 row-for-row (differential-pinned with the
    * sentinel).
    */
  final class GapInterpProcessor
      extends StatefulProcessor[String, Event, InterpBucket] {
    @transient private var pending: MapState[Long, PendingMinute] = _
    @transient private var anchorPos: ValueState[Long] = _
    @transient private var anchorCents: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      pending = getHandle.getMapState[Long, PendingMinute]("pending",
        Encoders.scalaLong, Encoders.product[PendingMinute], TTLConfig.NONE)
      anchorPos = getHandle.getValueState[Long](
        "anchorPos", Encoders.scalaLong, TTLConfig.NONE)
      anchorCents = getHandle.getValueState[Long](
        "anchorCents", Encoders.scalaLong, TTLConfig.NONE)
    }

    private def drain(key: String, wmMs: Long,
        pend: collection.Map[Long, PendingMinute],
        firedAt: Long = Long.MinValue): Iterator[InterpBucket] = {
      val out = Vector.newBuilder[InterpBucket]
      val (ready, later) = pend.keys.partition(m => (m + 1) * 60000L <= wmMs)
      if (ready.nonEmpty) {
        var anchor =
          if (anchorPos.exists()) Some((anchorPos.get(), anchorCents.get()))
          else None
        ready.toSeq.sorted.foreach { m =>
          val p = pend(m)
          anchor.foreach { case (pp, cp) =>
            // the gap run behind this anchor: pure arithmetic, no state
            // (Scala's Long division truncates toward zero — n8's DIV)
            var g = pp + 1
            while (g < m) {
              out += InterpBucket(key, g, 0L,
                cp + ((p.cents - cp) * (g - pp)) / (m - pp))
              g += 1
            }
          }
          out += InterpBucket(key, m, p.n, p.cents)
          anchor = Some((m, p.cents))
          pending.removeKey(m)
        }
        anchor.foreach { case (pp, cp) =>
          anchorPos.update(pp)
          anchorCents.update(cp)
        }
      }
      getHandle.listTimers().foreach(t =>
        if (t != firedAt) getHandle.deleteTimer(t))
      if (later.nonEmpty)
        getHandle.registerTimer((later.max + 1) * 60000L)
      out.result().iterator
    }

    override def handleInputRows(
        key: String, rows: Iterator[Event],
        timerValues: TimerValues): Iterator[InterpBucket] =
      drain(key, timerValues.getCurrentWatermarkInMs(), foldInto(pending,
        rows, PendingMinute(0L, 0L))(minuteOf)(addToMinute))

    override def handleExpiredTimer(
        key: String, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[InterpBucket] =
      drain(key, timerValues.getCurrentWatermarkInMs(), readAll(pending),
        expiredTimerInfo.getExpiryTimeInMs())
  }

  def gapInterpStream(events: Dataset[Event]): Dataset[InterpBucket] = {
    import events.sparkSession.implicits._
    events.withWatermark("ts", "10 minutes")
      .groupByKey(_.event_type)
      .transformWithState(new GapInterpProcessor,
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Streaming Holt linear-trend smoothing — the twin of the registered
    * `n9_holt_trend` batch query: keyed state is the recurrence's entire
    * memory — level + trend (two doubles; x1 is held only until the second
    * event seeds l₂=x₂, b₂=x₂−x₁) — constant per key on an unbounded
    * stream. Every step applies the identical correctly-rounded IEEE ops
    * in the identical order as the batch fold (b's level reference is
    * re-derived with the same expression), so after the same events the
    * state is BIT-identical to the batch struct accumulator; the
    * differential compares at n9's own 6-dp round. Same in-order contract
    * and n_ooo guard as [[ewmaStream]] — trend smoothing is even more
    * order-sensitive than the level (a swapped pair flips the sign of an
    * early trend contribution).
    */
  def holtStream(events: Dataset[Event]): Dataset[UserHolt] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[Event], state: GroupState[HoltState]) =>
          val st0 = state.getOption.getOrElse(
            HoltState(0.0, 0.0, 0.0, 0L, -1L, 0L))
          val st = inOrder(st0, st0.maxTs, st0.nOoo, rows)(
              (s, m, n) => s.copy(maxTs = m, nOoo = n)) { (st, e, _) =>
            st.n match {
              case 0L => st.copy(l = e.value, b = 0.0, x1 = e.value, n = 1L)
              case 1L => st.copy(l = e.value, b = e.value - st.x1, n = 2L)
              case n =>
                val nl = 0.25 * e.value + 0.75 * (st.l + st.b)
                val nb = 0.25 * (0.25 * e.value + 0.75 * (st.l + st.b)
                  - st.l) + 0.75 * st.b
                st.copy(l = nl, b = nb, n = n + 1)
            }
          }
          state.update(st)
          UserHolt(uid, st.n, st.l, st.b, st.nOoo)
      }
  }

  /** Streaming CUSUM drift alarm — the twin of the registered
    * `n10_cusum_alarm` batch query, and the deployment CUSUM was INVENTED
    * for (Page 1954 framed it as a sequential test: decide after every
    * observation): keyed state is the one-sided cumulative sum plus the
    * alarm counter — two fields, constant per key on an unbounded stream,
    * where the batch form's per-key history grows with it. Each event
    * applies s ← max(0, s + x − 60) with alarm-and-reset at s > 80 — the
    * identical correctly-rounded IEEE ops in the identical order as the
    * batch fold's `greatest`/compare, so after the same events the state
    * is BIT-identical to the batch struct accumulator (the differential
    * compares alarms exactly and s at n10's own 6-dp round). Same
    * in-order contract and n_ooo guard as [[ewmaStream]]: CUSUM is
    * order-sensitive through the max(0, ·) clamp — a late event folded
    * last can fire an alarm the true order drains away — so cross-batch
    * violations are counted, never silently folded. Update-mode emission
    * of the running (n, alarms, s) per touched key; alarms is monotone
    * nondecreasing, so downstream alerting can consume the stream
    * idempotently by max().
    */
  def cusumStream(events: Dataset[Event]): Dataset[UserCusum] = {
    import events.sparkSession.implicits._
    viaGroupState(events.groupByKey(_.user_id), cusum, OutputMode.Update())
  }

  /** [[cusumStream]]'s machine on transformWithState — the dual-API
    * discipline (the spec runs the same batches through both and asserts
    * identical final rows).
    */
  def cusumStreamTws(events: Dataset[Event]): Dataset[UserCusum] = {
    import events.sparkSession.implicits._
    viaValueState(events.groupByKey(_.user_id), cusum, OutputMode.Update())
  }

  private val cusum = Machine[Long, CusumState, Event, UserCusum]("cusum",
    CusumState(0.0, 0L, 0L, -1L, 0L), (uid, st0, rows) => {
      val st = inOrder(st0, st0.maxTs, st0.nOoo, rows)(
          (s, m, n) => s.copy(maxTs = m, nOoo = n)) { (st, e, _) =>
        val raw = math.max(0.0, st.s + e.value - 60.0)
        if (raw > 80.0)
          st.copy(s = 0.0, alarms = st.alarms + 1, n = st.n + 1)
        else st.copy(s = raw, n = st.n + 1)
      }
      (st, Iterator.single(UserCusum(uid, st.n, st.alarms, st.s, st.nOoo)))
    })

  /** Streaming Holt–Winters — the twin of the registered
    * `n12_holt_winters` batch query, consuming the DENSE hourly series (a
    * gap-filled bucket stream — compose with an hourly [[GapFillProcessor]]
    * shape upstream; gap hours arrive as x = 0). Keyed state is level +
    * trend + the 24-slot seasonal profile + the hour counter — O(m) per
    * key on an unbounded stream, where the batch form's per-key series
    * grows with it. The first season buffers into `init` (≤ 24 values,
    * cleared at the 24th bucket when l₀/b₀/s₀ compute by the batch
    * fold's exact expressions); every later bucket applies the identical
    * correctly-rounded IEEE ops in the identical order as the batch
    * struct accumulator, so after the same buckets the state is
    * BIT-identical (the differential compares at n12's own 6-dp round).
    * In-order contract on the hour index with the n_ooo guard made
    * STRICT and REJECTING: unlike the event streams (where equal
    * timestamps are legitimate concurrent events and a late fold is
    * still a fold of real data), each hour bucket must be strictly
    * newer than every bucket already folded — an at-least-once
    * redelivery of the last hour (EQUAL index) would advance t and
    * rotate the seasonal slot just as silently as a stale one. A
    * violating bucket is therefore counted in n_ooo AND NOT FOLDED
    * (r15 advice: counting alone still corrupted the profile): the
    * recurrence is hour-INDEXED, so folding a duplicate is never "late
    * but true data", it is a slot rotation that no reordering makes
    * right — rejection is what keeps the state bit-identical to the
    * batch fold over the true series. The guard compares against the
    * RUNNING max (not the batch-start snapshot), catching intra-batch
    * duplicates as well.
    * DOMAIN NOTE: the batch twin registers only series with ≥ 25 hours
    * (one season + one step); this online form also emits rows for
    * still-initializing keys (t ≤ 24, forecast 0.0) — consumers and the
    * differential filter on n_hours ≥ 25 for batch-comparable output.
    */
  def holtWintersStream(buckets: Dataset[HourCount]): Dataset[TypeHw] = {
    import buckets.sparkSession.implicits._
    buckets.groupByKey(_.event_type)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (typ: String, rows: Iterator[HourCount],
         state: GroupState[HwState]) =>
          var st = state.getOption.getOrElse(
            HwState(0.0, 0.0, Nil, 0L, Nil, -1L, 0L))
          rows.toSeq.sortBy(_.epoch_hour).foreach { r =>
            if (st.maxH != -1L && r.epoch_hour <= st.maxH) {
              st = st.copy(nOoo = st.nOoo + 1) // counted, NOT folded
            } else {
              st = st.copy(maxH = r.epoch_hour)
              if (st.t < 24L) {
                val ini = st.init :+ r.x
                if (ini.length == 24) {
                  val l0 = ini.tail.foldLeft(ini.head)(_ + _) / 24.0
                  val b0 = (ini(23) - ini(0)) / 23.0
                  st = st.copy(l = l0, b = b0, s = ini.map(_ - l0),
                    t = 24L, init = Nil)
                } else st = st.copy(init = ini, t = st.t + 1)
              } else {
                val pos = (st.t % 24L).toInt // 0-based slot of this hour
                val sOld = st.s(pos)
                val nl = 0.25 * (r.x - sOld) + 0.75 * (st.l + st.b)
                val nb = 0.25 * (0.25 * (r.x - sOld) + 0.75 * (st.l + st.b)
                  - st.l) + 0.75 * st.b
                val ns = 0.25 * (r.x - (0.25 * (r.x - sOld)
                  + 0.75 * (st.l + st.b))) + 0.75 * sOld
                st = st.copy(l = nl, b = nb, s = st.s.updated(pos, ns),
                  t = st.t + 1)
              }
            }
          }
          state.update(st)
          val fc = if (st.t >= 24L)
            st.l + st.b + st.s((st.t % 24L).toInt) else 0.0
          TypeHw(typ, st.t, st.l, st.b, fc, st.nOoo)
      }
  }

  /** Streaming CEP pattern counter — the twin of the registered
    * `n7_seq_pattern` batch query, and the reason that query pins the LAZY
    * quantifier: leftmost-shortest non-overlapping `v[^e]*?p` matching is
    * exactly this machine (arm on view, reset on error, fire+disarm on
    * purchase), so per-user state is one boolean + one counter — no symbol
    * buffer, no backtracking, constant per key on an unbounded stream
    * (Flink CEP's NFA state for this pattern is the same two fields).
    * Same in-order contract and n_ooo guard as [[funnelStages]];
    * conversions is monotone nondecreasing, so the differential test
    * reduces the update stream with max() and compares against the batch
    * twin's regexp_count.
    */
  def conversionPatternStream(
      events: Dataset[Event]): Dataset[UserConversions] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[Event],
         state: GroupState[PatternState]) =>
          val st0 = state.getOption.getOrElse(
            PatternState(armed = false, 0L, -1L, 0L))
          val st = inOrder(st0, st0.maxTs, st0.nOoo, rows)(
              (s, m, n) => s.copy(maxTs = m, nOoo = n)) { (st, e, _) =>
            e.event_type match {
              case "view"  => st.copy(armed = true)
              case "error" => st.copy(armed = false)
              case "purchase" if st.armed =>
                st.copy(armed = false, conv = st.conv + 1)
              case _ => st
            }
          }
          state.update(st)
          UserConversions(uid, st.conv, st.nOoo)
      }
  }

  /** i1 — event-time tumbling window aggregate. Identical code path in batch
    * and streaming; the watermark only matters in streaming (late-drop +
    * state eviction).
    */
  def tumblingCounts(events: Dataset[Event]): DataFrame =
    events.withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(expr("cast(round(value * 100) as bigint)")).as("val_cents"))
      .select(col("window.start").as("ws"), col("event_type"), col("n"),
        col("val_cents"))

  /** i2 — sliding window (1 h window, 15 min slide): each event in 4 panes. */
  def slidingCounts(events: Dataset[Event]): DataFrame =
    events.withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("ws"), col("n"))

  /** i3 — gap-based session windows (native session_window operator). */
  def sessionWindows(events: Dataset[Event]): DataFrame =
    events.withWatermark("ts", "30 minutes")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("start_ts"), col("user_id"),
        col("n_events"))

  /** i9 — DYNAMIC-gap session windows: the native session_window operator
    * with a per-row gap expression (an 'error' ends engagement in 2 min,
    * anything else keeps the 30-min gap). Streaming and batch share this
    * exact code (session_window is mode-agnostic); the registered batch
    * shadow i9_dynamic_session re-derives the same sessions relationally
    * (running-max interval ends) and QueriesSpec pins the two equal, so
    * the oracle transitively checks THIS operator too.
    */
  def sessionWindowsDynamic(events: Dataset[Event]): DataFrame =
    events.withWatermark("ts", "30 minutes")
      .groupBy(session_window(col("ts"),
        graft.queries.StatefulShadows.dynamicGapCol), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("start_ts"),
        col("user_id"), col("n_events"))

  /** i5 (classic form) — sessionization with explicit state + event-time
    * timeout: state for an idle key is closed and emitted when the watermark
    * passes last-event + gap. This is `mapWithState`+`StateSpec.timeout` in
    * Structured Streaming clothes.
    */
  def sessionizeWithTimeout(
      events: Dataset[Event], gapMinutes: Int = 30): Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    val gapUs = gapMinutes * 60000000L
    events.withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, rows: Iterator[Event], state: GroupState[SessState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(ClosedSession(uid, s.n, s.startUs, s.lastUs))
          } else {
            val sorted = rows.toSeq.sortBy(e => (micros(e.ts), e.event_id))
            var closed = List.empty[ClosedSession]
            var cur = state.getOption
            sorted.foreach { e =>
              val us = micros(e.ts)
              cur match {
                // a within-watermark late event may precede the stored
                // last/start — extend the session, never regress it
                case Some(s) if math.abs(us - s.lastUs) <= gapUs =>
                  cur = Some(s.copy(n = s.n + 1,
                    startUs = math.min(s.startUs, us),
                    lastUs = math.max(s.lastUs, us)))
                case Some(s) =>
                  closed ::= ClosedSession(uid, s.n, s.startUs, s.lastUs)
                  cur = Some(SessState(1L, us, us))
                case None =>
                  cur = Some(SessState(1L, us, us))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // close when the event-time watermark passes last + gap
              state.setTimeoutTimestamp(s.lastUs / 1000L + gapMinutes * 60000L)
            }
            closed.reverse.iterator
          }
      }
  }

  /** i5 (modern form) — transformWithState with ValueState + TTL:
    * per-user running count (event_type "all") whose state auto-expires
    * after `ttl`. TTL bounds state for abandoned keys without any timer
    * bookkeeping — the 100 TB default for "state must not grow forever".
    */
  def runningCountsTws(
      events: Dataset[Event],
      ttl: TTLConfig = TTLConfig.NONE): Dataset[KeyCount] = {
    import events.sparkSession.implicits._
    viaValueState(events.groupByKey(_.user_id),
      counts[Long](uid => (uid, "all")), OutputMode.Update(), ttl)
  }

  /** i5 (full surface) — transformWithState with ListState + event-time
    * TIMERS: per-user activity tracker keeping the last 3 event ids and a
    * running count; when the event-time watermark passes last-event + gap,
    * the registered timer fires and `handleExpiredTimer` emits a final
    * "expired" summary and clears all state. This is the complete modern
    * replacement for `mapWithState` + `StateSpec.timeout`.
    */
  final case class UserActivity(
      user_id: Long, kind: String, n: Long, recent: Seq[Long])

  final class ActivityProcessor(gapMs: Long)
      extends StatefulProcessor[Long, Event, UserActivity] {
    @transient private var recent: ListState[Long] = _
    @transient private var cnt: ValueState[Long] = _
    @transient private var lastSeen: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      recent = getHandle.getListState[Long](
        "recent", Encoders.scalaLong, TTLConfig.NONE)
      cnt = getHandle.getValueState[Long](
        "cnt", Encoders.scalaLong, TTLConfig.NONE)
      lastSeen = getHandle.getValueState[Long](
        "lastSeen", Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(
        key: Long, rows: Iterator[Event],
        timerValues: TimerValues): Iterator[UserActivity] = {
      var n = if (cnt.exists()) cnt.get() else 0L
      // a late-only batch must not pull the idle deadline backward: fold the
      // stored last-activity time into the max
      var lastMs = if (lastSeen.exists()) lastSeen.get() else Long.MinValue
      rows.foreach { e =>
        n += 1
        recent.appendValue(e.event_id)
        lastMs = math.max(lastMs, e.ts.getTime)
      }
      lastSeen.update(lastMs)
      val keep = recent.get().toSeq.takeRight(3)
      recent.clear()
      keep.foreach(recent.appendValue)
      cnt.update(n)
      // re-arm the idle timer: fire when the watermark passes last + gap
      getHandle.listTimers().foreach(t => getHandle.deleteTimer(t))
      getHandle.registerTimer(lastMs + gapMs)
      Iterator.single(UserActivity(key, "update", n, keep))
    }

    override def handleExpiredTimer(
        key: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[UserActivity] = {
      val n = if (cnt.exists()) cnt.get() else 0L
      val r = recent.get().toSeq
      cnt.clear()
      recent.clear()
      lastSeen.clear()
      Iterator.single(UserActivity(key, "expired", n, r))
    }
  }

  def activityWithTimers(
      events: Dataset[Event], gapMinutes: Int = 30): Dataset[UserActivity] = {
    import events.sparkSession.implicits._
    events.withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .transformWithState(new ActivityProcessor(gapMinutes * 60000L),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** i5 (full surface, cont.) — transformWithState with MapState: per-user
    * map of event_type → running count, the sub-keyed state shape
    * (`MapState` completes the ValueState/ListState/MapState trio; at scale
    * RocksDB stores each map entry as its own KV pair, so updating one
    * event_type never rewrites the whole map). Emits the updated per-user
    * snapshot as a sorted CSV — comparable against the batch
    * groupBy(user, type) pivot in the differential suite.
    */
  final case class TypeCounts(
      user_id: Long, n_total: Long, type_counts_csv: String)

  final class TypeCountProcessor
      extends StatefulProcessor[Long, Event, TypeCounts] {
    @transient private var counts: MapState[String, Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      counts = getHandle.getMapState[String, Long](
        "counts", Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(
        key: Long, rows: Iterator[Event],
        timerValues: TimerValues): Iterator[TypeCounts] = {
      val all = foldInto(counts, rows, 0L)(_.event_type)((n, _) => n + 1L)
      val csv = all.map { case (t, n) => s"$t:$n" }.toSeq.sorted.mkString(",")
      // n_total is monotone per key — the differential test uses it to pick
      // each key's final snapshot from the update-mode output
      Iterator.single(TypeCounts(key, all.values.sum, csv))
    }
  }

  def typeCountsTws(events: Dataset[Event]): Dataset[TypeCounts] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new TypeCountProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  /** i6 — streaming dedup on the event id, state bounded by the watermark. */
  def dedupEvents(events: Dataset[Event]): Dataset[Event] =
    events.withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** `foreachBatch` sink — arbitrary per-micro-batch output logic (upserts,
    * multi-sink fan-out, JDBC, …); the escape hatch when no built-in sink
    * fits. The handle receives the batch DataFrame and its monotonically
    * increasing batch id (for idempotent writes on retry).
    */
  def runningCountsForeachBatch(
      events: Dataset[Event])(
      handle: (org.apache.spark.sql.Dataset[
        org.apache.spark.sql.Row], Long) => Unit): StreamingQuery =
    runningCounts(events).toDF().writeStream
      .outputMode("update")
      .foreachBatch(handle)
      .start()

  /** Idempotent per-micro-batch parquet write — the EXACTLY-ONCE sink
    * recipe for non-transactional targets. `foreachBatch` is at-least-once
    * BY CONTRACT: after a crash between the sink write and the checkpoint
    * commit, restart re-runs the batch with the SAME batchId, and a naive
    * append sink double-writes it (StreamingSpec demonstrates the
    * duplicate on a forced replay). Keying the write on batchId makes the
    * retry a no-op: each batch owns the `batch_id=<id>` partition and a
    * replay OVERWRITES that partition (dynamic partition overwrite — only
    * the replayed batch's partition is touched, every other batch's
    * output is untouched) with byte-identical content, so the table
    * converges to exactly-once CONTENTS under any number of retries.
    * This is the parquet shape of the standard recipe; a transactional
    * target would key a MERGE/upsert on batchId the same way. At scale
    * the partition column also gives readers batch-aligned pruning, and
    * compaction can later fold small batch partitions without touching
    * the streaming path.
    */
  def idempotentBatchWrite(batch: org.apache.spark.sql.Dataset[
      org.apache.spark.sql.Row], batchId: Long, path: String): Unit =
    batch.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(path)

  /** i4's running counts through the exactly-once sink: update-mode
    * emissions land in per-batch parquet partitions, checkpointed, safe
    * against sink-side replay. The seam `runningCountsForeachBatch`
    * documents, closed with the idempotent write.
    */
  def runningCountsExactlyOnce(events: Dataset[Event], path: String,
      checkpoint: String): StreamingQuery =
    runningCounts(events).toDF().writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch((df: org.apache.spark.sql.Dataset[
        org.apache.spark.sql.Row], id: Long) =>
        idempotentBatchWrite(df, id, path))
      .start()

  /** Stream–static enrichment join: the streaming side joins a static
    * dimension DataFrame re-resolved per micro-batch — no state required,
    * the canonical "enrich the stream" pattern. At scale the static side is
    * broadcast (dimension-sized) so the stream never shuffles.
    */
  def enrichWithStatic(
      events: Dataset[Event],
      dim: DataFrame, joinCol: String): DataFrame = {
    // dataframe-qualified refs: stays unambiguous even when the dimension's
    // key column is itself named user_id
    val ev = events.toDF()
    ev.join(broadcast(dim), ev("user_id") === dim(joinCol), "left")
  }

  /** Stream–stream interval join: purchases matched to clicks by the same
    * user within the preceding 10 minutes. Watermarks on BOTH sides bound
    * the join state (each side buffers only rows inside the interval +
    * watermark horizon).
    */
  /** Shared interval-join core: one definition of the sides, watermarks,
    * and interval condition so the inner and left-outer variants can never
    * drift apart.
    */
  private def purchaseClickIntervalJoin(
      events: Dataset[Event], joinType: String): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "10 minutes")
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "10 minutes")
    purchases.join(clicks,
      expr("""p_user = c_user AND
              c_ts >= p_ts - interval 10 minutes AND c_ts <= p_ts"""),
      joinType)
  }

  def purchaseClickJoin(events: Dataset[Event]): DataFrame =
    purchaseClickIntervalJoin(events, "inner")

  /** Stream–stream LEFT OUTER interval join: purchases with no preceding
    * click still emit (null-extended) — but only once the watermark passes
    * the end of their join interval, when the engine can PROVE no matching
    * click can still arrive. The delayed null emission is the semantics
    * that distinguishes streaming outer joins from batch ones; state stays
    * bounded exactly as in the inner form.
    */
  def purchaseClickLeftJoin(events: Dataset[Event]): DataFrame =
    purchaseClickIntervalJoin(events, "left_outer")

  /** Stream–stream FULL OUTER interval join — both directions null-extend
    * after watermark proof: purchases with no preceding click AND clicks
    * that never led to a purchase within the interval each emit once the
    * engine can prove no match can still arrive. Same shared core, same
    * bounded state.
    */
  def purchaseClickFullJoin(events: Dataset[Event]): DataFrame =
    purchaseClickIntervalJoin(events, "full_outer")

  /** Stream–stream LEFT SEMI interval join — the EXISTS form: a purchase
    * with at least one preceding click emits exactly once, with no click
    * columns and no row multiplication when several clicks match (the
    * inner join's cardinality hazard on fan-out matches). Same shared
    * core, same watermark-bounded state; a purchase emits as soon as its
    * first match arrives and is then dropped from state.
    */
  def purchaseClickSemiJoin(events: Dataset[Event]): DataFrame =
    purchaseClickIntervalJoin(events, "left_semi")

  /** Streaming incremental near-dup: a stream of new documents
    * `(doc_id BIGINT, text STRING)` probed per micro-batch against a
    * prebuilt STATIC near-dup index (`LlmOps.buildNeardupIndex`) — the
    * batch j40 delta-vs-index shape as continuous ingestion. foreachBatch
    * runs the SAME probe code as the batch query (`probeNeardupIndex`), so
    * batch/stream parity is by construction; the differential test asserts
    * it. Per-doc results are complete within the doc's own micro-batch (a
    * document is one row), so batching granularity cannot change the
    * output. The index pair is built once by the caller — at scale it is a
    * persisted band table, and each micro-batch costs O(batch + matched
    * buckets), never a corpus re-dedup.
    */
  def neardupProbeStream(
      deltaDocs: DataFrame,
      index: (DataFrame, DataFrame),
      sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    deltaDocs.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        sink(graft.queries.LlmOps.probeNeardupIndex(batch, index), id)
      }
      .start()

  /** Streaming PQ index maintenance — j63/j64's ingest path: vectors
    * arriving on a stream encode map-only against the STATIC collection's
    * codebooks (subspace codebooks + IVF coarse centroids are fixed once
    * built; re-deriving them per batch would fork the index), emitting
    * (vec_id, pq_code, err_q, cell) per vector — exactly what an index
    * writer appends to the codes table a j64-style search later scans.
    * Runs [[graft.queries.LlmOps.pqEncodeBatch]] per micro-batch, so
    * batch/stream parity is by construction; for a KEY-UNIQUE stream
    * (vec_id appears once — the index-ingest contract; an upsert stream
    * must latest-wins dedup first, j54's job) per-vector output is one row
    * regardless of batching, so batching granularity cannot change the
    * result (the [[neardupProbeStream]] contract — see pqEncodeBatch's
    * precondition for why duplicate ids in one batch would chimera-merge).
    * At 100 TB the codebook side is a persisted 128-row + 16-row table, so
    * each micro-batch costs O(batch) — no pass over the existing
    * collection.
    */
  def pqEncodeStream(
      vecs: DataFrame,
      staticEmb: DataFrame,
      sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // the codebooks never change across the stream's lifetime: derive them
    // ONCE and truncate (tiny 128-row / 16-row tables), so a micro-batch
    // costs O(batch) — without this every batch re-scanned the static
    // collection twice just to rebuild constants
    val (cents, icents) = graft.queries.LlmOps.pqCodebooks(staticEmb)
    val (centsT, icentsT) =
      (graft.Q.truncateLineage(cents), graft.Q.truncateLineage(icents))
    vecs.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        sink(graft.queries.LlmOps.pqEncodeAgainst(batch, centsT, icentsT),
          id)
      }
      .start()
  }

  /** Streaming multi-index cell maintenance — j67/j68's ingest path:
    * vectors arriving on a stream get their IMI product cell map-only
    * against the STATIC collection's half codebooks (fixed once built,
    * like [[pqEncodeStream]]'s — re-deriving per batch would fork the
    * index), emitting (vec_id, cell_lo, cell_hi, cell, d2_lo, d2_hi) =
    * the rows an index writer appends to the cell table j68 routes by.
    * Runs `IvfKMeans.imiAssignAgainst` per micro-batch — the SAME seam
    * the registered j67 uses, so batch/stream parity is by construction
    * and the differential test asserts it row-for-row. Per-vector output
    * is one row for a key-unique stream regardless of batching; each
    * micro-batch costs O(batch · 2·kHalf) — the codebook side is two
    * truncated kHalf-row tables, no pass over the existing collection.
    */
  def imiAssignStream(
      vecs: DataFrame,
      staticEmb: DataFrame,
      kHalf: Int,
      sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val (cl, ch) = graft.operators.IvfKMeans.imiHalfCodebooks(
      graft.operators.IvfKMeans.quantize(staticEmb), kHalf)
    val (clT, chT) = (graft.Q.truncateLineage(cl), graft.Q.truncateLineage(ch))
    vecs.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        sink(graft.operators.IvfKMeans.imiAssignAgainst(
          graft.operators.IvfKMeans.quantize(batch), clT, chT, kHalf), id)
      }
      .start()
  }

  /** Streaming ANN query serving — the request direction of the index
    * [[imiAssignStream]] maintains: PROBE vectors arrive on a stream and
    * each micro-batch is answered against the STATIC collection's
    * multi-index (cell table + half codebooks derived ONCE from the
    * collection and truncated — per-batch re-derivation would both fork
    * the index and re-scan the collection per batch), emitting
    * (probe_id, vec_id, d2, rk) top-k rows per probe. Runs
    * `IvfKMeans.imiProbeCells` + `imiSearchTopK` per micro-batch — the
    * SAME seams the registered j68 search composes, so batch/stream
    * parity is by construction and the differential test asserts it
    * row-for-row against the registered query. Each probe's answer
    * depends only on its own vector and the static index, so batching
    * granularity cannot change results. Per-batch cost: 2·kHalf distance
    * evals + a kHalf²-row sort per probe, then a candidates-sized vector
    * fetch — never a collection scan, the j68 100 TB shape.
    */
  def imiSearchStream(
      probes: DataFrame,
      staticEmb: DataFrame,
      kHalf: Int,
      nprobe: Int,
      topK: Int,
      sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.IvfKMeans
    val qe = graft.Q.truncateLineage(IvfKMeans.quantize(staticEmb))
    val (cl, ch) = IvfKMeans.imiHalfCodebooks(qe, kHalf)
    val (clT, chT) = (graft.Q.truncateLineage(cl), graft.Q.truncateLineage(ch))
    val cellTable = graft.Q.truncateLineage(
      IvfKMeans.imiAssignAgainst(qe, clT, chT, kHalf)
        .select("vec_id", "cell"))
    probes.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val pq = IvfKMeans.quantize(
            batch.select(col("probe_id").as("vec_id"), col("embedding")))
          .select(col("vec_id").as("probe_id"), col("qv").as("pqv"))
        val pc = IvfKMeans.imiProbeCells(pq, clT, chT, kHalf, nprobe)
        sink(IvfKMeans.imiSearchTopK(cellTable, qe, pc, topK), id)
      }
      .start()
  }

  /** Streaming first-occurrence chunk dedup — j75's twin on an unbounded
    * corpus: (doc_id, idx, chunk-hash) rows arrive with their documents
    * (chunked by the SAME `LlmOps.docChunks` seam the batch rewrite uses,
    * so boundaries cannot fork); keyed state per chunk hash records
    * whether the hash was ever kept, the FIRST occurrence is kept and
    * every later repetition dropped. Intra-batch occurrences are ordered
    * by (doc_id, idx) before deciding, so when ingestion respects corpus
    * order the decisions equal batch j75's min-struct argmin ROW FOR ROW
    * (the differential asserts it); under out-of-order arrival they are
    * the streaming-correct first-ARRIVAL semantics — the batch argmin is
    * unknowable online. State is one boolean per distinct chunk hash
    * (the batch plan's one-shuffled-row-per-distinct-chunk, as state),
    * partitioned by the hash key across executors — at 100 TB the store
    * shards with key cardinality and RocksDB spills it off-heap.
    */
  def chunkDedupStream(chunks: Dataset[ChunkIn]): Dataset[ChunkDecision] = {
    import chunks.sparkSession.implicits._
    viaGroupState(chunks.groupByKey(_.ck), chunkFirst, OutputMode.Append())
  }

  /** [[chunkDedupStream]]'s machine on transformWithState: one
    * `ValueState[Boolean]` per chunk hash, decision-compatible with the
    * MGWS form by construction — StreamingSpec asserts both forms equal
    * the batch j75 decisions.
    */
  def chunkDedupStreamTws(chunks: Dataset[ChunkIn]): Dataset[ChunkDecision] = {
    import chunks.sparkSession.implicits._
    viaValueState(chunks.groupByKey(_.ck), chunkFirst, OutputMode.Append())
  }

  private val chunkFirst = firstArrival[String, ChunkIn, ChunkDecision,
    (Long, Long)](r => (r.doc_id, r.idx))((ck, r, first) =>
    ChunkDecision(r.doc_id, r.idx, ck, first))

  /** The seen-set machine of the first-occurrence folds: a key's rows
    * decide in `order`, and only the first row the key ever sees is
    * `first`.
    */
  private def firstArrival[K, I, O, T: Ordering](order: I => T)(
      emit: (K, I, Boolean) => O) =
    Machine[K, Boolean, I, O]("seen", false, (key, seen0, rows) => {
      var seen = seen0
      val out = rows.toSeq.sortBy(order).map { r =>
        val first = !seen
        seen = true
        emit(key, r, first)
      }
      (seen, out.iterator)
    })

  /** Streaming per-doc n-gram novelty — j92's twin on an unbounded
    * corpus, the one corpus-diagnostic family that still lacked an
    * online form: per-(doc, trigram) count rows arrive with their
    * documents (pre-aggregated per doc by the SAME `LlmOps.docTrigrams`
    * seam the batch query shuffles, so gram boundaries cannot fork);
    * keyed state per gram records whether the gram was ever seen, the
    * FIRST document to carry it gets the gram's full in-doc count
    * credited as novel, every later one zero. Intra-batch occurrences
    * are ordered by doc_id before deciding, so when ingestion respects
    * corpus order the decisions equal batch j92's min-struct
    * first-occurrence credit ROW FOR ROW (the differential asserts the
    * aggregated per-doc scores match exactly); under out-of-order
    * arrival they are the streaming-correct first-ARRIVAL semantics —
    * the batch argmin is unknowable online. State is one boolean per
    * distinct gram, [[chunkDedupStream]]'s seen-set shape: partitioned
    * by the gram key across executors, RocksDB spills it off-heap at
    * 100 TB. Per-doc novelty_bp is one stateless downstream aggregation
    * of the emitted decisions (Σ novel·cnt / Σ cnt).
    */
  def ngramNoveltyStream(grams: Dataset[GramIn]): Dataset[GramDecision] = {
    import grams.sparkSession.implicits._
    viaGroupState(grams.groupByKey(_.g), gramFirst, OutputMode.Append())
  }

  /** [[ngramNoveltyStream]]'s machine on transformWithState (the dual-API
    * discipline every seen-set operator here follows) — the spec runs both
    * forms and asserts they fold to the same batch j92 scores.
    */
  def ngramNoveltyStreamTws(
      grams: Dataset[GramIn]): Dataset[GramDecision] = {
    import grams.sparkSession.implicits._
    viaValueState(grams.groupByKey(_.g), gramFirst, OutputMode.Append())
  }

  private val gramFirst = firstArrival[String, GramIn, GramDecision, Long](
    _.doc_id)((g, r, first) => GramDecision(r.doc_id, g, r.cnt, first))

  /** Streaming point-in-time enrichment — j79's twin and the engine's
    * stream–TABLE join (the Kafka-Streams KTable shape): ONE keyed
    * operator consumes the UNION of the dimension-change stream and the
    * fact stream, maintains the same per-key SCD2 state [[scd2Stream]]
    * does, and tags each fact with the version in force at its own date.
    * The load-bearing observation: under in-order event-time arrival the
    * as-of lookup needs NO version history — the OPEN version at the
    * moment a fact passes through IS the interval containing its date
    * (batch j79 proves the same fact via the interval chain law), so
    * state stays one (status, valid_from, version) triple per key, the
    * smallest any PIT server can carry. Facts preceding their key's
    * first version tag version 0 / "(none)" — identical to j79's
    * explicit bucket, so nothing silently drops in either form. Kind
    * ordering inside a batch (dim before fact at equal date) reproduces
    * the batch boundary convention valid_from <= sd exactly.
    */
  def pitEnrichStream(rows: Dataset[PitIn]): Dataset[PitFact] = {
    import rows.sparkSession.implicits._
    rows.groupByKey(_.custkey)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        (ck: Long, rs: Iterator[PitIn], st: GroupState[Scd2State]) =>
          var cur = st.getOption.orNull
          val out = List.newBuilder[PitFact]
          rs.toSeq.sortBy(r => (r.dt, r.kind, r.ok)).foreach { r =>
            if (r.kind == 0) {
              cur = scd2Step(cur, r.status, r.dt)._1
            } else {
              if (cur == null) out += PitFact(ck, r.dt, 0L, "(none)", r.rev_c)
              else out += PitFact(ck, r.dt, cur.version, cur.status, r.rev_c)
            }
          }
          if (cur != null) st.update(cur)
          out.result().iterator
      }
  }

  /** [[scd2Stream]]'s machine on transformWithState: a ValueState holds
    * the one open (status, valid_from, version) triple per dimension key.
    */
  def scd2StreamTws(dims: Dataset[DimIn]): Dataset[Scd2Closed] = {
    import dims.sparkSession.implicits._
    viaValueState(dims.groupByKey(_.custkey), scd2, OutputMode.Append())
  }

  /** Streaming token-budget histogram maintenance — j71's twin: documents
    * arrive with their (n_tok, priority, bucket) derived by the SAME
    * `LlmOps.docPriorities` seam the batch selection uses, keyed state
    * holds one running token total PER PRIORITY BUCKET, and each
    * micro-batch re-derives the selection cut (budget = half the tokens
    * seen so far; cut bucket = where the priority-descending cumulative
    * crosses it). The scale property is j71's, carried online: the
    * priority is a ratio bounded in [0, 1e6], so the bucket key space is
    * ≤ 101 at ANY corpus size — the keyed state is constant-size, and
    * the per-batch driver mirror that orders it is a ≤101-entry map (the
    * same bounded-driver-state class as the CC convergence fingerprint:
    * bounded by the VALUE RANGE, never the corpus). Each emitted
    * [[BudgetCut]] answers "where does the quality bar sit right now" —
    * the data-mixing control signal — without any corpus-ordered state.
    *
    * RESTART CORRECTNESS: update-mode only re-emits buckets that receive
    * new data, so a restarted query would leave the driver mirror missing
    * every quiet bucket and the cut would silently under-count. When
    * `checkpointDir` is set, the first micro-batch after (re)start seeds
    * the mirror from the checkpoint's OWN state via the `statestore`
    * batch source (latest committed batch — exactly the pre-restart
    * totals, since the current batch commits only after this sink
    * returns), then lets that batch's fresh emissions overwrite their
    * buckets. Without a checkpoint the query is memory-only and a cut is
    * valid only within an unbroken run.
    */
  def budgetHistogramStream(
      docs: DataFrame,
      sink: BudgetCut => Unit,
      checkpointDir: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import docs.sparkSession.implicits._
    val spark = docs.sparkSession
    val keyed = docs.select(col("bucket"), col("n_tok"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (b: Long, rows: Iterator[(Long, Long)], st: GroupState[Long]) =>
          val tot = st.getOption.getOrElse(0L) + rows.map(_._2).sum
          st.update(tot)
          BucketTok(b, tot)
      }
    val mirror = scala.collection.mutable.Map.empty[Long, Long]
    var seeded = false
    val writer = keyed.writeStream.outputMode("update")
    checkpointDir.foreach(writer.option("checkpointLocation", _))
    writer
      .foreachBatch { (batch: Dataset[BucketTok], id: Long) =>
        if (!seeded) {
          seeded = true
          checkpointDir.foreach { cp =>
            // benign ONLY on a first-ever start: no committed batch means
            // no state to seed. Distinguish that from a real statestore
            // read failure by the commit log — swallowing the latter
            // would silently reintroduce the under-count this reseed
            // exists to fix, so it must fail the query loudly instead.
            val hasCommits = {
              val commits = new java.io.File(cp, "commits")
              commits.isDirectory &&
                commits.listFiles().exists(f => f.getName.forall(_.isDigit))
            }
            if (hasCommits) {
              // drill the single key/state field generically (primitive
              // Long key and Long state encode as one-field structs) on
              // the same statestore surface readKeyedState exposes
              val st = readKeyedState(spark, cp)
              val kf = st.schema("key").dataType
                .asInstanceOf[org.apache.spark.sql.types.StructType]
                .fields.head.name
              val gs = st.select(col("value.groupState").as("g"))
              val vf = gs.schema("g").dataType
                .asInstanceOf[org.apache.spark.sql.types.StructType]
                .fields.head.name
              st.select(col(s"key.$kf").cast("long"),
                  col(s"value.groupState.$vf").cast("long"))
                .collect()
                .foreach(r => mirror(r.getLong(0)) = r.getLong(1))
            }
          }
        }
        batch.collect().foreach(bt => mirror(bt.bucket) = bt.btok)
        val total = mirror.values.sum
        val budget = total / 2
        var cumBefore = 0L
        var cut = -1L
        var spentAbove = 0L
        mirror.toSeq.sortBy(-_._1).foreach { case (b, t) =>
          if (cut == -1L && cumBefore < budget && cumBefore + t > budget) {
            cut = b; spentAbove = cumBefore
          }
          cumBefore += t
        }
        sink(BudgetCut(id, total, budget, cut, spentAbove))
      }
      .start()
  }

  /** Streaming data-contract monitoring — j76's twin: documents arrive as
    * a stream and every micro-batch emits the DELTA of contract
    * violations it contributed, per constraint. The row-local flags come
    * from the SAME `LlmOps.docContractFlags` seam batch j76 aggregates
    * (one definition — the surfaces cannot fork); the uniqueness
    * constraint, which needs cross-row visibility, is doc_id-keyed
    * seen-state (the i6/chunk-dedup state class: one boolean per distinct
    * key, sharded — the batch plan's count−distinct as keyed state).
    * Emitting DELTAS, not running totals, is the restart-correct
    * contract: the seen-state lives in the checkpoint, so a restarted
    * query keeps attributing each duplicate exactly once, and cumulative
    * tracking composes downstream as a plain sum (no driver-held total to
    * lose — the lesson the budget mirror's reseed path encodes).
    * Per-batch delta aggregation happens DISTRIBUTED (a 5-column sum,
    * one row to the driver), never by collecting rows.
    */
  def contractMonitorStream(
      docs: DataFrame,
      sink: ContractDelta => Unit,
      checkpointDir: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import docs.sparkSession.implicits._
    val viols = graft.queries.LlmOps.docContractFlags(docs)
      .as[(Long, Long, Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update(),
        GroupStateTimeout.NoTimeout()) {
        (id: Long, rows: Iterator[(Long, Long, Long, Long, Long)],
            st: GroupState[Boolean]) =>
          var seen = st.getOption.getOrElse(false)
          val out = rows.map { case (_, te, ncb, lb, ts) =>
            val dup = if (seen) 1L else 0L
            seen = true
            DocViol(id, dup, te, ncb, lb, ts)
          }.toList
          st.update(seen)
          out.iterator
      }
    val writer = viols.writeStream.outputMode("update")
    checkpointDir.foreach(writer.option("checkpointLocation", _))
    writer
      .foreachBatch { (batch: Dataset[DocViol], id: Long) =>
        val a = batch.agg(sum("dup"), sum("text_empty"),
          sum("n_chars_bad"), sum("lang_bad"), sum("too_short"))
          .collect()(0)
        def g(i: Int): Long = if (a.isNullAt(i)) 0L else a.getLong(i)
        sink(ContractDelta(id, g(0), g(1), g(2), g(3), g(4)))
      }
      .start()
  }

  /** Streaming quality-gate monitoring — j83's twin: documents arrive as
    * a stream and every micro-batch emits its own per-(source, verdict)
    * funnel DELTA. The verdict — six rules, first-fail attribution,
    * sorted-run repetition fold included — comes from the SAME
    * `LlmOps.funnelVerdicts` seam batch j83 aggregates (one definition —
    * the surfaces cannot fork), and it is row-local, so the stream needs
    * NO keyed state at all. Delivery contract: `foreachBatch` is
    * AT-LEAST-ONCE (a crash between sink() and the checkpoint commit
    * re-delivers that batch on restart — the exactly-once sink's doc
    * above demonstrates the replay), so every delta carries its
    * `batch_id` and the consumer must fold LAST-WRITE-WINS PER BATCH_ID
    * (idempotent under replay; both StreamingSpec differentials fold
    * exactly this way). Under that contract restarts neither lose nor
    * double-count: a clean restart resumes at the next unprocessed
    * batch, a replayed batch overwrites itself. The per-batch
    * aggregation runs DISTRIBUTED; only the ≤ sources×7-row verdict
    * table reaches the driver.
    */
  /** Streaming bloom semi-join reduction — c11's twin and the explicit
    * runtime filter for the stream-static path AQE never sees: the static
    * dimension's (possibly mid-query-filtered) key set folds ONCE into a
    * fixed 16 KiB bloom at query build (driver-bounded by construction),
    * ships inside the codegen'd `graft_bloom_maybe` probe, and drops
    * non-candidate fact rows INSIDE each micro-batch before the
    * stream-static semi join re-checks exactly. Per-batch join work falls
    * from |batch| dim lookups to |candidates|; the bloom law (no false
    * negatives) keeps the result provably equal to the unfiltered
    * stream-static semi join, which is what the spec differentials pin.
    * On a real cluster the dim side of the semi join is a broadcast, so
    * the probe saves the per-row hash-lookup work and — for a shuffled
    * dim — the exchange volume, exactly like batch c11.
    */
  def bloomSemiReducedStream(facts: DataFrame, keyCol: String,
      dimKeys: DataFrame): DataFrame = {
    val s = dimKeys.sparkSession
    import s.implicits._
    val dimCol = dimKeys.columns.head
    val bits: Array[Byte] = dimKeys
      .select(col(dimCol).cast("long")).as[Long]
      .select(new graft.functions.BloomAggregator[Long](identity).toColumn)
      .head()
    graft.functions.BloomMightContain.register(facts.sparkSession)
    facts
      .where(call_function("graft_bloom_maybe", col(keyCol), lit(bits),
        lit(graft.functions.Bloom.DefaultHashes)))
      .join(dimKeys.select(col(dimCol).as("__dim_key")),
        col(keyCol) === col("__dim_key"), "left_semi")
  }

  def qualityGateStream(
      docs: DataFrame,
      sink: Seq[FunnelDelta] => Unit,
      checkpointDir: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val verdicts = graft.queries.LlmOps.funnelVerdicts(docs)
    val writer = verdicts.writeStream.outputMode("append")
    checkpointDir.foreach(writer.option("checkpointLocation", _))
    writer
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val rows = batch.groupBy("source", "verdict")
          .agg(count(lit(1)).as("n"), sum("n_chars").as("nc"))
          .collect()
          .map(r => FunnelDelta(id, r.getString(0), r.getString(1),
            r.getLong(2), r.getLong(3)))
          .sortBy(f => (f.source, f.verdict)).toSeq
        sink(rows)
      }
      .start()
  }

  /** Streaming k-anonymity monitoring — j86's twin: documents arrive as a
    * stream of quasi-identifier tuples (through the SAME `LlmOps.qiTuples`
    * seam batch j86 aggregates) and each QI group's population count lives
    * in keyed state; arrivals emit the risk-band TRANSITIONS they cause
    * (a group growing 1→2 leaves the unique band, 4→5 leaves the at-risk
    * bands entirely), per-batch aggregated to (source, band-delta) rows.
    * Folded downstream (last-write-wins per batch_id, the at-least-once
    * contract), the deltas reproduce batch j86's band counts exactly —
    * which is the monitor's point: a corpus release gate can watch its
    * k-anonymity posture improve as data streams in, without rescanning.
    * State is one Long per DISTINCT QI tuple (QI-cardinality-sized, ≪
    * corpus — the same reason the batch rollup is cheap); min_k is NOT
    * delta-composable (a min over the live group table), so the monitor
    * doesn't emit it — the statestore reader exposes the live k per group
    * for exactly that kind of point-in-time question (spec-asserted).
    */
  def kAnonymityStream(
      qi: Dataset[QiIn],
      sink: Seq[AnonDelta] => Unit,
      checkpointDir: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import qi.sparkSession.implicits._
    anonDeltaSink(viaGroupState(qiGroups(qi), qiCount, OutputMode.Update()),
      sink, checkpointDir)
  }

  /** [[kAnonymityStream]]'s machine on transformWithState — same sink
    * contract, same delta algebra (the spec runs both against the same
    * corpus and batch j86).
    */
  def kAnonymityStreamTws(
      qi: Dataset[QiIn],
      sink: Seq[AnonDelta] => Unit,
      checkpointDir: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import qi.sparkSession.implicits._
    anonDeltaSink(viaValueState(qiGroups(qi), qiCount, OutputMode.Update()),
      sink, checkpointDir)
  }

  private def qiGroups(qi: Dataset[QiIn]) = {
    import qi.sparkSession.implicits._
    qi.groupByKey(q => (q.lang, q.source, q.len_bucket))
  }

  /** A QI group's population count; each batch emits the risk-band
    * transitions it caused.
    */
  private val qiCount =
    Machine[(String, String, Long), Long, QiIn, QiBandDelta]("count", 0L,
      (key, k0, rows) => {
        def bands(k: Long): (Long, Long, Long) =
          if (k <= 0L) (0L, 0L, 0L)
          else if (k == 1L) (1L, 0L, 0L)
          else if (k < 5L) (0L, 1L, 0L)
          else (0L, 0L, 1L)
        def atRisk(k: Long): Long = if (k < 5L) k else 0L
        val k1 = k0 + rows.size.toLong
        val ((a0, b0, c0), (a1, b1, c1)) = (bands(k0), bands(k1))
        (k1, Iterator.single(QiBandDelta(key._2,
          a1 - a0, b1 - b0, c1 - c0, atRisk(k1) - atRisk(k0))))
      })

  /** Per-batch (source, band-delta) aggregation of the k-anonymity
    * deltas into `sink`.
    */
  private def anonDeltaSink(deltas: Dataset[QiBandDelta],
      sink: Seq[AnonDelta] => Unit, checkpointDir: Option[String])
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val writer = deltas.writeStream.outputMode("update")
    checkpointDir.foreach(writer.option("checkpointLocation", _))
    writer
      .foreachBatch { (batch: Dataset[QiBandDelta], id: Long) =>
        val rows = batch.groupBy("source")
          .agg(sum("d_k1"), sum("d_k2_4"), sum("d_k5"), sum("d_at_risk"))
          .collect()
          .map(r => AnonDelta(id, r.getString(0), r.getLong(1),
            r.getLong(2), r.getLong(3), r.getLong(4)))
          .sortBy(_.source).toSeq
        sink(rows)
      }
      .start()
  }

  /** Streaming SCD2 maintenance — j78's twin: dimension-change rows
    * arrive as a stream (CDC shape) and each key's current version lives
    * in keyed state; a status change EMITS the closed
    * [valid_from, valid_to) version row and opens the next. In-order
    * ingestion reproduces batch j78's islands exactly: the closed rows
    * match j78's non-open rows, and the OPEN versions are precisely the
    * keyed state — readable through the offline statestore reader
    * ([[readKeyedState]]), which the differential asserts, closing the
    * loop between the history table and the live store. State is one
    * (status, valid_from, version) triple per dimension key — dimension-
    * sized, the smallest state any SCD2 maintainer can carry. Intra-batch
    * rows replay in (dt, ok) order so batch boundaries cannot reorder a
    * key's timeline (the chunk-dedup in-batch-ordering discipline).
    */
  def scd2Stream(dims: Dataset[DimIn]): Dataset[Scd2Closed] = {
    import dims.sparkSession.implicits._
    viaGroupState(dims.groupByKey(_.custkey), scd2, OutputMode.Append())
  }

  /** The SCD2 maintainer: a key's rows replay in (dt, ok) order; `zero`
    * (null) is "no open version yet".
    */
  private val scd2 = Machine[Long, Scd2State, DimIn, Scd2Closed]("cur",
    null, (ck, cur0, rows) => {
      var cur = cur0
      val closed = List.newBuilder[Scd2Closed]
      rows.toSeq.sortBy(r => (r.dt, r.ok)).foreach { r =>
        val (next, closedOpt) = scd2Step(cur, r.status, r.dt)
        closedOpt.foreach { case (c, to) =>
          closed += Scd2Closed(ck, c.status, c.valid_from, to, c.version)
        }
        cur = next
      }
      (cur, closed.result().iterator)
    })

  /** The ONE SCD2 island transition, shared by the [[scd2Stream]] machine
    * and [[pitEnrichStream]] so the surfaces cannot fork (the docContractFlags/scd2History seam discipline):
    * given the current open version (null if none) and an arriving
    * (status, dt), returns the next open version plus the closed
    * interval the arrival produced — (previous open state, valid_to) —
    * if the status changed.
    */
  private def scd2Step(cur: Scd2State, status: String, dt: String)
      : (Scd2State, Option[(Scd2State, String)]) =
    if (cur == null) (Scd2State(status, dt, 1L), None)
    else if (cur.status != status)
      (Scd2State(status, dt, cur.version + 1L), Some((cur, dt)))
    else (cur, None)

  /** Offline state inspection via Spark's `statestore` batch data source:
    * read a stopped (or running) streaming query's checkpointed keyed
    * state as a plain DataFrame — the operational surface for debugging
    * ("what does the store hold for key k?"), state audits, and backfill
    * validation, with NO replay of the stream. Defaults to the latest
    * committed batch of operator 0; the result carries (key, value,
    * partition_id) structs matching the state encoder. At 100 TB this is
    * how you answer "why is this key's state wrong" without re-running a
    * week of stream — the reader scans only the state files.
    */
  def readKeyedState(
      spark: org.apache.spark.sql.SparkSession,
      checkpointDir: String): DataFrame =
    spark.read.format("statestore").load(checkpointDir)

  /** Files one micro-batch of [[eventsFileStream]] reads at most. */
  private[graft] val MaxFilesPerTrigger = 32

  /** `eventsDir` must be a DIRECTORY of events-schema parquet files (file
    * streaming sources watch directories; new files = new micro-batches).
    * This is the engine's bulk-ingest analogue of the reference's
    * socket/Kafka source (AvailableNow gives bounded-lag backfill).
    *
    * Admission control: a micro-batch reads at most [[MaxFilesPerTrigger]]
    * new files, so a backlog — files that landed while the query was
    * down, or an `AvailableNow` backfill — is read as a series of bounded
    * batches instead of one batch of every pending file. The bound caps
    * what one batch's stateful operators fold in memory and write to the
    * state store in one commit.
    *
    * File streams require an explicit schema, so the reader probes the
    * directory with a one-off batch read and mirrors [[graft.Tables.events]]'
    * schema-adaptive recipe: raw long nanoseconds (pre-regen layout, via
    * `nanosAsLong`) truncate to µs; `timestamp[us]`/NTZ (current layout)
    * casts to the UTC-session timestamp. Either way the stream's element
    * type stays [[Event]] with a `TimestampType` event time.
    *
    * Kafka swap-in (documented, not runnable here: no `spark-sql-kafka`
    * connector jar ships in `/opt/spark/jars` and the build is offline —
    * SURVEY [E8]): with the connector on the classpath the ONLY change is
    * the source expression —
    * {{{
    *   spark.readStream.format("kafka")
    *     .option("kafka.bootstrap.servers", brokers)
    *     .option("subscribe", "events")
    *     .option("startingOffsets", "earliest")   // or per-partition JSON
    *     .load()                                   // key/value binary + metadata
    *     .select(from_json(col("value").cast("string"), eventSchema).as("e"))
    *     .select("e.*").as[Event]
    * }}}
    * — every operator in this file consumes `Dataset[Event]` and is
    * source-agnostic; checkpointing, watermarks, and exactly-once sinks
    * work identically (Kafka offsets replace file names in the offset log).
    */
  def eventsFileStream(
      spark: org.apache.spark.sql.SparkSession,
      eventsDir: String): Dataset[Event] = {
    import spark.implicits._
    import org.apache.spark.sql.types.{LongType, TimestampType}
    // the declared stream schema must match the files' physical type or the
    // source misreads them, so branch the DDL on the probed type exactly as
    // Tables.events branches the fix-up: BIGINT (ns-long), TIMESTAMP
    // (adjusted-to-UTC µs), TIMESTAMP_NTZ (current regen layout). A watched
    // directory that starts EMPTY is legitimate for a file stream — the
    // probe then fails schema inference and we default to the current
    // layout; files appearing later must match it, as with any explicit
    // stream schema.
    val probed =
      try Some(spark.read.parquet(eventsDir).schema("ts").dataType)
      catch {
        case _: org.apache.spark.sql.AnalysisException => None
      }
    val tsDdl = probed match {
      case Some(LongType) => "BIGINT"
      case Some(TimestampType) => "TIMESTAMP"
      case _ => "TIMESTAMP_NTZ"
    }
    val raw = spark.readStream
      .schema(s"event_id BIGINT, ts $tsDdl, user_id BIGINT, " +
        "event_type STRING, value DOUBLE, props STRING")
      .option("maxFilesPerTrigger", MaxFilesPerTrigger.toLong)
      .parquet(eventsDir)
    val fixed = probed match {
      case Some(LongType) =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case Some(TimestampType) => raw
      case _ => raw.withColumn("ts", col("ts").cast("timestamp"))
    }
    fixed.as[Event]
  }
}
