package graft.streaming

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode,
  StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** One exploded LSH band arrival: `band_key` is the grouping key
  * (`band_idx:band_val`), `ts` the document's ingest event time (the
  * WATERMARKED column, kept as a field so the operator's event-time
  * plumbing sees it; whole-second fixtures make its ms value exact),
  * and `phase` the harness phase tag carried through to the output so
  * the read-back aggregate can separate first-pass admission from the
  * post-eviction re-send without re-deriving arrival order.
  */
case class LshBandEvent(band_key: String, doc_id: Long, phase: Int,
  ts: java.sql.Timestamp)

/** One output row per band arrival: did this (doc, band) collide with
  * the admission index — i.e. was the band already held by an earlier
  * document whose state is still inside the horizon, or by a
  * smaller-id document in the same micro-batch?
  */
case class LshAdmit(doc_id: Long, phase: Int, collided: Boolean)

/** Per-band admission state: the first document that claimed the band
  * and the epoch-ms instant the claim expires (first arrival's event
  * time + horizon — collisions do NOT refresh it, so expiry is a pure
  * function of the first arrival and both engines replay it exactly).
  */
case class LshBandState(first_doc: Long, expiry_ms: Long)

/** The band→first-claimant ADMISSION state machine shared by the
  * streaming near-dup index ([[LshAdmitter]] / `st_lsh_dedup`) and the
  * composed ingest curation pipeline ([[PipeAdmitter]] / `st_pipeline`)
  * — the state logic is identical, only the event/output row shapes
  * differ, so the determinism contract lives ONCE here.
  *
  * Determinism contract (every branch below is replayed bit-for-bit by
  * the DuckDB oracles):
  *   - WITHIN a micro-batch, the winner of a previously-unclaimed band
  *     is the MINIMUM doc_id among the batch's arrivals for that band
  *     (the iterator's order is engine-internal; min is order-free).
  *   - ACROSS batches, liveness is `expiry_ms > current watermark`
  *     (strict — eviction owns the boundary, matching the engine's
  *     own reach-fires timer convention) — computed HERE, in this
  *     processor, so the comparison is part of the declared semantics
  *     rather than an engine implementation detail (the trap
  *     st_dedup's guard band exists for does not arise).
  *   - Expiry never refreshes on collision: state is pinned to the
  *     FIRST arrival, so the oracle derives it from min(doc_id) alone.
  *
  * Timers are the PHYSICAL eviction path: admission registers a timer
  * at the claim's expiry; when the watermark passes it, the state row
  * is deleted from RocksDB (state size stays bounded by the horizon's
  * distinct-band volume — at 100 TB/day the index holds the horizon,
  * never the crawl's history). The input path's own liveness check
  * makes the SEMANTICS independent of when the engine schedules timer
  * firing relative to input processing; the guard in
  * [[handleExpiredTimer]] keeps a stale timer (one whose claim was
  * already superseded by a re-admission) from deleting fresh state.
  *
  * Memory: the LIVE-claim path (the steady-state hot path — repeated
  * content colliding with a held claim) streams the input iterator
  * straight through with ZERO buffering. Only the unclaimed path
  * buffers — the min-doc winner must be known before the first output
  * row can say `collided` — and it folds the min in the same single
  * pass as the buffering, bounded by the LOUD
  * [[AdmitterBase.MaxUnclaimedBucket]] backstop: a band bucket past it
  * is a degenerate collision cluster the batch [[graft.queries.Dedup
  * .BandCap]] discipline would have dropped, so the processor fails
  * with that diagnosis instead of silently allocating toward OOM.
  */
abstract class AdmitterBase[E, O](horizonMs: Long)
    extends StatefulProcessor[String, E, O] {

  /** The admission identity of an event (the min-fold key). */
  protected def docIdOf(e: E): Long
  /** The event's ingest event-time in epoch ms (anchors the claim). */
  protected def tsMsOf(e: E): Long
  /** Build the per-arrival output row. */
  protected def emit(e: E, collided: Boolean): O
  /** Keys routed AROUND the index: emitted `collided = false` with no
    * state read, no claim, no timer (the pipeline's holdout diversion
    * — those arrivals are logged through the same sink but are never
    * admission candidates).
    */
  protected def passThrough(key: String): Boolean = false

  @transient private var st: ValueState[LshBandState] = _

  final override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    st = getHandle.getValueState[LshBandState]("band",
      Encoders.product[LshBandState], TTLConfig.NONE)

  final override def handleInputRows(key: String, rows: Iterator[E],
      timerValues: TimerValues): Iterator[O] = {
    if (!rows.hasNext) return Iterator.empty
    if (passThrough(key)) return rows.map(emit(_, collided = false))
    val wm = timerValues.getCurrentWatermarkInMs()
    // live claim = state present AND the watermark has NOT reached its
    // expiry (strict >: the engine's timer surface fires a timer the
    // moment the watermark reaches its expiry ms — measured, not
    // assumed — so the inclusive boundary belongs to EVICTION; this
    // check agrees with the timer at equality whichever of the two
    // paths gets to the key first, and the oracle replays the same
    // strict comparison)
    if (st.exists() && st.get().expiry_ms > wm) {
      // no state to write: stream the arrivals straight through
      rows.map(emit(_, collided = true))
    } else {
      // single pass: fold the min-doc winner while buffering the
      // arrivals (outputs need the winner before the first row)
      val buf = new ArrayBuffer[E]
      var winner = rows.next()
      buf += winner
      while (rows.hasNext) {
        val e = rows.next()
        buf += e
        if (docIdOf(e) < docIdOf(winner)) winner = e
        if (buf.length > AdmitterBase.MaxUnclaimedBucket)
          throw new IllegalStateException(
            s"admission band '$key' has > ${AdmitterBase.MaxUnclaimedBucket} " +
              "arrivals in one micro-batch — a degenerate collision cluster " +
              "the BandCap discipline drops in batch; cap the band upstream")
      }
      val claim = LshBandState(docIdOf(winner), tsMsOf(winner) + horizonMs)
      st.update(claim)
      // exactly one live timer per band: a re-admission after expiry
      // must not leave the superseded claim's timer free to delete the
      // fresh claim later
      getHandle.listTimers().foreach(t => getHandle.deleteTimer(t))
      getHandle.registerTimer(claim.expiry_ms)
      val w = docIdOf(winner)
      buf.iterator.map(e => emit(e, collided = docIdOf(e) != w))
    }
  }

  final override def handleExpiredTimer(key: String, timerValues: TimerValues,
      expiredTimerInfo: ExpiredTimerInfo): Iterator[O] = {
    // physical eviction. The guard covers the one race the
    // delete-on-readmission discipline cannot: input processing in the
    // SAME batch already re-admitted the band (state's expiry is past
    // this timer's), so the state must survive this stale firing.
    if (st.exists() && st.get().expiry_ms <= expiredTimerInfo.getExpiryTimeInMs())
      st.clear()
    Iterator.empty
  }
}

object AdmitterBase {
  /** Loud backstop on the unclaimed path's per-band batch buffer. Far
    * above any non-degenerate band (gate-corpus band buckets max out
    * at 13 members at sf0.1; the batch [[graft.queries.Dedup.BandCap]]
    * operating point is 64) — a bucket this size is boilerplate-heavy
    * crawl content that carries no dedup signal, and the right failure
    * is a diagnosis, not an executor OOM.
    */
  val MaxUnclaimedBucket: Int = 1 << 20
}

/** Streaming NEAR-DUPLICATE ADMISSION — the state shape a crawl
  * pipeline actually streams: every arriving document's MinHash bands
  * probe a band→first-claimant index, and the document is admitted iff
  * NONE of its bands collide (the read-back aggregate counts per-doc
  * collisions; `st_lsh_dedup` gates it). State grows with DISTINCT
  * content inside the horizon, not with event volume — the property
  * the stream_shapes `lsh` row measured at ×10/×100
  * (BENCH_streamshapes_r11.jsonl). All admission semantics live in
  * [[AdmitterBase]].
  */
class LshAdmitter(horizonMs: Long)
    extends AdmitterBase[LshBandEvent, LshAdmit](horizonMs) {
  override protected def docIdOf(e: LshBandEvent): Long = e.doc_id
  override protected def tsMsOf(e: LshBandEvent): Long = e.ts.getTime
  override protected def emit(e: LshBandEvent, collided: Boolean): LshAdmit =
    LshAdmit(e.doc_id, e.phase, collided)
}
