package graft.streaming

import graft.streaming.SaxStreaming.{SeriesEvent, WordOut}
import graft.streaming.StreamingDebounce.{DebEvent, DebOut}
import graft.streaming.StreamingDedup.{DedupOut, DocEvent}
import graft.streaming.StreamingEwma.{EwmaEvent, EwmaOut}
import graft.streaming.StreamingFunnel.{FunnelEvent, FunnelOut}
import graft.streaming.StreamingSessions.{SessionOut, SpanEvent}
import graft.streaming.StreamingSurvival.{SurvEvent, SurvOut}
import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._

/** Erasure for LIVE per-user state — the r17 verdict's #4: every at-rest
  * artifact now forgets, but a user-keyed stateful stream
  * ([[SaxStreaming]]'s ring, [[StreamingFunnel]]'s firsts, the
  * sessions/survival/drift/acf modules — all one [[KeyedState]] shape)
  * retained an erased user's GroupState forever. Each leg here feeds
  * erasure REQUESTS into the module's own declaration through
  * [[KeyedState.forgetting]], which removes the key's state via
  * `GroupState.remove()` — the checkpoint state store then physically
  * drops the key at the batch commit, exactly like a tombstoned at-rest
  * row leaving a compacted generation.
  *
  * Semantics (ONE rule for every leg, so the proofs compose):
  *  - a micro-batch containing a forget signal for key k REMOVES k's
  *    state and suppresses k's output for that batch entirely — the
  *    forget wins the batch, making the result independent of the
  *    intra-batch interleave of data and control records (both arrive
  *    through one union, so Spark gives no ordering between them);
  *  - SUBSEQUENT records for an erased key must be dropped at the door
  *    by [[erasureGate]] (a stream-static anti join against the at-rest
  *    erasure store — the q304/q306 store IS the gate's dimension).
  *    With the gate in place, the forgetting stream's post-erasure
  *    output is bit-equal to a stream that never saw the cohort
  *    (StreamingStateErasureSpec proves it for every leg, across
  *    kill/restart on the SAX leg), because per-key state is independent
  *    and the erased keys contribute neither state nor rows;
  *  - the state store itself holds NO record that the key ever existed —
  *    deliberately: a "was erased" marker in state would BE a retained
  *    cohort key. The durable forget list is the at-rest erasure store,
  *    whose own retention is governed by the q311 ledger
  *    (`retire_after_compaction`).
  *
  * Idempotence: a duplicate forget removes absent state (a no-op), and a
  * replayed micro-batch re-applies the same remove — `GroupState`
  * commits are transactional with the batch, so at-least-once replay
  * converges (the restart leg of the spec kills a query between the
  * forget batch and its successor).
  *
  * Coverage (the r17 verdict's enumeration): every user-keyed stateful
  * module has a leg here — [[SaxStreaming]] (ring+moments),
  * [[StreamingSessions]] (open span), [[StreamingFunnel]] (firsts),
  * [[StreamingSurvival]] (last timestamp), [[StreamingDebounce]] (last
  * timestamp), [[StreamingEwma]] (recent-values ring) — plus
  * [[StreamingDedup.firstSeenStream]], which is keyed by CONTENT hash
  * rather than user: its retained canonical-survivor pointer IS an
  * erased document's id, so forgetting there drops the hash's state and
  * later identical content elects a fresh survivor.
  *
  * Named exemptions (the q311 exemption idiom, so the census is total):
  * [[StreamingDrift]] and [[StreamingAcf]] are keyed by EVENT TYPE and
  * their state holds only cross-user aggregate moments of daily means —
  * no cohort key and no per-user value exists in the state store, so
  * key-removal forgetting does not apply. User-level erasure for an
  * aggregate is the decrement/rebuild story, which those signals get
  * from the batch side: the day-mean feed is derived from the events
  * table, whose erasure runs through the at-rest remediation (q315's
  * recluster/rewrite legs) — a re-fed monitor then never sees the
  * cohort. The same reasoning exempts [[SketchStreaming]] (HLL
  * registers are not subtractable; the rebuild-from-retained policy is
  * executed at rest by q315) and [[StreamingEnrich]] /
  * [[StreamingRangeJoin]] / [[SlidingStreaming]] / [[MvMaintenance]]'s
  * additive partials (stateless per-user, or integer partials with the
  * [[StreamingMvErasure]] decrement twin already proven).
  */
object StreamingStateErasure {

  /** An erasure request for a user-keyed stream. */
  final case class Forget(userId: Long)

  /** An erasure request for the content-keyed first-seen annotator: the
    * normalized-content hash of the erased document (derive it with
    * [[docHash]] when the request carries raw text). */
  final case class ForgetDoc(hash: String)

  /** The q30/q56 normalized-content md5 an erasure request needs to
    * address first-seen state — ONE definition, shared with the stream's
    * own group key ([[StreamingDedup.normHash]]). */
  def docHash(text: String): String = StreamingDedup.normHash(text)

  /** How a stateful streaming module forgets. */
  sealed trait StateCoverage
  /** `leg` = the forgetting entry point here; `declaration` = the
    * module's own [[KeyedState]], which the leg forgets through (so the
    * census spec can verify the leg composes the REAL state algebra, not
    * a copy). A declaration that takes stream parameters is referenced at
    * one parameterization: every parameterization shares its body. */
  final case class ForgettingLeg(leg: String, declaration: KeyedState[_, _, _, _])
    extends StateCoverage
  /** No per-user data exists in the module's state; the stated reason
    * names where that user's erasure actually happens. */
  final case class ExemptState(reason: String) extends StateCoverage

  /** The live-state forgetting census — the q311/EstateCoverage idiom
    * for GroupState: every module in `graft.streaming` that retains
    * cross-batch state (a [[KeyedState]] declaration / dropDuplicates*) is
    * either wired to a forgetting leg here or exempt with a reason.
    * StateErasureCoverageSpec scans the sources and reddens the suite if
    * a new stateful module lands unclassified.
    *
    * [[StreamingDedup]]'s second stateful operator (`exactDedupStream`)
    * needs no leg of its own: `dropDuplicatesWithinWatermark` state
    * self-expires at the lateness horizon — the q316 bounded-retention
    * contract — so an erased document's hash leaves the store with the
    * watermark, and the batch-side q56 survivor pass (already erasure-
    * governed at rest) is the durable record. */
  val stateCoverage: Map[String, StateCoverage] = Map(
    "SaxStreaming" -> ForgettingLeg("saxEncodeForgetting", SaxStreaming.keyed(4, 2, 4)),
    "StreamingSessions" -> ForgettingLeg("sessionStreamForgetting",
      StreamingSessions.keyed(graft.queries.RelQueries.SweepGapUs)),
    "StreamingFunnel" -> ForgettingLeg("funnelStreamForgetting", StreamingFunnel.keyed),
    "StreamingSurvival" -> ForgettingLeg("survivalStreamForgetting", StreamingSurvival.keyed),
    "StreamingDebounce" -> ForgettingLeg("debounceStreamForgetting", StreamingDebounce.keyed),
    "StreamingEwma" -> ForgettingLeg("ewmaStreamForgetting", StreamingEwma.keyed),
    "StreamingDedup" -> ForgettingLeg("firstSeenForgetting", StreamingDedup.keyed),
    "StreamingDrift" -> ExemptState(
      "type-keyed Page–Hinkley moments aggregate daily means across users — " +
        "no cohort key or per-user value in state; user erasure happens at " +
        "rest (q315 recluster/rewrite of the events the day-mean feed derives " +
        "from), after which a re-fed monitor never sees the cohort"),
    "StreamingAcf" -> ExemptState(
      "type-keyed correlogram ring+moments over daily means — same shape and " +
        "same at-rest erasure path as StreamingDrift"))

  /** Drop an erased cohort's records at the ingest door: the
    * stream-static anti join against the at-rest erased-user store (one
    * broadcastable id column). This is what makes "never saw the
    * cohort" hold for every batch AFTER the store landed; the in-band
    * signal handles the state that predates it. `keyCol` names the
    * stream side's key (the typed legs use `userId`), so the gate
    * composes directly upstream of a forgetting leg — a stream-static
    * join below a [[KeyedState]] is a supported plan, proven
    * live by the composed-wiring test in StreamingStateErasureSpec. */
  def erasureGate(events: DataFrame, erasedUsers: DataFrame,
                  keyCol: String = "user_id"): DataFrame =
    events.join(broadcast(erasedUsers.select(col("user_id"))),
      events(keyCol) === erasedUsers("user_id"), "left_anti")

  /** A user-keyed leg's forget keys. */
  private def users(forgets: Dataset[Forget]): Dataset[Long] =
    forgets.map(_.userId)(Encoders.scalaLong)

  /** [[SaxStreaming.encodeStream]] with the in-band forgetting channel:
    * same ring/moments algebra, same arrival-order contract. */
  def saxEncodeForgetting(events: Dataset[SeriesEvent], forgets: Dataset[Forget],
                          n: Int, w: Int, c: Int): Dataset[WordOut] =
    SaxStreaming.keyed(n, w, c).forgetting(events, users(forgets))

  /** [[StreamingSessions.sessionStream]] with the forgetting channel: the
    * open session (the ONLY retained state) is dropped, so the cohort's
    * in-flight span is never emitted again — the live sessionizer's GDPR
    * contract. */
  def sessionStreamForgetting(events: Dataset[SpanEvent], forgets: Dataset[Forget],
                              gapUs: Long): Dataset[SessionOut] =
    StreamingSessions.keyed(gapUs).forgetting(events, users(forgets))

  /** [[StreamingFunnel.funnelStream]] with the forgetting channel
    * (order-independent min semantics untouched). */
  def funnelStreamForgetting(events: Dataset[FunnelEvent],
                             forgets: Dataset[Forget]): Dataset[FunnelOut] =
    StreamingFunnel.keyed.forgetting(events, users(forgets))

  /** [[StreamingSurvival.survivalStream]] with the forgetting channel: the
    * user's last-event timestamp and revision are dropped, so no further
    * gap closes against the erased history and the cohort's open
    * (censored) interval is never re-emitted — the live Kaplan–Meier
    * feed's GDPR contract. */
  def survivalStreamForgetting(events: Dataset[SurvEvent],
                               forgets: Dataset[Forget]): Dataset[SurvOut] =
    StreamingSurvival.keyed.forgetting(events, users(forgets))

  /** [[StreamingDebounce.debounceStream]] with the forgetting channel: the
    * user's last-raw-event timestamp is dropped, so an ungated post-erasure
    * event is judged as a FIRST event (kept), not against the erased
    * history. */
  def debounceStreamForgetting(events: Dataset[DebEvent],
                               forgets: Dataset[Forget]): Dataset[DebOut] =
    StreamingDebounce.keyed.forgetting(events, users(forgets))

  /** [[StreamingEwma.ewmaStream]] with the forgetting channel: the user's
    * recent-values ring is dropped, so a post-erasure value smooths from
    * scratch rather than against erased history. */
  def ewmaStreamForgetting(events: Dataset[EwmaEvent],
                           forgets: Dataset[Forget]): Dataset[EwmaOut] =
    StreamingEwma.keyed.forgetting(events, users(forgets))

  /** [[StreamingDedup.firstSeenStream]] with the forgetting channel, keyed
    * by the normalized-CONTENT hash instead of a user id: the retained
    * state is the canonical (first-seen) doc id for each content hash,
    * which for an erased document is precisely a retained cohort key.
    * Forgetting drops the hash's state, so later identical content elects
    * a fresh survivor. */
  def firstSeenForgetting(docs: Dataset[DocEvent],
                          forgets: Dataset[ForgetDoc]): Dataset[DedupOut] =
    StreamingDedup.keyed.forgetting(docs, forgets.map(_.hash)(Encoders.STRING))
}
