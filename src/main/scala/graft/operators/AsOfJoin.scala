package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.Present._

/** As-of join: for each left row, the latest right row with
  * `right.ts <= left.ts` within the same key — the temporal-lookup operator
  * the reference's "latest snapshot" resolution (gcpl.py:93-96) generalizes
  * to, and a staple of time-series/feature-store pipelines.
  *
  * Implementation (r19, promoted by `Q37_PROBE_AB.json` after the shipped
  * r15 shape measured 2.758 s vs 2.481/2.080 s med-of-7 at sf1): a RANGE
  * frame with a running `max(struct(ts, tiebreak, value))` — NOT a range
  * join, and no longer the union + dedup + `last(ignoreNulls)` formulation:
  *
  *  - `rangeBetween(unboundedPreceding, currentRow)` over `orderBy(ts)`
  *    includes ALL rows at the current ts regardless of sort position, so
  *    the inclusive `>=` tie semantics need no side-marker sort column;
  *  - `max` over `struct(ts, tiebreak, value)` picks the latest ts and,
  *    among equal timestamps, the max tiebreak — the max-tiebreak contract
  *    under duplicate right timestamps falls out of the struct comparison
  *    (deterministic even if tiebreaks collide), with no per-(key, ts)
  *    dedup exchange;
  *  - both inputs shuffle exactly ONCE by key and sort once by ts; the
  *    per-key merge is a single ordered pass with a running aggregate. At
  *    100 TB this is the only shape that survives: cost is one shuffle of
  *    each side plus a sort, independent of how many left rows each right
  *    row serves — no pair enumeration ever materializes (a range join
  *    would enumerate pairs).
  *
  * `selfAsOf` covers the common special case where the right side is a
  * FILTER of the left (an event log looking up its own most recent
  * "anchor" rows): one scan serves both sides, nothing is unioned, and
  * half the rows go through the one shuffle + sort.
  */
object AsOfJoin {
  type Q = (SparkSession, String) => DataFrame

  private def runningAsOfMax(keyCol: String, tsCol: String): Column = {
    val w = Window.partitionBy(keyCol).orderBy(tsCol)
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    max(col("_rv")).over(w).getField("_v")
  }

  /** @param right      must contain `keyCol`, `tsCol`, `valueCol`, `tiebreakCol`
    * @param valueCol   the right-side payload carried to left rows (as `asof_value`)
    */
  def leftAsOf(left: DataFrame, right: DataFrame, keyCol: String, tsCol: String,
               valueCol: String, tiebreakCol: String): DataFrame = {
    val r = right.select(
      col(keyCol), col(tsCol),
      struct(col(tsCol).as("_ts"), col(tiebreakCol).as("_tb"),
        col(valueCol).as("_v")).as("_rv"))
    val rvType = r.schema("_rv").dataType
    val l = left
      .withColumn("_rv", lit(null).cast(rvType))
      .withColumn("_side", lit(1))
    val unioned = l.unionByName(
      r.withColumn("_side", lit(0)), allowMissingColumns = true)
    unioned
      .withColumn("asof_value", runningAsOfMax(keyCol, tsCol))
      .filter(col("_side") === 1)
      .drop("_side", "_rv")
  }

  /** As-of lookup where the right side is `isRight` rows of `events`
    * itself: every row gets the `valueCol` of the latest `isRight` row
    * at-or-before its own `tsCol` within `keyCol` (max-`tiebreakCol`
    * among equal timestamps). Single scan, single shuffle, single sort.
    */
  def selfAsOf(events: DataFrame, isRight: Column, keyCol: String,
               tsCol: String, valueCol: String,
               tiebreakCol: String): DataFrame = {
    val sv = when(isRight, struct(col(tsCol).as("_ts"),
      col(tiebreakCol).as("_tb"), col(valueCol).as("_v")))
    events
      .withColumn("_rv", sv)
      .withColumn("asof_value", runningAsOfMax(keyCol, tsCol))
      .drop("_rv")
  }

  // ------------------------------------------------------- declared queries

  val queries: Map[String, Q] = Map(
    // B13 generalized: every event looks up the value of the user's most
    // recent signup event at-or-before its own timestamp — the self-lookup
    // special case (signups ⊂ events), served by one scan.
    "q37_asof_join" -> ((s, dir) => {
      val e = Tables(s, dir).eventsUs
      // EVENTS-sized output through the as-of join's shuffled stages — the
      // fan-in rule in Present.presented derives the distributed range
      // shape (r15; hand pin was a two-mode A/B at sf1: 1.99 -> 1.59 s med
      // vs the single-partition presentation merge)
      selfAsOf(e, col("event_type") === "signup",
        "user_id", "ts_us", "value", "event_id")
        .select(col("event_id"), col("asof_value"))
        .presented("event_id")
    }),
  )

  /** DuckDB has a native ASOF JOIN — a genuinely independent implementation
    * of the same semantics to check against.
    */
  val oracles: Map[String, String] = Map(
    // right side deduped to one row per (user_id, ts) with arg_max — the
    // same max-tiebreak contract as selfAsOf/leftAsOf, so neither engine's
    // behavior under duplicate right timestamps is left unspecified.
    "q37_asof_join" ->
      """SELECT e.event_id, s.value AS asof_value
         FROM events e ASOF LEFT JOIN (
           SELECT user_id, ts, arg_max(value, event_id) AS value
           FROM events WHERE event_type = 'signup' GROUP BY user_id, ts) s
           ON e.user_id = s.user_id AND e.ts >= s.ts
         ORDER BY e.event_id""",
  )
}
