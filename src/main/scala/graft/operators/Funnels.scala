package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Present._
import graft.Tables

/** Behavioral-analytics operators over the event log: cohort retention and
  * ordered funnels — the two queries every product-analytics engine is
  * ultimately buying.
  *
  * Scale shapes:
  *  - '''retention''' is one LINEAR chain — entity repartition → per-day
  *    dedup → first-seen as a window MIN inside the same clustering → grid
  *    aggregate. No self-join: the textbook formulation (first-seen
  *    aggregate joined back to the activity set) re-scans and re-shuffles
  *    the full event log twice because both join branches share the same
  *    subtree (measured 2.45 s → 0.7 s at 6M events). Subset partitioning
  *    satisfies the dedup grouping and the window, so the entity exchange
  *    is the only data-proportional shuffle; the cohort-grid-sized final
  *    aggregate is the only other one.
  *  - '''funnel''' is ONE shuffle by entity + a native packed-long fold per
  *    entity ([[graft.expressions.FunnelStage]] `graft_funnel_stage`): each
  *    event ships as a single long (`ts << 8 | step_idx`) — ~8 B/event
  *    through the exchange, primitive-array buffers, one primitive sort +
  *    greedy walk at eval — not as K self-joins (the naive formulation the
  *    ORACLE deliberately uses), and no Python/JVM UDF boundary. Per-entity
  *    history must fit the aggregate buffer (the collect_list bound);
  *    funnels over unbounded histories move the same fold into
  *    mapGroupsWithState (q64's machinery).
  */
object Funnels {
  type Q = (SparkSession, String) => DataFrame

  private val DayUs = 86400000000L

  /** (cohort_day, day_offset, n_users): users first seen on `cohort_day`
    * who were active `day_offset` days later. Within a (cohort, offset)
    * group each user contributes once (the activity grid is deduped per
    * (user, day) and offset is a function of day given the cohort), so the
    * count is a plain `count(*)`, not a distinct aggregate.
    */
  def cohortRetention(events: DataFrame, entityCol: String, tsUsCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // null entities carry no identity to retain — drop them explicitly.
    // (The window formulation would otherwise GROUP nulls into a phantom
    // cohort, where the equivalent first-seen equi-join formulation — and
    // the q101 oracle — drops them.)
    val active = events.filter(col(entityCol).isNotNull)
      .repartition(col(entityCol))
      .select(col(entityCol), expr(s"$tsUsCol div $DayUs").as("_day"))
      .distinct()
    val cohort = min(col("_day")).over(Window.partitionBy(entityCol))
    active
      .withColumn("cohort_day", cohort)
      .groupBy(col("cohort_day"), (col("_day") - col("cohort_day")).as("day_offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** Ordered-funnel stage per entity: the highest step index reached by a
    * STRICTLY time-increasing walk through `steps`, where each later step
    * must land within `windowUs` of the previous step's accepted event
    * (ties at equal µs do not advance). The walk is GREEDY — anchored at
    * the entity's first step-0 event, then always the earliest eligible
    * next step — which is a declared contract the oracle mirrors as a
    * min-chain, not an "any assignment" match. One fold over the entity's
    * time-sorted event array.
    *
    * Coverage contract: returns one row per entity with AT LEAST ONE
    * step-typed event (non-step events are dropped before the shuffle — they
    * cannot advance the walk, and carrying them through collect_list just to
    * emit stage-0 rows for step-less entities would inflate the exchange and
    * the per-entity array bound). `includeStepless = true` folds those
    * stage-0 rows back in via the anti-join the contract points to: distinct
    * non-null entities with no step-typed event, at the cost of one extra
    * distinct+anti-join over the log — the walk's exchange stays step-only.
    */
  def funnelStages(events: DataFrame, entityCol: String, tsUsCol: String,
                   typeCol: String, tiebreakCol: String,
                   steps: Seq[String], windowUs: Long,
                   includeStepless: Boolean = false): DataFrame = {
    // NATIVE walk (round 16, Q102_DECOMP.json): of q102's 0.58 s sf1 wall,
    // 0.32 s was the entity exchange + per-entity
    // sort_array(collect_list(struct(ts, tb, tp))) and the HOF fold itself
    // was free — so the struct array is the cost, not the walk. The
    // graft_funnel_stage aggregate packs each event into ONE long
    // (ts << 8 | step_idx): primitive-array agg buffers, ~8 B/event through
    // the shuffle instead of the ~34 B struct (the tiebreak column is
    // dropped outright — the strict-> guard makes the walk's result
    // invariant to equal-ts order, see the expression scaladoc), and a
    // primitive sort at eval. The seven-for-seven native-beats-HOF rule
    // holds (leg A/B in Q102_DECOMP.json). Packing bounds (<=255 steps,
    // ts in [0, 2^55)) are the expression's documented contract; this
    // operator's step list is always tiny.
    require(steps.size <= 255, "funnelStages: step list exceeds the packing bound")
    graft.expressions.GraftFunctions.registerAll(events.sparkSession)
    val stepIdx = steps.zipWithIndex.foldLeft(lit(-1)) { case (acc, (s, i)) =>
      when(col(typeCol) === s, lit(i)).otherwise(acc)
    }
    val staged = events
      // non-step events can never advance the fold — drop them BEFORE the
      // shuffle: directly shrinks the one exchange and the per-entity
      // array bound this operator is limited by
      .filter(col(typeCol).isin(steps: _*))
      .select(col(entityCol), col(tsUsCol).as("_ts"), stepIdx.as("_idx"))
      .groupBy(col(entityCol))
      .agg(expr(s"graft_funnel_stage(_ts, _idx, ${windowUs}L)").as("stage"))
    if (!includeStepless) staged
    else {
      // Null entities carry no identity (mirrors cohortRetention); a null
      // key would also never match the anti-join and leak a phantom row.
      val stepless = events.filter(col(entityCol).isNotNull)
        .select(col(entityCol)).distinct()
        .join(staged.select(col(entityCol)), Seq(entityCol), "left_anti")
        .withColumn("stage", lit(0))
      staged.unionByName(stepless)
    }
  }

  // ------------------------------------------------------- declared queries

  val queries: Map[String, Q] = Map(
    "q101_cohort_retention" -> ((s, dir) =>
      cohortRetention(Tables(s, dir).eventsUs, "user_id", "ts_us")
        .presented("cohort_day", "day_offset")),
    // 24-hour conversion window between consecutive steps: stages spread
    // over 0..3 at every SF (windowless, nearly every entity converts and
    // the query certifies nothing)
    "q102_funnel" -> ((s, dir) =>
      funnelStages(Tables(s, dir).eventsUs, "user_id", "ts_us", "event_type",
        "event_id", Seq("view", "click", "purchase"), windowUs = 86400000000L)
        .groupBy("stage").agg(count(lit(1)).as("n_users"))
        .presented("stage")),
  )

  val oracles: Map[String, String] = Map(
    "q101_cohort_retention" ->
      """WITH ev AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
              first AS (SELECT user_id, MIN(day) AS cohort_day FROM ev GROUP BY user_id),
              active AS (SELECT DISTINCT user_id, day FROM ev)
         SELECT f.cohort_day, a.day - f.cohort_day AS day_offset, COUNT(*) AS n_users
         FROM active a JOIN first f ON a.user_id = f.user_id
         GROUP BY 1, 2 ORDER BY cohort_day, day_offset""",
    // The deliberately-different relational formulation: one min-chain join
    // per step with strict > and the 24-hour window between steps — the
    // fold's greedy first-eligible pick IS the minimum eligible timestamp,
    // so both agree even on equal-µs ties (neither advances).
    "q102_funnel" ->
      """WITH ev AS (SELECT user_id, epoch_us(ts) AS ts_us, event_type FROM events),
              t1 AS (SELECT user_id, MIN(ts_us) AS v FROM ev
                     WHERE event_type = 'view' GROUP BY user_id),
              t2 AS (SELECT e.user_id, MIN(e.ts_us) AS c FROM ev e
                     JOIN t1 ON e.user_id = t1.user_id
                     WHERE e.event_type = 'click' AND e.ts_us > t1.v
                       AND e.ts_us <= t1.v + 86400000000 GROUP BY e.user_id),
              t3 AS (SELECT e.user_id, MIN(e.ts_us) AS p FROM ev e
                     JOIN t2 ON e.user_id = t2.user_id
                     WHERE e.event_type = 'purchase' AND e.ts_us > t2.c
                       AND e.ts_us <= t2.c + 86400000000 GROUP BY e.user_id),
              staged AS (
                SELECT u.user_id,
                       CASE WHEN t3.user_id IS NOT NULL THEN 3
                            WHEN t2.user_id IS NOT NULL THEN 2
                            WHEN t1.user_id IS NOT NULL THEN 1
                            ELSE 0 END AS stage
                FROM (SELECT DISTINCT user_id FROM ev
                      WHERE event_type IN ('view', 'click', 'purchase')) u
                LEFT JOIN t1 ON u.user_id = t1.user_id
                LEFT JOIN t2 ON u.user_id = t2.user_id
                LEFT JOIN t3 ON u.user_id = t3.user_id)
         SELECT stage, COUNT(*) AS n_users FROM staged GROUP BY stage ORDER BY stage""",
  )
}
