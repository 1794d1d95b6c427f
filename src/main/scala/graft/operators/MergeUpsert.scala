package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Present._
import graft.Tables

/** Batch MERGE (upsert) semantics: apply a keyed changeset of updates /
  * deletes / inserts to a base snapshot in one pass — the incremental
  * maintenance step the reference sidesteps by rewriting whole snapshots
  * (statline-bq re-ingests a table when `Modified` changes; at 100 TB the
  * viable form is MERGE of the delta, not a rewrite).
  *
  * Scale shape: the changeset is delta-sized (small by definition —
  * yesterday's snapshot plus today's changes), so matched-row resolution is
  * ONE broadcast hash left join against the base by default: the base table
  * never shuffles, never sorts, and streams through whole-stage codegen
  * once. Inserts append by union. A caller whose delta outgrows executor
  * memory passes `broadcastChangeset = false` and the same plan becomes a
  * key-partitioned join (both sides shuffle by key — the standard
  * fact-sized-MERGE shape); the hint is explicit because the changeset is
  * usually derived from the base itself, whose statistics would otherwise
  * make Catalyst assume it is fact-sized and shuffle the base.
  *
  * Contract notes (standard MERGE rules):
  *  - at most ONE changeset row per key (ambiguous matches are a MERGE
  *    error in every engine; here the caller guarantees it);
  *  - insert ('I') keys must not already exist in the base — enforced by
  *    construction in callers (MERGE would otherwise raise), which is what
  *    keeps the insert path union-only instead of an anti-join that would
  *    hash the whole base.
  */
object MergeUpsert {
  type Q = (SparkSession, String) => DataFrame

  /** Applies `changes(keyCol, "op" in {U,D,I}, payload...)` to `base`.
    * 'U' replaces the payload columns, 'D' drops the row, 'I' appends.
    * Payload columns are every non-key, non-op column of `changes`; the
    * base must carry columns of the same names.
    *
    * `changes` is walked TWICE in the produced plan (the matched side's
    * broadcast-collect and the insert-side union are separate subtree
    * evaluations), so an UNCACHED changeset is localCheckpoint'ed here
    * (lazily: materialized into executor blocks on first use, lineage
    * truncated, blocks reclaimed by the ContextCleaner when the frame is
    * collected) — the changeset is delta-sized by contract, so the blocks
    * are small, while its LINEAGE can be arbitrarily expensive (an
    * aggregation over a large batch): before this ran inside `merge`, the
    * silent double-evaluation made `EventStreams.streamUpsert`'s 60M-event
    * scale point super-linear (6.8 s at 6M → 287 s at 60M). A caller that
    * already persisted/checkpointed the changeset is left alone.
    */
  def merge(base: DataFrame, changes0: DataFrame, keyCol: String,
            broadcastChangeset: Boolean = true): DataFrame = {
    val payload = changes0.columns.filter(c => c != keyCol && c != "op").toSeq
    require(payload.nonEmpty, "changeset carries no payload columns")
    val changes =
      if (changes0.storageLevel != org.apache.spark.storage.StorageLevel.NONE) changes0
      else changes0.localCheckpoint(false)
    // The changeset is typically DERIVED from the base (self-join lineage),
    // so every matched-side column gets a fresh alias — no ambiguous-attr
    // resolution, no accidental reference to the base's attribute ids.
    val matched = changes.filter(col("op") =!= "I")
      .select(col(keyCol).as("_mk") +: col("op").as("_op") +:
        payload.map(c => col(c).as(s"_ch_$c")): _*)
    val kept = base.columns.toSeq
    val matchSide = if (broadcastChangeset) broadcast(matched) else matched
    val resolved = base.join(matchSide, col(keyCol) === col("_mk"), "left_outer")
      .filter(col("_op").isNull || col("_op") === "U")
      .select(kept.map { c =>
        if (payload.contains(c))
          when(col("_op") === "U", col(s"_ch_$c")).otherwise(col(c)).as(c)
        else col(c)
      }: _*)
    resolved.unionByName(
      changes.filter(col("op") === "I").drop("op").select(kept.map(col): _*))
  }

  // ------------------------------------------------------- declared queries

  /** The q90 changeset, derived deterministically from the base snapshot:
    * updates for keys ≡0 (mod 7) (unless deleted), deletes for keys ≡0
    * (mod 11), inserts at `-key - 1` for keys ≡0 (mod 13) — disjoint op per
    * key, and insert keys are collision-free at ANY scale factor (base
    * orderkeys are non-negative, negated-minus-one keys never are; a fixed
    * offset would start colliding once the key range outgrew it).
    *
    * ONE scan, not a 3-leg union (r20, guide §2.4): the old shape scanned
    * the base three times (one filter-pruned scan per op class) and paid a
    * union + three job-floor rounds; each row now emits its up-to-3 op
    * structs through one explode-of-array-literal pass — same rows (op
    * classes U/D are disjoint by construction; a key can be both D and I
    * — e.g. ≡0 mod 143 — exactly as the union emitted both). Measured
    * alternated A/B (`Q90_CHANGESET_AB.json`, row identity asserted): q90 med
    * 0.583 → 0.450 s, q107 med 0.918 → 0.604 s at sf0.1. Presentation-sort
    * modes are unchanged at every SF: [[merge]] localCheckpoints the
    * changeset, so the fan-in walk sees the checkpoint's RDD leaf (counts
    * 0) on that side either way (re-checked in the same artifact: q90
    * fan=150k/single at sf0.1), and q107's delta sits below an Aggregate.
    */
  private[graft] def changeset(o: DataFrame): DataFrame = {
    val k = col("o_orderkey")
    o.select(explode(array(
      when(k % 7 === 0 && k % 11 =!= 0, struct(
        k.as("o_orderkey"), lit("U").as("op"), col("o_custkey"),
        (col("o_totalprice") + 1000.0).as("o_totalprice"))),
      when(k % 11 === 0, struct(
        k.as("o_orderkey"), lit("D").as("op"), col("o_custkey"),
        lit(null).cast("double").as("o_totalprice"))),
      when(k % 13 === 0, struct(
        (-k - 1).as("o_orderkey"), lit("I").as("op"),
        col("o_custkey"), col("o_totalprice").as("o_totalprice")))
    )).as("_r")).filter(col("_r").isNotNull).select(col("_r.*"))
  }

  /** Incremental aggregate maintenance (IVM): update a persisted
    * `groupBy(group).count()` from a MERGE changeset WITHOUT re-aggregating
    * the fact table — counts are a distributive aggregate, so the delta is
    * itself a tiny aggregate over the changeset (+1 per insert, −1 per
    * delete, 0 per update) applied with one small join. At 100 TB this is
    * the difference between touching the delta and re-scanning the world;
    * the q107 oracle proves the algebra by recomputing the same counts
    * from scratch on the MERGED table.
    *
    * Contract (NOT checked — violations corrupt counts silently, so they
    * are the caller's MERGE-side obligations):
    *  - 'U' rows must not move a row between groups (`groupCol` stable
    *    under update) — group-changing updates need a −1/+1 pair, i.e. a
    *    D+I changeset, not a U;
    *  - 'D' rows must carry the row's CURRENT `groupCol` value (the merge
    *    itself ignores a delete's payload, but the count delta reads it).
    */
  def maintainCounts(baseCounts: DataFrame, changes: DataFrame,
                     groupCol: String): DataFrame = {
    val delta = changes.filter(col("op") =!= "U")
      .groupBy(groupCol)
      .agg(sum(when(col("op") === "I", 1L).otherwise(-1L)).as("_d"))
    baseCounts.join(broadcast(delta), Seq(groupCol), "full_outer")
      .select(col(groupCol),
        (coalesce(col("n"), lit(0L)) + coalesce(col("_d"), lit(0L))).as("n"))
      .filter(col("n") > 0)
  }

  val queries: Map[String, Q] = Map(
    "q90_merge_upsert" -> ((s, dir) => {
      val o = Tables(s, dir).orders.select("o_orderkey", "o_custkey", "o_totalprice")
      merge(o, changeset(o), "o_orderkey").presented("o_orderkey")
    }),
    "q107_incremental_agg" -> ((s, dir) => {
      val o = Tables(s, dir).orders.select("o_orderkey", "o_custkey", "o_totalprice")
      val baseCounts = o.groupBy("o_custkey").agg(count(lit(1)).as("n"))
      maintainCounts(baseCounts, changeset(o), "o_custkey")
        .presented("o_custkey")
    }),
  )

  val oracles: Map[String, String] = Map(
    // Same changeset derivation + MERGE resolution, spelled relationally.
    // o_totalprice + 1000.0 is exact in binary doubles, so the updated
    // values hash identically across engines.
    "q90_merge_upsert" ->
      """WITH ch AS (
           SELECT o_orderkey AS k, 'U' AS op, o_custkey, o_totalprice + 1000.0 AS new_price
           FROM orders WHERE o_orderkey % 7 = 0 AND o_orderkey % 11 <> 0
           UNION ALL
           SELECT o_orderkey, 'D', o_custkey, NULL FROM orders WHERE o_orderkey % 11 = 0
           UNION ALL
           SELECT -o_orderkey - 1, 'I', o_custkey, o_totalprice
           FROM orders WHERE o_orderkey % 13 = 0)
         SELECT b.o_orderkey, b.o_custkey,
                CASE WHEN c.op = 'U' THEN c.new_price ELSE b.o_totalprice END AS o_totalprice
         FROM orders b LEFT JOIN ch c ON b.o_orderkey = c.k AND c.op <> 'I'
         WHERE c.op IS NULL OR c.op = 'U'
         UNION ALL
         SELECT k, o_custkey, new_price FROM ch WHERE op = 'I'
         ORDER BY o_orderkey""",
    // recompute-from-scratch over the MERGED table: if the incremental
    // delta algebra is right, maintained counts equal a full re-aggregation
    "q107_incremental_agg" ->
      """WITH ch AS (
           SELECT o_orderkey AS k, 'U' AS op, o_custkey, o_totalprice + 1000.0 AS new_price
           FROM orders WHERE o_orderkey % 7 = 0 AND o_orderkey % 11 <> 0
           UNION ALL
           SELECT o_orderkey, 'D', o_custkey, NULL FROM orders WHERE o_orderkey % 11 = 0
           UNION ALL
           SELECT -o_orderkey - 1, 'I', o_custkey, o_totalprice
           FROM orders WHERE o_orderkey % 13 = 0),
         merged AS (
           SELECT b.o_orderkey, b.o_custkey
           FROM orders b LEFT JOIN ch c ON b.o_orderkey = c.k AND c.op <> 'I'
           WHERE c.op IS NULL OR c.op = 'U'
           UNION ALL
           SELECT k, o_custkey FROM ch WHERE op = 'I')
         SELECT o_custkey, COUNT(*) AS n FROM merged
         GROUP BY o_custkey ORDER BY o_custkey""",
  )
}
