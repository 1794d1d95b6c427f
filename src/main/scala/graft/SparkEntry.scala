package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{AsOfJoin, Cleaning, Curation, Dedup, Multimodal, Similarity, Sketches, TextAnalysis}
import graft.queries.Relational
import graft.streaming.EventStreams

/** Driver contract — see SURVEY.md §7.
  *
  * `queries` (the same map as `freshQueries`) is the engine's certified
  * operator surface: the relational inventory (SURVEY §2.B), the
  * LLM-pipeline operators (§2.C), and the streaming replays (B31–B34).
  * Each entry with an `oracleSql` twin is hash-checked against DuckDB on
  * identical parquet inputs; entries without one (engine-hash-dependent
  * LSH variants, approx aggregates, the stub decoder) get rows-only checks
  * plus ScalaTest invariants.
  */
object SparkEntry {

  /** Session settings every entry point needs:
    *  - nanosAsLong: the events fixture stores nanosecond timestamps, which
    *    Spark otherwise refuses to read (event time is then canonicalized by
    *    [[Tables.eventsUs]]).
    *  - AQE on: runtime shuffle coalescing + skew handling — the 100 TB
    *    posture, exercised at test scale too.
    */
  val sessionConfigs: Map[String, String] = Map(
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.adaptive.enabled" -> "true",
    // (Measured: forcing size-based AQE coalescing — parallelismFirst=false
    // — serializes genuinely parallel work at bench scale for no net win;
    // the default, which only merges empty/sub-minPartitionSize reads,
    // stays.)
    "spark.sql.session.timeZone" -> "UTC",
    // The JVM-wide codegen class cache defaults to 100 entries; a workload
    // that cycles through the full operator surface (Verify/Bench: 69
    // queries x several codegen units each) evicts constantly and pays a
    // Janino recompile (~50-100ms) per unit per query. Identical generated
    // source should compile once per JVM.
    "spark.sql.codegen.cache.maxEntries" -> "5000",
    // DSv2 parquet reads + footer-metadata aggregate pushdown: a filterless
    // count/min/max scan is answered from rowgroup statistics instead of a
    // data pass (the at-scale posture: corpus-wide counts over 100 TB touch
    // no pages). Measured (r5 A/B, min-of-5): q01 count 2.1x
    // faster, and the V2 scan path is neutral-to-faster on every probed
    // shape (project/filter/join/agg/sort/dedup, 0.69-0.98x). Catalog
    // tables with bucket specs stay on the V1 path, so the bucketed
    // co-located-join layouts are unaffected.
    "spark.sql.sources.useV1SourceList" -> "",
    "spark.sql.parquet.aggregatePushdown" -> "true",
    // ObjectHashAggregate (the planning for TypedImperativeAggregates like
    // TopKByScore's bounded heap and ArgMaxText) falls back to SORT-based
    // aggregation once a partition sees >128 distinct groups — the default
    // turns an ANN search's per-query top-k (thousands of probe groups)
    // into a sort of the candidate stream. 131072, not the r12 4194304
    // (ADVICE r12): the threshold is read at EXECUTION from the session
    // conf, so it cannot be scoped per query, and it also governs
    // UNBOUNDED-buffer aggregates (per-user collect_list in Funnels,
    // percentile) — 4M arbitrary-size buffers per partition before
    // fallback is an OOM, not a plan choice. At 128k the arithmetic holds
    // for both classes: k-bounded heap/argmax cells (~200-400 B) cost
    // ≤ ~50 MB per partition on the hash path, which covers every typed
    // aggregate's per-partition group count at the bench scales (largest
    // observed: ~51k doc groups in q53's partial agg at sf1), while an
    // unbounded-buffer aggregate that genuinely accumulates >128k groups
    // per partition falls back to the memory-safe sort — the correct
    // at-scale posture.
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "131072",
  )

  def configure(b: SparkSession.Builder): SparkSession.Builder =
    sessionConfigs.foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }

  /** Local worker threads (and shuffle partitions) for the `Bench`,
    * `Verify` and `IngestCli` sessions: `SPARK_GRAFT_CPUS`, else every core
    * the JVM may use.
    */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors.toString)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    // Static confs (codegen cache size) only apply when set at session
    // build time; on a caller-provided live session they are skipped.
    sessionConfigs.foreach { case (k, v) =>
      try spark.conf.set(k, v)
      catch { case _: org.apache.spark.sql.AnalysisException => }
    }
    Relational.queries("q11_star_join")(spark, "/root/testdata/sf0.001")
  }

  /** One entry per implemented operator from SURVEY.md §2, keyed by query
    * name. Every call builds a FRESH plan: no QUERY work runs until the
    * caller executes the DataFrame, except that a few entries first stage
    * their replay INPUTS on disk (q02 ndjson, q71 connector replay —
    * idempotent, signature-guarded writes that belong to fixture setup)
    * and the sketch builds and streaming replays run their work inside the
    * builder. q91's builder also runs the bounded top-V vocabulary collect
    * at plan-build time (the IVF-centroid driver-pin contract — the
    * 1000-term vocabulary becomes a codegen literal in `graft_oov_stats`).
    * The bench measures through this map so each timed run pays the full
    * plan-build + optimize + execute pipeline — re-executing a built AQE
    * plan would silently REUSE its materialized shuffle stages and report
    * final-stage-only latency.
    */
  def freshQueries: Map[String, (SparkSession, String) => DataFrame] =
    Relational.queries ++
      AsOfJoin.queries ++
      Dedup.queries ++
      Similarity.queries ++
      TextAnalysis.queries ++
      Curation.queries ++
      Cleaning.queries ++
      Multimodal.queries ++
      graft.operators.MergeUpsert.queries ++
      graft.operators.Resample.queries ++
      graft.operators.Profile.queries ++
      graft.operators.Funnels.queries ++
      graft.operators.SkewJoin.queries ++
      graft.sources.ScaleLayouts.queries ++
      graft.sources.odata.ConnectorReplay.queries ++
      graft.operators.Pipeline.queries ++
      Sketches.queries ++
      EventStreams.queries ++
      graft.streaming.DocPipeline.queries

  /** [[freshQueries]] under its contract name (see the object doc). */
  def queries: Map[String, (SparkSession, String) => DataFrame] = freshQueries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    Relational.oracles ++
      AsOfJoin.oracles ++
      Dedup.oracles ++
      Similarity.oracles ++
      TextAnalysis.oracles ++
      Curation.oracles ++
      Cleaning.oracles ++
      graft.operators.MergeUpsert.oracles ++
      graft.operators.Resample.oracles ++
      graft.operators.Profile.oracles ++
      graft.operators.Funnels.oracles ++
      graft.operators.SkewJoin.oracles ++
      graft.sources.ScaleLayouts.oracles ++
      Sketches.oracles ++
      Multimodal.oracles ++
      EventStreams.oracles ++
      graft.streaming.DocPipeline.oracles ++
      graft.sources.odata.ConnectorReplay.oracles ++
      graft.operators.Pipeline.oracles
}
