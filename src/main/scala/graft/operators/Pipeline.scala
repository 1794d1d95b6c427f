package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Present._
import graft.Tables

/** End-to-end curation pipeline (q136) — the composition a training-data
  * team actually ships, certified as ONE query so the stage CONTRACTS are
  * proven to compose (output of each stage is exactly the next one's
  * input, cross-engine):
  *
  *  1. language gate — [[TextAnalysis.langId]] argmax, keep `en`;
  *  2. PII scrub — [[Cleaning.piiScrub]] over the planted-PII corpus (the
  *     q116 fixture convention, so the scrub provably does work);
  *  3. near-duplicate resolution — [[Dedup.ngramJaccardPairs]] (bounded
  *     pair source, the q85/q120 convention) → [[Dedup.resolveDuplicates]]
  *     keep-best-quality on the SCRUBBED text; unclustered docs are never
  *     at risk;
  *  4. quality gate — keep docs with round-4 `quality_score ≥ 0.15`
  *     (identical integer-scaled rounding on both engines).
  *
  * Scale shape: every stage keeps its own certified shape — map-only gates
  * and scrub, bounded pair generation + duplicate-fraction-sized
  * clustering, one stats pass for quality — so the composition adds no
  * shuffle beyond its parts. The DuckDB oracle splices the same four
  * certified formulations over the same intermediate CTEs.
  */
object Pipeline {
  type Q = (SparkSession, String) => DataFrame

  /** pair-source bound, the q85/q120 convention: the O(pairs) n-gram stage
    * AND resolution scoring run over this id prefix (r19 pruned the
    * resolution leg to the bound — clusters can only contain bounded ids),
    * while the keep DECISION still covers the whole corpus via the
    * broadcast left join below.
    */
  private val PairBound = 40

  def curate(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    // stage 0: the q116 fixture convention — plant deterministic PII so
    // stage 2 provably transforms the text the later stages consume
    val aug = docs.select(col("doc_id"),
      Cleaning.plantPiiCol("doc_id", "text").as("text"))
    // stage 1: language gate
    val (lang, _) = TextAnalysis.langId(col("text"))
    val en = aug.withColumn("pred_lang", lang)
      .filter(col("pred_lang") === "en")
      .select("doc_id", "text")
    // stage 2: PII scrub (counts ride along as the audit trail)
    val scrub = Cleaning.piiScrub(en, "doc_id", "text")
      .select(col("doc_id"),
        (col("n_emails") + col("n_ips") + col("n_phones")).as("n_pii"),
        col("clean_text"))
    // stage 3: near-dup resolution on the SCRUBBED text
    val pairSrc = scrub.filter(col("doc_id") <= PairBound)
      .select(col("doc_id"), col("clean_text").as("text"))
    val pairs = Dedup.ngramJaccardPairs(pairSrc, "doc_id", 3)
      .filter(col("jaccard") >= 0.1)
    // r19 (guide §2.3/§2.4): every clustered doc has doc_id <= PairBound
    // (pairs are generated only over that slice), so the resolution leg is
    // pruned to the bound BEFORE scoring — the old shape scored the WHOLE
    // corpus (a second full langid+scrub+stats pass, plan scan (9) in
    // plans/r19/q136_before.txt) just to inner-join it down to <= 41
    // cluster rows. Identical result: resolveDuplicates' inner join kept
    // only clustered (<= PairBound) keys either way, and per-doc scores
    // don't depend on other rows.
    val resolved = Dedup.resolveDuplicates(
      scrub.filter(col("doc_id") <= PairBound)
        .select(col("doc_id"), col("clean_text")), pairs, "doc_id", "clean_text")
    // keep-list is bounded by PairBound rows — broadcast it so the corpus
    // side never shuffles (the old plan paid a SortMergeJoin with an
    // exchange+sort on BOTH sides for a <= 41-row right side)
    val decided = scrub
      .join(broadcast(resolved.select(col("doc_id"), col("keep"))),
        Seq("doc_id"), "left")
      .filter(coalesce(col("keep"), lit(true)))
    // stage 4: quality gate on the scrubbed text
    val st = graft.expressions.TextStats.statsCol(spark)(col("clean_text"))
    decided
      .withColumn("quality_score",
        TextAnalysis.qualityScoreFromStats(st))
      .filter(col("quality_score") >= 0.15)
      .select(col("doc_id"), col("n_pii"), col("quality_score"))
  }

  val queries: Map[String, Q] = Map(
    "q136_pipeline_curate" -> ((s, dir) =>
      curate(Tables(s, dir).documents).presented("doc_id")),
  )

  val oracles: Map[String, String] = Map(
    // the four certified stage formulations (q47 langid, q116 scrub, q120
    // n-gram cluster+resolve, q120's quality formula) spliced over shared
    // CTEs — each fragment byte-follows its parent oracle with `text`
    // rebound to the stage input
    "q136_pipeline_curate" -> {
      val langCte = TextAnalysis.langIdSqlOver("aug")
      s"""WITH RECURSIVE aug AS (
           SELECT doc_id,
                  text
                  || CASE WHEN doc_id % 2 = 0 THEN ' contact user' || doc_id || '@example.com' ELSE '' END
                  || CASE WHEN doc_id % 3 = 0 THEN ' host 10.' || (doc_id % 256) || '.' || ((doc_id * 7) % 256) || '.' || ((doc_id * 13) % 256) ELSE '' END
                  || CASE WHEN doc_id % 5 = 0 THEN ' call +31-20-' || (1000000 + doc_id) ELSE '' END AS text
           FROM documents),
         lng AS ($langCte),
         en AS (SELECT doc_id, text FROM lng WHERE pred_lang = 'en'),
         scrub AS (
           SELECT doc_id,
                  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT)
                  + CAST(len(regexp_extract_all(text, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) AS BIGINT)
                  + CAST(len(regexp_extract_all(text, '\\+\\d{2}-\\d{2}-\\d{7}')) AS BIGINT) AS n_pii,
                  regexp_replace(
                    regexp_replace(
                      regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                      '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g'),
                    '\\+\\d{2}-\\d{2}-\\d{7}', '<PHONE>', 'g') AS clean_text
           FROM en),
         pairs AS (
           SELECT a.doc_id AS a, b.doc_id AS b
           FROM (SELECT doc_id, list_distinct(list_transform(range(1, greatest(length(clean_text) - 2, 1) + 1), i -> substring(clean_text, i, 3))) AS g FROM scrub WHERE doc_id <= $PairBound AND length(clean_text) >= 3) a
           JOIN (SELECT doc_id, list_distinct(list_transform(range(1, greatest(length(clean_text) - 2, 1) + 1), i -> substring(clean_text, i, 3))) AS g FROM scrub WHERE doc_id <= $PairBound AND length(clean_text) >= 3) b
           ON a.doc_id < b.doc_id
           WHERE CAST(len(list_intersect(a.g, b.g)) AS DOUBLE) / len(list_distinct(a.g || b.g)) >= 0.1),
         edges AS (SELECT a AS src, b AS dst FROM pairs UNION ALL SELECT b, a FROM pairs),
         reach AS (
           SELECT DISTINCT src AS node, src AS r FROM edges
           UNION
           SELECT reach.node, e.dst AS r FROM reach JOIN edges e ON e.src = reach.r),
         clusters AS (SELECT node AS doc_id, MIN(r) AS cluster FROM reach GROUP BY node),
         scored AS (
           SELECT doc_id, ROUND(CAST(least(n_words, 50) * alpha AS DOUBLE) * 10000 / (50 * greatest(n_chars, 1))) / 10000 AS quality_score
           FROM (SELECT doc_id,
                        CAST(length(clean_text) AS BIGINT) AS n_chars,
                        CASE WHEN length(trim(clean_text)) = 0 THEN 0 ELSE CAST(len(string_split_regex(trim(clean_text), ' +')) AS BIGINT) END AS n_words,
                        CAST(length(regexp_replace(clean_text, '[^a-zA-Z]', '', 'g')) AS BIGINT) AS alpha
                 FROM scrub) f),
         ranked AS (
           SELECT c.doc_id, ROW_NUMBER() OVER (PARTITION BY c.cluster ORDER BY s.quality_score DESC, c.doc_id) AS rk
           FROM clusters c JOIN scored s USING (doc_id))
         SELECT s.doc_id, s.n_pii, q.quality_score
         FROM scrub s
         JOIN scored q USING (doc_id)
         LEFT JOIN ranked r USING (doc_id)
         WHERE COALESCE(r.rk = 1, TRUE) AND q.quality_score >= 0.15
         ORDER BY s.doc_id"""
    },
  )
}
