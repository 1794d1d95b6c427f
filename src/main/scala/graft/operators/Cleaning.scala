package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.Present._
import graft.Tables

/** Corpus-cleaning operators for training-data pipelines: the scrubbing /
  * rebalancing steps that run before dedup and curation — PII redaction,
  * corpus-level boilerplate-line removal (the CCNet/RefinedWeb line-dedup
  * stage), and language-mixture rebalancing (downsample every language to
  * the minority share).
  *
  * Scale-first shapes:
  *
  *  - '''PII scrub''' is pure per-row regexp math — one scan, zero
  *    shuffles, everything inside whole-stage codegen. Patterns are
  *    restricted to the Java-regex ∩ RE2 dialect (no backreferences, no
  *    lookaround) so the DuckDB oracle evaluates the identical automaton.
  *  - '''boilerplate strip''' never groups the corpus by document: lines
  *    are counted with one exploded-line aggregate (map-side combined), and
  *    the boilerplate dictionary — small BY DEFINITION, it holds only lines
  *    repeated across >= minDf docs — rides back onto the un-exploded
  *    per-document line arrays as a broadcast scalar, so the rewrite side
  *    is map-only. The alternative explode→join→re-group shape pays a
  *    second corpus shuffle to reassemble documents; this one pays none.
  *  - '''mixture rebalance''' aggregates per-language counts (a
  *    languages-sized table), derives integer per-mille keep rates, and
  *    broadcasts them onto a [[Curation.portableHash]] filter — the corpus
  *    itself is never shuffled, and the sample is reproducible across
  *    engines, runs, and partitionings.
  */
object Cleaning {
  type Q = (SparkSession, String) => DataFrame

  // -------------------------------------------------------------- PII scrub

  /** PII patterns, identical semantics in Java regex (Spark) and RE2 (the
    * DuckDB oracle): character classes, bounded repetition, and `\b` word
    * boundaries only — both engines run leftmost-first matching over these.
    */
  val EmailPattern = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
  val Ipv4Pattern = """\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"""
  /** International-format phone as the fixture plants it: +CC-AA-NNNNNNN.
    * Real deployments swap in their locale's pattern set; the operator
    * shape (count-then-chain-replace) is pattern-agnostic.
    */
  val PhonePattern = """\+\d{2}-\d{2}-\d{7}"""

  /** Detect-and-redact PII: per-document counts of each PII kind (measured
    * on the ORIGINAL text, so the counts survive redaction) plus the
    * scrubbed text with typed placeholders. Email is replaced first — it is
    * the most specific pattern — then IPv4, then phone; the three patterns
    * cannot overlap (an email needs `@`, an IPv4 needs dotted digit quads,
    * a phone needs a leading `+`), so the chain order only matters for
    * future pattern sets. One scan, zero shuffles, idempotent (placeholders
    * contain no digits or `@`, so re-scrubbing is a no-op — pinned by spec).
    *
    * r16: the six per-row Java-regex passes this SELECT used to compose
    * (three `regexp_count`s + the three-deep `regexp_replace` chain —
    * measured as q116's whole wall beyond the scheduling floor) are fused
    * into ONE native codegen kernel, `graft_pii_scrub`
    * ([[graft.expressions.GraftPii]]): hand-rolled linear scanners with
    * the exact `java.util.regex` match semantics, equivalence pinned by
    * PiiScrubSpec (adversarial cases + a 1000-sample property sweep
    * against the regex composition itself). The patterns above remain the
    * operator's CONTRACT — the spec derives its expected values from them.
    */
  def piiScrub(docs: DataFrame, keyCol: String, textCol: String): DataFrame = {
    val p = graft.expressions.GraftPii
      .scrubCol(docs.sparkSession)(col(textCol)).as("_p")
    docs.select(col(keyCol), p)
      .select(col(keyCol),
        col("_p.n_emails").as("n_emails"),
        col("_p.n_ips").as("n_ips"),
        col("_p.n_phones").as("n_phones"),
        col("_p.clean_text").as("clean_text"))
  }

  // ------------------------------------------------------ boilerplate strip

  // The "lines" the boilerplate pass counts — non-overlapping
  // lineTokens-token windows, same window formula as
  // [[Curation.chunkDocuments]] with stride = chunk. r15: the
  // transform(sequence)/slice/array_join HOF composition moved into the
  // native graft_word_lines expression (TextSignatures.wordLines,
  // parity-pinned) after the same composition measured as the dominant
  // per-row cost in q123/q75/q53 three-for-three (BoilerplateLinesAB
  // commits this operator's own two-shape numbers).

  /** Corpus-level boilerplate removal (the CCNet / RefinedWeb line-dedup
    * stage): split every document into fixed `lineTokens`-token lines,
    * count each line's document frequency across the corpus, and drop every
    * instance of any line appearing in >= `minDf` documents. Returns
    * `(key, n_lines, n_dropped, clean_text)` with the surviving lines
    * rejoined in original order; a document that was ALL boilerplate stays
    * in the output with an empty `clean_text` (dropping the row would
    * silently change corpus counts downstream). Documents with NO tokens
    * at all (empty/whitespace-only text) are out of scope and excluded —
    * they carry no lines to count or strip; the oracle mirrors the same
    * exclusion, and pipelines that must preserve such rows filter them out
    * before this stage and union them back.
    *
    * At 100 TB: the line-frequency aggregate (per-doc `array_distinct`
    * first, so a doc's internal repetition never inflates the exploded
    * stream) feeds one of two rewrite shapes, picked by MEASURED dictionary
    * size — the dictionary is persisted and counted once, never assumed
    * small (the [[Dedup.incrementalMinhashMatches]] discipline):
    *
    *  - '''tiny dictionary''' (≤ `smallDictLimit`): the lines ride back as
    *    one broadcast array onto the un-exploded documents — map-only
    *    rewrite, zero extra shuffle, per-doc order free. This shape is
    *    O(corpus lines × dictionary) because the per-line `array_contains`
    *    probe is a linear scan, which is exactly why the limit is small and
    *    enforced: the boilerplate dictionary GROWS with corpus diversity
    *    (more sites, more templates), and the ×100 scale probe measured the
    *    unguarded array ride at 608 s against a 6.9k-line dictionary where
    *    the join shape takes seconds.
    *  - '''anything bigger''': explode → hash join on the line key →
    *    re-group by document. One more corpus-volume shuffle (the regroup),
    *    but every probe is a hash lookup; Catalyst auto-broadcasts the
    *    dictionary while it fits and shuffle-joins past that — linear at
    *    every dictionary size, no OOM cliff.
    *
    * Both shapes produce identical rows (pinned by spec).
    */
  def boilerplateStrip(docs: DataFrame, keyCol: String, textCol: String,
                       lineTokens: Int, minDf: Long,
                       smallDictLimit: Long = 1024L): DataFrame = {
    require(minDf >= 2, s"minDf < 2 would drop every line: $minDf")
    val withLines = docLines(docs, keyCol, textCol, lineTokens)
    stripAgainst(withLines, keyCol,
      lineDocFrequencies(docs, keyCol, textCol, lineTokens)
        .filter(col("df") >= minDf).select("line"),
      smallDictLimit)
  }

  /** `(key, _lines)` — each doc's line array (the shared rewrite input). */
  private def docLines(docs: DataFrame, keyCol: String, textCol: String,
                       lineTokens: Int): DataFrame = {
    require(lineTokens > 0, s"lineTokens must be positive: $lineTokens")
    graft.expressions.GraftFunctions.registerAll(docs.sparkSession)
    docs
      .filter(TextAnalysis.wsTokenCount(col(textCol)) >= 1)
      .select(col(keyCol),
        call_function("graft_word_lines", col(textCol), lit(lineTokens)).as("_lines"))
  }

  /** Per-line document frequency over `docs`: `(line, df)`. Distinct per
    * doc BEFORE exploding, then a plain count — map-side partial
    * aggregation applies. `df` is ADDITIVE across disjoint document sets
    * (each doc contributes 0 or 1 per line), which is what makes the
    * dictionary incrementally maintainable ([[mergeLineFrequencies]]).
    */
  def lineDocFrequencies(docs: DataFrame, keyCol: String, textCol: String,
                         lineTokens: Int): DataFrame =
    docLines(docs, keyCol, textCol, lineTokens)
      .select(explode(array_distinct(col("_lines"))).as("line"))
      .groupBy("line").agg(count(lit(1)).as("df"))

  /** Merge a maintained `(line, df)` table with a new increment's counts —
    * the daily-batch dictionary update that never re-scans the corpus
    * (exact because df is additive over disjoint doc sets; pinned by the
    * maintained-equals-recomputed spec).
    */
  def mergeLineFrequencies(existing: DataFrame, delta: DataFrame): DataFrame =
    existing.unionByName(delta).groupBy("line").agg(sum(col("df")).as("df"))

  /** The guarded two-shape rewrite of [[boilerplateStrip]] (see its doc). */
  private def stripAgainst(withLines: DataFrame, keyCol: String,
                           dictLines: DataFrame, smallDictLimit: Long): DataFrame = {
    val bpLines = dictLines
      .persist() // the guard's count() materializes it; both shapes reuse it
    if (bpLines.count() <= smallDictLimit) {
      val dict = bpLines.agg(sort_array(collect_list(col("line"))).as("_bp"))
      withLines
        .crossJoin(broadcast(dict)) // 1-row dictionary ride, not a cartesian
        .withColumn("_kept", filter(col("_lines"),
          l => !array_contains(col("_bp"), l)))
        .select(
          col(keyCol),
          size(col("_lines")).cast(LongType).as("n_lines"),
          (size(col("_lines")) - size(col("_kept"))).cast(LongType).as("n_dropped"),
          array_join(col("_kept"), " ").as("clean_text"))
    } else {
      // Grown dictionary: hash-probe per line (explode + line-keyed join)
      // and re-group by document. The dictionary side is NOT force-broadcast:
      // Catalyst broadcasts it while small and shuffle-joins past the
      // threshold, so there is no size at which this shape falls over.
      withLines
        .select(col(keyCol), posexplode(col("_lines")).as(Seq("_pos", "line")))
        .join(bpLines.withColumn("_bp", lit(true)), Seq("line"), "left")
        .groupBy(keyCol)
        .agg(
          count(lit(1)).as("n_lines"),
          sum(when(col("_bp").isNotNull, 1L).otherwise(0L)).as("n_dropped"),
          array_join(
            transform(
              array_sort(collect_list( // collect_list drops null (= dropped) lines
                when(col("_bp").isNull, struct(col("_pos"), col("line"))))),
              x => x.getField("line")),
            " ").as("clean_text"))
    }
  }

  /** Incremental boilerplate removal — the deployment form (the
    * q113/q114 incremental-dedup discipline applied to cleaning): the
    * standing corpus is represented ONLY by its maintained `(line, df)`
    * frequency table ([[lineDocFrequencies]], persisted once, updated per
    * batch with [[mergeLineFrequencies]] — df is additive over disjoint doc
    * sets, so the update is exact and the corpus text is never re-scanned).
    * The increment's own counts merge in BEFORE thresholding, so a line
    * that only crosses `minDf` across corpus + increment is still caught;
    * then only the increment's documents are rewritten. Per daily batch the
    * work is the increment's lines plus one dictionary-sized merge — the
    * 100 TB daily-clean shape.
    */
  def boilerplateStripIncrement(corpusCounts: DataFrame, increment: DataFrame,
                                keyCol: String, textCol: String,
                                lineTokens: Int, minDf: Long,
                                smallDictLimit: Long = 1024L): DataFrame = {
    require(minDf >= 2, s"minDf < 2 would drop every line: $minDf")
    val dict = mergeLineFrequencies(corpusCounts,
      lineDocFrequencies(increment, keyCol, textCol, lineTokens))
      .filter(col("df") >= minDf).select("line")
    stripAgainst(docLines(increment, keyCol, textCol, lineTokens), keyCol,
      dict, smallDictLimit)
  }

  // ------------------------------------------------------ mixture rebalance

  /** Language-mixture rebalancing: downsample every language stratum to the
    * minority language's share (the parameter-free "balance to smallest"
    * mixing step). Keep rates are exact integer per-mille —
    * `min(1000, (1000 * min_count) div count)` — and membership is the
    * [[Curation.portableHash]] filter, so the sample is the SAME corpus in
    * any engine and under any partitioning. Returns
    * `(key, stratum, permille)` for every kept document.
    *
    * At 100 TB: the per-stratum count is a strata-sized aggregate, the
    * rate table broadcasts, and the corpus passes through one map-only
    * filter — zero corpus shuffles. Rate sampling is approximate per
    * stratum (binomial around the target share); pipelines needing exact-k
    * strata use [[Curation.sampleFixedK]], which pays the per-stratum rank
    * shuffle instead.
    *
    * "Strata are few" is a CONTRACT, not a given — languages are hundreds,
    * but a caller stratifying by domain has millions — so it is enforced,
    * not assumed: the rate table is persisted and counted once, broadcast
    * under `broadcastStrataLimit` and shuffle-joined past it (one corpus
    * exchange, no OOM cliff). Same rows either way (pinned by spec).
    */
  def mixtureRebalance(docs: DataFrame, keyCol: String, stratumCol: String,
                       broadcastStrataLimit: Long = 4000000L): DataFrame = {
    val counts = docs.groupBy(col(stratumCol).as("stratum")).agg(count(lit(1)).as("n"))
    val rates = counts
      .crossJoin(broadcast(counts.agg(min(col("n")).as("mn"))))
      .select(col("stratum"), expr("least(CAST(1000 AS BIGINT), (1000 * mn) DIV n)").as("permille"))
      .persist() // the guard's count() materializes it; the join reuses it
    val rateSide = if (rates.count() <= broadcastStrataLimit) broadcast(rates) else rates
    // project the doc side down to an unambiguous pair first: a caller whose
    // frame already carries a "stratum" column (stratumCol == "stratum", or
    // e.g. stratifiedSample output) must not make the join key ambiguous
    docs.select(col(keyCol), col(stratumCol).as("_doc_stratum"))
      .join(rateSide, col("_doc_stratum") === col("stratum"))
      .filter(Curation.portableHash(col(keyCol)) % 1000 < col("permille"))
      .select(col(keyCol), col("stratum"), col("permille"))
  }

  // ------------------------------------------------------- declared queries

  private val LineTokens = 16
  private val MinDf = 2L

  /** The q116 fixture lacks organic PII (synthetic word-salad text), so the
    * query plants it deterministically from `doc_id` — email on ids ≡ 0
    * (mod 2), IPv4 on ids ≡ 0 (mod 3), phone on ids ≡ 0 (mod 5) — giving a
    * mix of 0–3 findings per doc and docs the scrubber must leave intact.
    * The oracle mirrors the identical injection, so redaction is certified
    * against text where the patterns genuinely fire.
    */
  private[graft] def plantPiiCol(keyCol: String, textCol: String): Column = plantPii(keyCol, textCol)

  private def plantPii(keyCol: String, textCol: String): Column = {
    val id = col(keyCol)
    def s(c: Column) = c.cast("string")
    concat(
      col(textCol),
      when(id % 2 === 0,
        concat(lit(" contact user"), s(id), lit("@example.com"))).otherwise(lit("")),
      when(id % 3 === 0,
        concat(lit(" host 10."), s(id % 256), lit("."), s((id * 7) % 256),
          lit("."), s((id * 13) % 256))).otherwise(lit("")),
      when(id % 5 === 0,
        concat(lit(" call +31-20-"), s(lit(1000000L) + id))).otherwise(lit("")))
  }

  val queries: Map[String, Q] = Map(
    "q116_pii_scrub" -> ((s, dir) => {
      val docs = Tables(s, dir).documents
      piiScrub(docs.select(col("doc_id"), plantPii("doc_id", "text").as("text")),
        "doc_id", "text")
        .presented("doc_id")
    }),
    "q117_boilerplate_strip" -> ((s, dir) =>
      boilerplateStrip(Tables(s, dir).documents, "doc_id", "text", LineTokens, MinDf)
        .presented("doc_id")),
    "q118_mixture_rebalance" -> ((s, dir) =>
      mixtureRebalance(Tables(s, dir).documents, "doc_id", "lang")
        .presented("doc_id")),
    // incremental deployment form: every 5th doc plays today's batch, the
    // rest are the standing corpus — represented ONLY by its maintained
    // (line, df) table, never re-scanned for text
    "q119_boilerplate_increment" -> ((s, dir) => {
      val docs = Tables(s, dir).documents
      boilerplateStripIncrement(
        lineDocFrequencies(docs.filter(col("doc_id") % 5 =!= 0),
          "doc_id", "text", LineTokens),
        docs.filter(col("doc_id") % 5 === 0),
        "doc_id", "text", LineTokens, MinDf)
        .presented("doc_id")
    }),
  )

  val oracles: Map[String, String] = Map(
    // single-quoted SQL strings pass backslashes through untouched, so the
    // RE2 pattern text is byte-identical to the Java pattern above
    "q116_pii_scrub" ->
      """WITH aug AS (
           SELECT doc_id,
                  text
                  || CASE WHEN doc_id % 2 = 0 THEN ' contact user' || doc_id || '@example.com' ELSE '' END
                  || CASE WHEN doc_id % 3 = 0 THEN ' host 10.' || (doc_id % 256) || '.' || ((doc_id * 7) % 256) || '.' || ((doc_id * 13) % 256) ELSE '' END
                  || CASE WHEN doc_id % 5 = 0 THEN ' call +31-20-' || (1000000 + doc_id) ELSE '' END AS text
           FROM documents)
         SELECT doc_id,
                CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
                CAST(len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips,
                CAST(len(regexp_extract_all(text, '\+\d{2}-\d{2}-\d{7}')) AS BIGINT) AS n_phones,
                regexp_replace(
                  regexp_replace(
                    regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
                  '\+\d{2}-\d{2}-\d{7}', '<PHONE>', 'g') AS clean_text
         FROM aug ORDER BY doc_id""",
    // same chunk formula as the q109 oracle with stride = chunk = 16
    "q117_boilerplate_strip" ->
      """WITH toks AS (SELECT doc_id, string_split_regex(trim(text), ' +') AS t FROM documents
                       WHERE length(trim(text)) > 0),
              g AS (SELECT doc_id, t,
                           unnest(range(0, GREATEST(CAST(CEIL((len(t) - 16) / 16.0) AS BIGINT), 0) + 1)) AS i
                    FROM toks),
              lines AS (SELECT doc_id, CAST(i AS INTEGER) AS chunk_id,
                               array_to_string(t[i * 16 + 1 : i * 16 + 16], ' ') AS line
                        FROM g),
              bp AS (SELECT line FROM lines GROUP BY line HAVING COUNT(DISTINCT doc_id) >= 2),
              flagged AS (SELECT l.doc_id, l.chunk_id, l.line, (b.line IS NOT NULL) AS is_bp
                          FROM lines l LEFT JOIN bp b USING (line))
         SELECT doc_id,
                CAST(COUNT(*) AS BIGINT) AS n_lines,
                CAST(SUM(CASE WHEN is_bp THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
                COALESCE(string_agg(line, ' ' ORDER BY chunk_id) FILTER (WHERE NOT is_bp), '') AS clean_text
         FROM flagged GROUP BY doc_id ORDER BY doc_id""",
    // the oracle certifies the ADDITIVITY claim: it computes the dictionary
    // over the WHOLE table from scratch — maintained corpus counts merged
    // with the increment's counts must land on exactly that dictionary
    "q119_boilerplate_increment" ->
      """WITH toks AS (SELECT doc_id, string_split_regex(trim(text), ' +') AS t FROM documents
                       WHERE length(trim(text)) > 0),
              g AS (SELECT doc_id, t,
                           unnest(range(0, GREATEST(CAST(CEIL((len(t) - 16) / 16.0) AS BIGINT), 0) + 1)) AS i
                    FROM toks),
              lines AS (SELECT doc_id, CAST(i AS INTEGER) AS chunk_id,
                               array_to_string(t[i * 16 + 1 : i * 16 + 16], ' ') AS line
                        FROM g),
              bp AS (SELECT line FROM lines GROUP BY line HAVING COUNT(DISTINCT doc_id) >= 2),
              inc AS (SELECT * FROM lines WHERE doc_id % 5 = 0),
              flagged AS (SELECT i.doc_id, i.chunk_id, i.line, (b.line IS NOT NULL) AS is_bp
                          FROM inc i LEFT JOIN bp b USING (line))
         SELECT doc_id,
                CAST(COUNT(*) AS BIGINT) AS n_lines,
                CAST(SUM(CASE WHEN is_bp THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
                COALESCE(string_agg(line, ' ' ORDER BY chunk_id) FILTER (WHERE NOT is_bp), '') AS clean_text
         FROM flagged GROUP BY doc_id ORDER BY doc_id""",
    "q118_mixture_rebalance" ->
      """WITH cnt AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
              m AS (SELECT MIN(n) AS mn FROM cnt),
              rates AS (SELECT lang, LEAST(CAST(1000 AS BIGINT), (1000 * mn) // n) AS permille
                        FROM cnt, m)
         SELECT d.doc_id, d.lang AS stratum, r.permille
         FROM documents d JOIN rates r USING (lang)
         WHERE ((d.doc_id % 2147483648) * 2654435761) % 4294967296 % 1000 < r.permille
         ORDER BY d.doc_id""",
  )
}
