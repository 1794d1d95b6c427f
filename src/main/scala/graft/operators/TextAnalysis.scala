package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.Present._
import graft.Tables
import graft.expressions.TextStats

/** Text-analysis operators for training-data pipelines (SURVEY §2.C):
  * language id (marker-n-gram heuristic), quality scoring, token counting,
  * and document fingerprinting. All are per-document column expressions —
  * they prune to just the `text` column at the scan and need zero shuffles
  * (embarrassingly parallel per document).
  *
  * The per-document feature math runs in the native single-pass
  * [[graft.expressions.TextStats]] expressions (one fused loop per text,
  * inside whole-stage codegen) — the composed-builtin regex formulations
  * they replace are kept in scaladoc + the equivalence spec, and remain the
  * DuckDB oracle definitions.
  *
  * Regex note (oracle side): patterns deliberately avoid backslash classes
  * (`\s`, `\w`) — bracket classes like `[ ]` and `[a-zA-Z]` mean the same
  * thing in Java regex (Spark) and RE2 (DuckDB) with no escape-layer
  * ambiguity.
  */
object TextAnalysis {
  type Q = (SparkSession, String) => DataFrame

  /** Whitespace token count. */
  def wsTokenCount(text: Column): Column =
    when(length(trim(text)) === 0, 0L)
      .otherwise(size(split(trim(text), " +")).cast(LongType))

  /** BPE-ish token count: runs of letters, runs of digits, or single
    * non-alphanumeric-non-space symbols — the standard pre-tokenizer shape.
    */
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"), lit(0))).cast(LongType)

  /** Language-id heuristic: count stopword-marker hits per language and take
    * the argmax (ties broken by fixed language order; 'und' if no hits).
    */
  private val langMarkers: Seq[(String, String)] = Seq(
    "en" -> "(the|and|of|with) ",
    "de" -> "(der|die|das|und) ",
    "fr" -> "(le|la|les|et) ",
    "es" -> "(el|los|las|y) ",
    "nl" -> "(de|het|een|en) ",
  )

  def markerHits(text: Column, pattern: String): Column =
    size(regexp_extract_all(text, lit(pattern), lit(0))).cast(LongType)

  /** DuckDB SQL mirror of [[langId]] as a splice-able derived table over
    * `src` (which must expose `doc_id, text`): emits
    * `doc_id, text, pred_lang` — the q47 formulation, reused by composed
    * pipelines (q136) so the language gate certifies from ONE definition.
    */
  private[graft] def langIdSqlOver(src: String): String = {
    val hitExprs = langMarkers.map { case (l, p) =>
      s"CAST(len(regexp_extract_all(text, '$p')) AS BIGINT) AS h_$l"
    }.mkString(", ")
    val bestExpr = "greatest(" + langMarkers.map { case (l, _) => s"h_$l" }.mkString(", ") + ")"
    val langCase = langMarkers.map { case (l, _) =>
      s"WHEN h_$l = best AND best > 0 THEN '$l'"
    }.mkString("CASE ", " ", " ELSE 'und' END")
    s"""SELECT doc_id, text, $langCase AS pred_lang
        FROM (SELECT doc_id, text, $bestExpr AS best, ${langMarkers.map("h_" + _._1).mkString(", ")}
              FROM (SELECT doc_id, text, $hitExprs FROM $src) x) y"""
  }

  /** Predicted language + the winning score (deterministic argmax). */
  def langId(text: Column): (Column, Column) = {
    val hits = langMarkers.map { case (l, p) => (l, markerHits(text, p)) }
    val best = hits.map(_._2).reduce((a, b) => greatest(a, b))
    val lang = hits.foldRight(lit("und"): Column) { case ((l, h), acc) =>
      when(h === best && best > 0, l).otherwise(acc)
    }
    // foldRight gives priority to the FIRST language in fixed order on ties.
    (lang, best)
  }

  /** Integer-scaled 4-decimal rounding of the exact rational `num/den`:
    * `round(num * 10^4 / den) / 10^4`. `ROUND(x, 4)` on a computed double is
    * NOT engine-portable — when the true value sits on a .00005 tie, Spark
    * rounds the exact double (BigDecimal) while DuckDB scales-and-rounds,
    * and they can disagree by one ulp-of-decimal. With the numerator exact
    * in integer space, ties are exact (all engines round positive ties up)
    * and non-ties have margin ≥ 1/(2·10^4·den) ≫ double error.
    */
  private def ratio4(num: Column, den: Column): Column =
    graft.functions.VectorFunctions.roundNative(
      num.cast("double") * 10000d / greatest(den, lit(1L)).cast("double"), 0) / 10000d

  /** The composite quality score from a TextStats array — THE definition of
    * document quality for both the batch features (qualityFeatures) and the
    * streaming cleaning pipeline (DocPipeline): min(n_words, 50) * alpha /
    * (50 * n_chars), rounded to 4 decimals in scaled-integer space.
    */
  def qualityScoreFromStats(st: Column): Column = {
    val nChars = st(TextStats.NChars)
    val nWords = st(TextStats.WsTokens)
    val alpha = st(TextStats.Alpha)
    ratio4(least(nWords, lit(50L)) * alpha, lit(50L) * greatest(nChars, lit(1L)))
  }

  /** Quality features + a composite score in [0, 1]. All arithmetic is
    * exact-integer ratios rounded in scaled-integer space, so results are
    * engine-portable at any scale factor. Feature counts come from ONE
    * fused pass per text ([[TextStats]]); the oracle keeps the equivalent
    * regex formulations.
    */
  def qualityFeatures(df: DataFrame, textCol: String): DataFrame = {
    val st = TextStats.statsCol(df.sparkSession)(col(textCol))
    val withStats = df.withColumn("_st", st)
    val nChars = col("_st")(TextStats.NChars)
    val nWords = col("_st")(TextStats.WsTokens)
    val alpha = col("_st")(TextStats.Alpha)
    val punct = col("_st")(TextStats.Punct)
    withStats
      .withColumn("n_chars_calc", nChars)
      .withColumn("n_words", nWords)
      .withColumn("alpha_ratio", ratio4(alpha, nChars))
      .withColumn("punct_ratio", ratio4(punct, nChars))
      .withColumn("avg_word_len", ratio4(nChars - (nWords - lit(1L)), nWords))
      // least(n_words/50, 1) * alpha/n_chars == min(n_words,50)*alpha / (50*n_chars)
      .withColumn("quality_score", qualityScoreFromStats(col("_st")))
      .drop("_st")
  }

  /** Polynomial rolling-hash fingerprint (base 31, mod 1e9+7) over the
    * text's code points — deterministic, engine-portable content id.
    * (At 100 TB this would be a codegen'd Expression; the fold keeps the
    * per-row cost linear and shuffle-free either way.)
    */
  def fingerprint(textCol: String): Column =
    expr(s"aggregate(transform(split($textCol, ''), c -> CAST(ascii(c) AS BIGINT)), CAST(0 AS BIGINT), (acc, c) -> (acc * 31 + c) % 1000000007)")

  /** TF-IDF over whitespace tokens: the corpus is tokenized once, nothing
    * joins against itself, and there is no driver-side vocabulary. TWO data
    * shuffles total (token → doc): the token-major exchange feeds both the
    * (doc, token) tf aggregate and the document-frequency window in one
    * stage. `ln` may differ in the last ULP across libm implementations, so
    * ranking happens on the 6-decimal-rounded score (deterministic).
    */
  def tfidfTopTerm(docs: DataFrame, keyCol: String, textCol: String): DataFrame = {
    // TF is computed ROW-locally by the native graft_token_counts
    // expression (round 14): a doc's term frequencies are a per-doc fact,
    // so aggregating them through a corpus-wide token-major shuffle of raw
    // occurrences (the r13 shape: 2.7M exploded tokens at sf1 collapsing
    // to 1.16M (doc, token) groups) moved data to compute something each
    // row already knew. The exploded stream is now the pre-counted
    // (doc, token, tf) pairs, and the only corpus exchange left is the
    // token-clustered df window below.
    val tf = docs.select(col(keyCol),
        explode(graft.expressions.TextSignatures
          .tokenCountsCol(docs.sparkSession)(col(textCol))).as("e"))
      .select(col(keyCol), col("e.t").as("token"), col("e.c").cast("long").as("tf"))
    // Corpus size as a broadcast 1-row join, not a separate docs.count()
    // action: one DAG, one pass over the inputs per invocation.
    val n = docs.agg(count(lit(1)).cast("double").as("_n"))
    // df as an AGGREGATE + hint-free join, not a token window (round 14,
    // same-window A/B, Q53_DECOMP.json: 1.32 → 0.93 s min at sf1): tf has one row
    // per (doc, token) so the per-token row count IS df, the aggregate's
    // map-side combine collapses the exchange to per-partition vocab, and
    // AQE picks the join side at runtime — broadcast at this corpus's
    // 310-term vocab, shuffle join at a corpus-scale vocabulary (the
    // hint-free form is deliberately the 100 TB posture; the old window
    // form paid a full token exchange PLUS a per-partition sort). The tf
    // subtree is scan+explode with no shuffle, so its two consumers
    // re-run it — measured cheaper than materializing it.
    val dfTab = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val scored = tf.join(dfTab, "token")
      .crossJoin(broadcast(n))
      .withColumn("score", graft.functions.VectorFunctions.roundNative(
        col("tf") * log((col("_n") + 1.0) / (col("df") + 1.0)), 6))
    // top-1 per doc as a hash AGGREGATION, not a rank window: the native
    // ArgMaxText aggregate (ObjectHashAggregate, two-field buffer) collapses
    // each doc's tokens map-side and ships one (score, token) per doc —
    // identical to ROW_NUMBER() OVER (ORDER BY score DESC, token) = 1, and
    // unlike a struct-buffer min_by it needs NO sort in either agg phase.
    scored.groupBy(keyCol)
      .agg(graft.expressions.ArgMaxText.argMaxTextCol(docs.sparkSession)(
        struct(col("score"), col("token"))).as("_top"))
      .select(col(keyCol), col("_top.token").as("top_token"), col("_top.score").as("score"))
  }

  /** Corpus-wide language-model n-gram statistics: word-bigram counts with
    * the top-`k` continuations per prefix word — the table behind n-gram LM
    * scoring, contamination screens, and "most common next word"
    * diagnostics over a training corpus.
    *
    * Scale shape: tokenization is hoisted to its own projection (the regex
    * split runs once per doc, not once per bigram), the pair count is one
    * hash-aggregate exchange on (w1, w2) with map-side partial combine, and
    * the per-prefix cut is a rank window that Spark 4 rewrites to
    * WindowGroupLimit — k-row heaps on BOTH sides of the w1 exchange, so a
    * prefix with millions of distinct continuations never buffers them.
    * Nothing in the plan holds per-document or per-prefix state beyond k.
    */
  /** Adjacent word pairs of every document with ≥2 tokens — the shared
    * bigram universe of [[ngramLmTopK]] and [[pmiCollocations]].
    */
  private def wordBigrams(docs: DataFrame, textCol: String): DataFrame = {
    // r16: the split + transform(sequence(...)) HOF composition moved into
    // the native graft_word_bigrams expression (one fused per-row fold, no
    // sequence/lambda machinery — the q123/q75/q53/q117 finding applied to
    // the bigram stream; parity pinned by WordLinesTermTfsSpec, leg A/B in
    // BIGRAM_NATIVE_AB.json). The >=2-token guard stays: it matches the
    // expression's no-pairs contract for short docs and keeps the plan's
    // scan shape unchanged.
    graft.expressions.GraftFunctions.registerAll(docs.sparkSession)
    docs.filter(wsTokenCount(col(textCol)) >= 2)
      .select(explode(call_function(
        "graft_word_bigrams", col(textCol))).as("_p"))
      // the struct fields are non-null by construction, so this filter
      // drops nothing — but stating it EXPLICITLY matters downstream:
      // pmiCollocations' joins infer isnotnull(w1) into one consumer of
      // the bigram-count subtree and isnotnull(w2) into another, and the
      // now-DIFFERENT filters would make the (w1,w2) exchanges
      // non-identical, defeating ReuseExchange — the corpus would be
      // tokenized once per consumer (plan-pinned in PlanShapeSpec).
      .filter(col("_p.w1").isNotNull && col("_p.w2").isNotNull)
      .select(col("_p.w1"), col("_p.w2"))
  }

  def ngramLmTopK(docs: DataFrame, textCol: String, k: Int): DataFrame = {
    val counts = wordBigrams(docs, textCol)
      .groupBy("w1", "w2").agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("w1").orderBy(col("cnt").desc, col("w2"))
    counts.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("w1"), col("rnk"), col("w2"), col("cnt"))
  }

  /** Collocation mining by pointwise mutual information: the top-`k` word
    * pairs by `ln(c12·N / (c1·c2))` (N = total bigram count) among pairs
    * seen at least `minCount` times — the classic phrase-detection
    * statistic over a training corpus.
    *
    * Scale shape: the corpus is tokenized and exchanged exactly ONCE — into
    * the (w1, w2) bigram-count table (map-side combine). Unigram marginals
    * fold from that table's endpoint sums and N from its total, both
    * vocabulary-sized aggregations whose shared c12 subtree ReuseExchange
    * dedups, and N rides along as a broadcast scalar so the whole operator
    * is one job. The marginal joins are vocabulary-sized — orders smaller
    * than the corpus, AQE broadcasts them at any realistic scale — and the
    * global top-k is a TakeOrderedAndProject, no full sort. Every count
    * entering the PMI is an exact long and both engines apply the same
    * IEEE multiply/divide/ln sequence, so the 6-decimal round collapses
    * libm ULP differences (the q53 tf-idf contract).
    */
  def pmiCollocations(docs: DataFrame, textCol: String, k: Int,
                      minCount: Long = 5L): DataFrame = {
    val c12 = wordBigrams(docs, textCol)
      .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    // c1(w) = endpoint count of w = sum of c12 over pairs containing w;
    // N = sum of all c12 — identical values to direct counts over the
    // bigram stream, without re-scanning the corpus for them
    val uni = c12.select(col("w1").as("w"), col("c12").as("_c"))
      .unionAll(c12.select(col("w2").as("w"), col("c12").as("_c")))
      .groupBy("w").agg(sum("_c").as("c1"))
    val nRow = broadcast(c12.agg(sum("c12").cast("double").as("_n")))
    c12.filter(col("c12") >= minCount)
      .join(uni.select(col("w").as("w1"), col("c1").as("_ca")), "w1")
      .join(uni.select(col("w").as("w2"), col("c1").as("_cb")), "w2")
      .crossJoin(nRow)
      .select(col("w1"), col("w2"), col("c12"),
        graft.functions.VectorFunctions.roundNative(
          log((col("c12").cast("double") * col("_n")) /
            (col("_ca").cast("double") * col("_cb"))), 6).as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(k)
  }

  /** BM25 document scoring for a fixed query-term set — the retrieval
    * scoring function behind hard-negative mining and corpus search. Only
    * documents containing at least one query term are scored (every other
    * score is 0 by definition); ties break on the key.
    *
    * Scores are emitted and AGGREGATED in exact integer micro-units
    * (`score_micro` = per-term contribution rounded to 1e-6 and summed as
    * BIGINT): a double sum's value depends on partition merge order in the
    * last ULPs, but rounding each bounded per-term contribution first makes
    * the aggregation order-independent and engine-exact — the integer
    * analog of the `Exact` decimal-sum rule, extended to derived floats.
    *
    * Scale shape: one corpus pass builds (doc, term, tf, dl); corpus-level
    * N/Σdl ride along as a broadcast scalar row and per-term document
    * frequencies as a broadcast |terms|-row table, so the whole operator is
    * one job with a single doc-keyed exchange and a TakeOrdered top-k.
    */
  /** The PRE-ROUND per-(doc, term) BM25 contributions in micro-units —
    * [[bm25TopK]]'s expression tree truncated just before the `round(...)`
    * that makes the cross-engine compare integer-exact. Exposed for the
    * boundary-margin spec: the integer certification is only sound while
    * every contribution keeps a safe distance from a .5 rounding boundary,
    * where accumulated double error could tip Spark and the oracle to
    * different integers.
    */
  private[graft] def bm25RawContribs(docs: DataFrame, keyCol: String, textCol: String,
                                     terms: Seq[String],
                                     k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    // r15: the corpus pass rides the native graft_term_tfs expression —
    // one codegen'd scan emits (dl, per-term tf) ROW-LOCALLY, where the
    // previous shape materialized EVERY corpus token as a generator row
    // (explode + isin keeps ~10^5 of ~27M rows at the sf1 point) and then
    // paid a (doc, dl, token) COUNT exchange for frequencies the row
    // already knew. dl mirrors wsTokenCount exactly (blank text -> 0,
    // contributing to N and sum(dl) but no tf rows — same as before);
    // per-(doc, term) rows and values are identical (Bm25TermTfsAB).
    graft.expressions.GraftFunctions.registerAll(docs.sparkSession)
    val termsArr = array(terms.map(lit): _*)
    val toks = docs.select(col(keyCol),
      call_function("graft_term_tfs", col(textCol), termsArr).as("_tt"))
      .select(col(keyCol), col("_tt.dl").as("dl"), col("_tt.tfs").as("_tfs"))
    val stats = broadcast(toks.agg(count(lit(1)).as("_n"), sum("dl").as("_sdl")))
    val tf = toks
      .select(col(keyCol), col("dl"), posexplode(col("_tfs")).as(Seq("_i", "tf")))
      .filter(col("tf") > 0)
      .select(col(keyCol), col("dl"),
        element_at(termsArr, col("_i") + 1).as("tok"), col("tf"))
    val df = broadcast(tf.groupBy("tok").agg(count(lit(1)).as("df")))
    // expression SHAPES are mirrored verbatim in the oracle: same literals,
    // same association, so every IEEE step rounds identically
    val idf = log((col("_n") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0))
    val avgdl = col("_sdl").cast("double") / col("_n")
    val tfn = (col("tf").cast("double") * lit(k1 + 1)) /
      (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * (col("dl").cast("double") / avgdl)))
    tf.join(df, "tok")
      .crossJoin(stats)
      .select(col(keyCol), (idf * tfn * lit(1000000.0)).as("raw_micro"))
  }

  def bm25TopK(docs: DataFrame, keyCol: String, textCol: String,
               terms: Seq[String], k: Int,
               k1: Double = 1.2, b: Double = 0.75): DataFrame =
    bm25RawContribs(docs, keyCol, textCol, terms, k1, b)
      .select(col(keyCol),
        graft.functions.VectorFunctions.roundNative(col("raw_micro"), 0)
          .cast(org.apache.spark.sql.types.LongType).as("_c"))
      .groupBy(keyCol)
      .agg(sum("_c").as("score_micro"))
      .orderBy(col("score_micro").desc, col(keyCol))
      .limit(k)

  /** Token-distribution drift between two corpus slices: the top-`k`
    * tokens by Laplace-smoothed KL-divergence contribution
    * `pA·ln(pA/pB)` — the monitoring primitive behind "did this week's
    * crawl shift vocabulary?" and train/eval distribution checks. Positive
    * contributions are tokens over-represented in slice A.
    *
    * Contributions are emitted in exact NANO-nat integers (rounded to 1e-9
    * before any aggregation-order-sensitive use — same order-independence
    * construction as [[bm25TopK]]'s micro-units), so the cross-engine
    * compare is float-free.
    *
    * Scale shape: ONE token exchange builds per-token counts for both
    * slices simultaneously (conditional sums, map-side combine); slice
    * totals and vocabulary size fold from that vocabulary-sized table and
    * ride along as a broadcast scalar row (the counted-table fold +
    * ReuseExchange discipline of [[pmiCollocations]]); the top-k is a
    * TakeOrdered.
    */
  def klDriftTopK(docs: DataFrame, textCol: String, sliceA: Column,
                  k: Int): DataFrame =
    klRawContribs(docs, textCol, sliceA)
      .select(col("token"), col("c_a"), col("c_b"),
        graft.functions.VectorFunctions.roundNative(col("raw_nano"), 0)
          .cast(org.apache.spark.sql.types.LongType).as("kl_nano"))
      .orderBy(col("kl_nano").desc, col("token"))
      .limit(k)

  /** The PRE-ROUND per-token KL contributions in nano-nats — see
    * [[bm25RawContribs]] for why the boundary-margin spec needs the
    * expression tree truncated just before the `round(...)`.
    */
  private[graft] def klRawContribs(docs: DataFrame, textCol: String,
                                   sliceA: Column): DataFrame = {
    val toksOf = docs.filter(wsTokenCount(col(textCol)) >= 1)
      .select(sliceA.cast("int").as("_a"), explode(split(trim(col(textCol)), " +")).as("token"))
      .filter(col("token").isNotNull) // vacuously true; keeps every instance
      .groupBy("token")               // of this exchange canonically equal
      .agg(sum(col("_a")).as("c_a"), sum(lit(1) - col("_a")).as("c_b"))
    val stats = broadcast(toksOf.agg(
      sum("c_a").as("_na"), sum("c_b").as("_nb"), count(lit(1)).as("_v")))
    val pA = (col("c_a") + lit(1.0)) / (col("_na") + col("_v"))
    val pB = (col("c_b") + lit(1.0)) / (col("_nb") + col("_v"))
    toksOf.crossJoin(stats)
      .select(col("token"), col("c_a"), col("c_b"),
        (pA * log(pA / pB) * lit(1000000000.0)).as("raw_nano"))
  }

  /** Per-source corpus diversity statistics — the corpus-health monitoring
    * step a training pipeline runs after every curation stage: document
    * count, token volume, vocabulary size, type–token ratio, and distinct
    * word-bigram diversity, each as exact counts with the engine's
    * scaled-integer ratio rounding (q77's portability contract).
    *
    * Scale shape: ONE exploded family-tagged gram stream collapsing through
    * a map-side-combined distinct aggregate keyed `(source, fam, gram)` —
    * the output is sources-sized, never corpus-sized, and nothing wider
    * than a gram ever shuffles.
    */
  def corpusDiversity(docs: DataFrame, sourceCol: String, textCol: String): DataFrame = {
    // ONE gram stream, ONE corpus-wide exchange: tokens, per-doc-distinct
    // bigrams AND the per-doc marker ride the same generator — the native
    // [[graft.expressions.GramStream]] expression, which TAGS each gram's
    // family explicitly (round 14; the r13 form inferred family by
    // 'contains a space', which mis-filed a single-token doc's degenerate
    // spaceless bigram as a token occurrence — ADVICE r13 — and its
    // transform/slice/concat_ws/array_distinct composition was the measured
    // bulk of the sf1 wall). One (source, fam, gram)
    // hash aggregate with map-side combine dedups both gram families in a
    // single vocabulary-sized exchange, counting occurrences as it goes;
    // the sources-sized second aggregate reads totals, distincts AND the
    // doc counts off the per-gram table — the fam=2 marker replaces what
    // was a second corpus scan + n_docs aggregate + source-keyed left join
    // (three extra stages of pure scheduling floor at bench scale, and a
    // second full pass at 100 TB). A source whose documents are ALL
    // empty/blank still shows (n_docs, 0, 0, 0.0, 0): every doc emits its
    // marker, so no source can drop out (null text reads as empty).
    val grams = docs
      .select(col(sourceCol).as("source"),
        explode(graft.expressions.TextSignatures
          .gramStreamCol(docs.sparkSession)(coalesce(col(textCol), lit("")))).as("e"))
      .select(col("source"), col("e.fam").as("fam"), col("e.g").as("g"))
    val perGram = grams
      .groupBy(col("source"), col("fam"), col("g"))
      .agg(count(lit(1)).as("occ"))
    val isTok = col("fam") === graft.expressions.TextSignatures.FamToken
    val isBig = col("fam") === graft.expressions.TextSignatures.FamBigram
    val isDoc = col("fam") === graft.expressions.TextSignatures.FamDoc
    perGram.groupBy("source")
      .agg(sum(when(isDoc, col("occ")).otherwise(lit(0L))).as("n_docs"),
        sum(when(isTok, col("occ")).otherwise(lit(0L))).as("total_tokens"),
        count(when(isTok, 1)).as("distinct_tokens"),
        count(when(isBig, 1)).as("distinct_bigrams"))
      .select(col("source"), col("n_docs"), col("total_tokens"),
        col("distinct_tokens"),
        ratio4(col("distinct_tokens"), col("total_tokens")).as("ttr"),
        col("distinct_bigrams"))
  }

  // ------------------------------------------------------- declared queries

  val queries: Map[String, Q] = Map(
    "q123_corpus_diversity" -> ((s, dir) =>
      corpusDiversity(Tables(s, dir).documents, "source", "text")
        .presented("source")),
    "q112_kl_drift" -> ((s, dir) =>
      klDriftTopK(Tables(s, dir).documents, "text",
        sliceA = col("doc_id") % 2 === 0, k = 20)),
    "q111_bm25" -> ((s, dir) =>
      bm25TopK(Tables(s, dir).documents, "doc_id", "text",
        Seq("table", "hash", "spark", "window"), k = 20)),
    "q108_ngram_lm" -> ((s, dir) =>
      ngramLmTopK(Tables(s, dir).documents, "text", k = 3)
        .presented("w1", "rnk")),
    // global top-20 already carries its total order (pmi desc, w1, w2) from
    // the TakeOrdered — no presentation re-sort needed
    "q110_pmi_collocations" -> ((s, dir) =>
      pmiCollocations(Tables(s, dir).documents, "text", k = 20)),
    "q53_text_tfidf" -> ((s, dir) =>
      tfidfTopTerm(Tables(s, dir).documents, "doc_id", "text")
        .presented("doc_id")),
    "q47_text_langid" -> ((s, dir) => {
      // one fused marker scan per doc; argmax over the per-language counts
      // (ties → first language in fixed order, 'und' when no hits)
      val hits = TextStats.markerHitsCol(s)(col("text"))
      val hitCols = TextStats.langs.indices.map(i => col("_h")(i))
      val best = hitCols.reduce((a, b) => greatest(a, b))
      val lang = TextStats.langs.zip(hitCols).foldRight(lit("und"): Column) {
        case ((l, h), acc) => when(h === col("_best") && col("_best") > 0, l).otherwise(acc)
      }
      Tables(s, dir).documents
        .withColumn("_h", hits)
        .withColumn("_best", best)
        .select(col("doc_id"), lang.as("pred_lang"), col("_best").as("marker_hits"))
        .presented("doc_id")
    }),
    "q48_text_quality" -> ((s, dir) =>
      qualityFeatures(Tables(s, dir).documents, "text")
        .select("doc_id", "n_chars_calc", "n_words", "alpha_ratio",
          "punct_ratio", "avg_word_len", "quality_score")
        .presented("doc_id")),
    "q49_text_tokens" -> ((s, dir) => {
      val st = TextStats.statsCol(s)(col("text"))
      Tables(s, dir).documents
        .withColumn("_st", st)
        .select(col("doc_id"),
          col("_st")(TextStats.WsTokens).as("ws_tokens"),
          col("_st")(TextStats.BpeishTokens).as("bpeish_tokens"))
        .presented("doc_id")
    }),
    "q50_text_fingerprint" -> ((s, dir) =>
      Tables(s, dir).documents
        .select(col("doc_id"), TextStats.fingerprintCol(s)(col("text")).as("fp"))
        .presented("doc_id")),
    // Tokenizer-vocabulary coverage: build the top-V corpus vocabulary
    // (count desc, token asc — a total order, so the cut is deterministic)
    // and score each doc's out-of-vocabulary rate against it. Scale shape:
    // the vocab is a TakeOrdered over the token aggregate (bounded V rows on
    // the driver regardless of corpus size) and comes back as a BROADCAST
    // probe side — the corpus tokens stream through one hash lookup and one
    // doc-major aggregation, never sorting.
    "q91_vocab_oov" -> ((s, dir) => {
      // r15: the vocabulary half stays the token-major aggregate +
      // TakeOrdered cut, now DRIVER-PINNED (1000 terms — the same bounded
      // collect contract as the IVF centroid pins) and baked into the
      // scoring half as a literal, so scoring is ONE map-only corpus pass
      // through the native graft_oov_stats expression: no token explode,
      // no broadcast join, no doc-major re-aggregate (those three stages
      // were the whole probe branch; the r14 persist treatment measured
      // neutral-to-worse because the problem was
      // the branch's shape, not its double scan). The DEPLOYMENT form
      // keeps the top-V vocab as a MAINTAINED artifact — the q119
      // pattern — and pays only [[vocabOovScoreLocal]] per increment;
      // the bench splits that out as the q91_score_only submetric.
      val docs = Tables(s, dir).documents
      val tok = tokenCountPairs(docs, "doc_id", "text")
      vocabOovScoreLocal(docs, "doc_id", "text",
        collectVocab(topVocab(tok, 1000))).presented("doc_id")
    }),
  )

  /** The top-V vocabulary as driver-pinned terms — bounded by `v` (the cut
    * [[topVocab]] already enforces via its limit), the same
    * bounded-driver-pin contract as the IVF centroids.
    */
  def collectVocab(vocab: DataFrame): Seq[String] =
    vocab.select("token").collect().map(_.getString(0)).toSeq

  /** q91's scoring half over a DRIVER-KNOWN vocabulary: one map-only pass
    * through the native [[graft.expressions.OovStats]] expression (the
    * vocabulary hashed once, never per row). Values identical to
    * [[vocabOovScore]] — same rounding, same blank-doc contract (the
    * single-empty-token degenerate case scores n_tokens = 1).
    */
  def vocabOovScoreLocal(docs: DataFrame, keyCol: String, textCol: String,
                         terms: Seq[String]): DataFrame = {
    graft.expressions.GraftFunctions.registerAll(docs.sparkSession)
    docs.select(col(keyCol),
        call_function("graft_oov_stats", col(textCol),
          array(terms.map(lit): _*)).as("_os"))
      .select(col(keyCol),
        col("_os.n_tokens").as("n_tokens"), col("_os.n_oov").as("n_oov"))
      .withColumn("oov_rate",
        graft.functions.VectorFunctions.roundNative(
          col("n_oov") * 10000d / col("n_tokens"), 0) / 10000d)
  }

  /** The `(doc_id, token, c)` pre-counted pair stream both q91 halves
    * consume (round 14): per-doc term frequencies are a row-local fact
    * (native graft_token_counts — the q53 finding), so everything
    * downstream moves 1.16M pre-counted pairs instead of 2.7M raw token
    * occurrences at the sf1 point.
    */
  def tokenCountPairs(docs: DataFrame, keyCol: String, textCol: String): DataFrame =
    docs.select(col(keyCol),
        explode(graft.expressions.TextSignatures
          .tokenCountsCol(docs.sparkSession)(col(textCol))).as("e"))
      .select(col(keyCol), col("e.t").as("token"), col("e.c").cast("long").as("c"))

  /** q91's vocabulary half: the top-`v` corpus tokens (count desc, token asc
    * — a total order, so the cut is deterministic) as the `(token, _in)`
    * probe side. Input is the [[tokenCountPairs]] stream. TakeOrdered:
    * bounded v rows on the driver regardless of corpus size.
    */
  def topVocab(tok: DataFrame, v: Int): DataFrame =
    tok.groupBy("token").agg(sum(col("c")).as("cnt"))
      .orderBy(col("cnt").desc, col("token")).limit(v)
      .select(col("token"), lit(1).as("_in"))

  /** q91's scoring half alone — the per-increment steady-state cost when the
    * vocabulary is a maintained artifact: one broadcast hash probe over the
    * [[tokenCountPairs]] stream and one doc-major aggregate, no token-major
    * exchange.
    */
  def vocabOovScore(tok: DataFrame, vocab: DataFrame): DataFrame =
    tok.join(broadcast(vocab), Seq("token"), "left_outer")
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n_tokens"),
        sum(when(col("_in").isNull, col("c")).otherwise(lit(0L))).as("n_oov"))
      .withColumn("oov_rate",
        graft.functions.VectorFunctions.roundNative(
          col("n_oov") * 10000d / col("n_tokens"), 0) / 10000d)

  val oracles: Map[String, String] = Map(
    // same ' +' tokenization + q77 ratio rounding; bigrams per doc are
    // distinct-ed before the per-source distinct (mirrors array_distinct)
    "q123_corpus_diversity" ->
      """WITH base AS (SELECT source, string_split_regex(trim(text), ' +') AS t FROM documents
                       WHERE length(trim(text)) > 0),
              toks AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS total_tokens,
                              CAST(COUNT(DISTINCT tok) AS BIGINT) AS distinct_tokens
                       FROM (SELECT source, unnest(t) AS tok FROM base) GROUP BY source),
              bigs AS (SELECT source, CAST(COUNT(DISTINCT bg) AS BIGINT) AS distinct_bigrams
                       FROM (SELECT source,
                                    unnest(list_distinct(list_transform(range(1, greatest(len(t) - 1, 1) + 1),
                                                                        i -> array_to_string(list_slice(t, i, i + 1), ' ')))) AS bg
                             FROM base) GROUP BY source),
              nd AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents GROUP BY source)
         SELECT nd.source, n_docs,
                COALESCE(total_tokens, 0) AS total_tokens,
                COALESCE(distinct_tokens, 0) AS distinct_tokens,
                ROUND(CAST(COALESCE(distinct_tokens, 0) AS DOUBLE) * 10000 / greatest(COALESCE(total_tokens, 0), 1)) / 10000 AS ttr,
                COALESCE(distinct_bigrams, 0) AS distinct_bigrams
         FROM nd LEFT JOIN toks ON nd.source = toks.source LEFT JOIN bigs ON nd.source = bigs.source
         ORDER BY nd.source""",
    // same ' +' tokenization contract as q53/q75; DuckDB lists are
    // 1-indexed so range(1, len) yields the (t[i], t[i+1]) bigrams; rn cast
    // to INTEGER to match Spark's row_number type
    "q108_ngram_lm" ->
      """WITH toks AS (SELECT string_split_regex(trim(text), ' +') AS t FROM documents
                       WHERE CASE WHEN length(trim(text)) = 0 THEN 0
                                  ELSE len(string_split_regex(trim(text), ' +')) END >= 2),
              bg AS (SELECT t[g.i] AS w1, t[g.i + 1] AS w2
                     FROM toks, LATERAL (SELECT unnest(range(1, len(t))) AS i) g),
              c AS (SELECT w1, w2, COUNT(*) AS cnt FROM bg GROUP BY w1, w2)
         SELECT w1, CAST(rnk AS INTEGER) AS rnk, w2, cnt FROM
           (SELECT w1, w2, cnt,
                   ROW_NUMBER() OVER (PARTITION BY w1 ORDER BY cnt DESC, w2) AS rnk
            FROM c) r
         WHERE rnk <= 3 ORDER BY w1, rnk""",
    // kl_nano is an exact BIGINT (contribution rounded to nano-nats — see
    // klDriftTopK); SUMs cast to BIGINT because DuckDB's SUM(INTEGER)
    // returns HUGEINT; the smoothed-probability expression mirrors the
    // engine op-for-op
    "q112_kl_drift" ->
      """WITH tok AS (SELECT CAST(doc_id % 2 = 0 AS INTEGER) AS a,
                             unnest(string_split_regex(trim(text), ' +')) AS token
                      FROM documents
                      WHERE CASE WHEN length(trim(text)) = 0 THEN 0
                                 ELSE len(string_split_regex(trim(text), ' +')) END >= 1),
              c AS (SELECT token, CAST(SUM(a) AS BIGINT) AS c_a,
                           CAST(SUM(1 - a) AS BIGINT) AS c_b
                    FROM tok GROUP BY token),
              s AS (SELECT CAST(SUM(c_a) AS BIGINT) AS na,
                           CAST(SUM(c_b) AS BIGINT) AS nb, COUNT(*) AS v FROM c)
         SELECT token, c_a, c_b,
                CAST(ROUND(
                  ((c_a + 1.0) / (s.na + s.v)) *
                  LN(((c_a + 1.0) / (s.na + s.v)) / ((c_b + 1.0) / (s.nb + s.v))) *
                  1000000000.0) AS BIGINT) AS kl_nano
         FROM c CROSS JOIN s
         ORDER BY kl_nano DESC, token
         LIMIT 20""",
    // score_micro is an exact BIGINT (per-term contribution rounded to
    // micro-units before the sum — see bm25TopK scaladoc), so the compare
    // has no float column at all; the double expression SHAPE inside the
    // rounding mirrors the engine's literally (0.5/1.0/2.2/1.2/0.75, same
    // association)
    "q111_bm25" ->
      """WITH t AS (SELECT doc_id,
                           CASE WHEN length(trim(text)) = 0 THEN 0
                                ELSE CAST(len(string_split_regex(trim(text), ' +')) AS BIGINT) END AS dl,
                           string_split_regex(trim(text), ' +') AS toks
                    FROM documents),
              s AS (SELECT COUNT(*) AS n, SUM(dl) AS sdl FROM t),
              tf AS (SELECT doc_id, dl, tok, COUNT(*) AS tf
                     FROM (SELECT doc_id, dl, unnest(toks) AS tok FROM t) x
                     WHERE tok IN ('table', 'hash', 'spark', 'window')
                     GROUP BY doc_id, dl, tok),
              df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
              c AS (SELECT tf.doc_id,
                           CAST(ROUND(
                             LN((s.n - df.df + 0.5) / (df.df + 0.5) + 1.0) *
                             ((CAST(tf.tf AS DOUBLE) * 2.2) /
                              (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * (CAST(tf.dl AS DOUBLE) / (CAST(s.sdl AS DOUBLE) / s.n))))) *
                             1000000.0) AS BIGINT) AS c
                    FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN s)
         SELECT doc_id, CAST(SUM(c) AS BIGINT) AS score_micro
         FROM c GROUP BY doc_id
         ORDER BY score_micro DESC, doc_id
         LIMIT 20""",
    // unigram marginals are the BIGRAM-ENDPOINT counts (each side of every
    // adjacent pair), the same universe the engine declares; PMI arithmetic
    // mirrors the engine expression shape exactly so both engines round the
    // same double (see pmiCollocations scaladoc)
    "q110_pmi_collocations" ->
      """WITH toks AS (SELECT string_split_regex(trim(text), ' +') AS t FROM documents
                       WHERE CASE WHEN length(trim(text)) = 0 THEN 0
                                  ELSE len(string_split_regex(trim(text), ' +')) END >= 2),
              bg AS (SELECT t[g.i] AS w1, t[g.i + 1] AS w2
                     FROM toks, LATERAL (SELECT unnest(range(1, len(t))) AS i) g),
              c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY w1, w2),
              uni AS (SELECT w, COUNT(*) AS c1 FROM
                        (SELECT w1 AS w FROM bg UNION ALL SELECT w2 AS w FROM bg) u
                      GROUP BY w),
              n AS (SELECT COUNT(*) AS n FROM bg)
         SELECT c.w1, c.w2, c.c12,
                ROUND(LN((CAST(c.c12 AS DOUBLE) * (SELECT n FROM n)) /
                         (CAST(a.c1 AS DOUBLE) * b.c1)), 6) AS pmi
         FROM c12 c JOIN uni a ON a.w = c.w1 JOIN uni b ON b.w = c.w2
         WHERE c.c12 >= 5
         ORDER BY pmi DESC, c.w1, c.w2
         LIMIT 20""",
    "q53_text_tfidf" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split_regex(trim(text), ' +')) AS token FROM documents),
              tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
              df AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
              n AS (SELECT COUNT(*) AS n FROM documents),
              scored AS (SELECT tf.doc_id, tf.token, ROUND(tf.tf * ln((n.n + 1.0) / (df.df + 1.0)), 6) AS score
                         FROM tf JOIN df USING (token) CROSS JOIN n)
         SELECT doc_id, token AS top_token, score
         FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, token) AS rn FROM scored) x
         WHERE rn = 1 ORDER BY doc_id""",
    // Vocabulary cut mirrors the engine's (count desc, token asc) total
    // order; n_oov as a filtered COUNT (not SUM) so both engines emit
    // BIGINT; the oov ratio uses the same scaled-integer rounding as the
    // quality/repetition families.
    "q91_vocab_oov" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split_regex(trim(text), ' +')) AS token FROM documents),
              vocab AS (SELECT token FROM (
                SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token
                ORDER BY cnt DESC, token LIMIT 1000)),
              marked AS (SELECT t.doc_id, v.token AS hit
                         FROM tok t LEFT JOIN vocab v ON t.token = v.token)
         SELECT doc_id, COUNT(*) AS n_tokens,
                COUNT(CASE WHEN hit IS NULL THEN 1 END) AS n_oov,
                ROUND(COUNT(CASE WHEN hit IS NULL THEN 1 END) * 10000.0 / COUNT(*)) / 10000.0 AS oov_rate
         FROM marked GROUP BY doc_id ORDER BY doc_id""",
    "q47_text_langid" -> {
      val hitExprs = langMarkers.map { case (l, p) =>
        s"CAST(len(regexp_extract_all(text, '$p')) AS BIGINT) AS h_$l"
      }.mkString(", ")
      val bestExpr = "greatest(" + langMarkers.map { case (l, _) => s"h_$l" }.mkString(", ") + ")"
      val langCase = langMarkers.map { case (l, _) =>
        s"WHEN h_$l = best AND best > 0 THEN '$l'"
      }.mkString("CASE ", " ", " ELSE 'und' END")
      s"""SELECT doc_id, $langCase AS pred_lang, best AS marker_hits
          FROM (SELECT doc_id, $bestExpr AS best, h_en, h_de, h_fr, h_es, h_nl
                FROM (SELECT doc_id, $hitExprs FROM documents) x) y
          ORDER BY doc_id"""
    },
    "q48_text_quality" ->
      """SELECT doc_id, n_chars_calc, n_words,
                ROUND(CAST(alpha AS DOUBLE) * 10000 / greatest(n_chars_calc, 1)) / 10000 AS alpha_ratio,
                ROUND(CAST(punct AS DOUBLE) * 10000 / greatest(n_chars_calc, 1)) / 10000 AS punct_ratio,
                ROUND(CAST(n_chars_calc - (n_words - 1) AS DOUBLE) * 10000 / greatest(n_words, 1)) / 10000 AS avg_word_len,
                ROUND(CAST(least(n_words, 50) * alpha AS DOUBLE) * 10000 / (50 * greatest(n_chars_calc, 1))) / 10000 AS quality_score
         FROM (SELECT doc_id,
                      CAST(length(text) AS BIGINT) AS n_chars_calc,
                      CASE WHEN length(trim(text)) = 0 THEN 0 ELSE CAST(len(string_split_regex(trim(text), ' +')) AS BIGINT) END AS n_words,
                      CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS BIGINT) AS alpha,
                      CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS BIGINT) AS punct
               FROM documents) f
         ORDER BY doc_id""",
    "q49_text_tokens" ->
      """SELECT doc_id,
                CASE WHEN length(trim(text)) = 0 THEN 0 ELSE CAST(len(string_split_regex(trim(text), ' +')) AS BIGINT) END AS ws_tokens,
                CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS BIGINT) AS bpeish_tokens
         FROM documents ORDER BY doc_id""",
    "q50_text_fingerprint" ->
      """SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(text, ''), c -> CAST(ord(c) AS BIGINT))), (acc, c) -> (acc * 31 + c) % 1000000007) AS fp
         FROM documents ORDER BY doc_id""",
  )
}
