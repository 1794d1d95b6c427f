#!/usr/bin/env python3
"""Merge the sf1-scale ratio point: DuckDB side + artifact.

Usage: bench_sf1.py <sf1dir> <oracle_sql.json> <bench_sf1_spark.json> [out]

Runs the SAME committed oracle SQL as the correctness gate for the queries
`graft.tools.BenchSf1` timed, over the SAME densified parquet (Spark writes
directory-shaped parquet, so views glob `<t>.parquet/*.parquet` when the
path is a directory), with the same methodology (one warmup, min of 3
re-planned runs fetching all rows). Writes BENCH_sf1.json carrying BOTH
engines' per-query maps and the per-query ratios.

Full-suite honesty classification (round 11):
- oracles that read committed golden files (`goldens/…`) do no DuckDB-side
  work at sf1 — timing a parquet point-read against a real Spark pipeline
  would flatter nothing and compare nothing, so they are reported with
  duckdb = null, class = "golden-read";
- streaming replays (`_stream_` queries and the stateful session/upsert
  machines) pay micro-batch/state-store machinery a batch SQL
  reconstruction does not — DuckDB still runs their batch oracle, and the
  pair is recorded, but they are excluded from the headline ratio and
  carry class = "streaming-replay";
- everything else is class = "batch" and feeds the headline
  `batch_ratio` (spark_total / duckdb_total over batch pairs).
Each DuckDB query gets a 120 s interrupt guard so one pathological oracle
cannot wedge the capture (recorded as -2.0 = timeout).
"""
import json
import os
import sys
import threading
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from bench_duckdb import q87_fair_sql  # noqa: E402

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

STREAM_MARKERS = ("_stream_",)
DUCK_TIMEOUT_S = 120.0


def classify(name, sql):
    if "goldens/" in sql:
        return "golden-read"
    if any(m in name for m in STREAM_MARKERS):
        return "streaming-replay"
    return "batch"


def floor_drift_verdict(pw, fp_prev, fp_cur, have_prev_fps):
    """Self-adjudication for an outlier whose committed prior wall is
    scheduling-floor class (<= 0.45 s). r17 (ADVICE r16): a floor-class
    prior alone must not self-close the verdict — a real plan/code
    regression pushing a floor query into the band has the same wall
    signature. The window-drift close additionally requires the
    scrubbed-plan fingerprint to be UNCHANGED vs the committed artifact;
    changed or missing fingerprints stay UNCONFIRMED (open). Module-level
    so the open-on-changed-fingerprint path is pinned by
    tools/test_adjudication.py (r18). Returns (verdict, is_open)."""
    if fp_prev is not None and fp_prev == fp_cur:
        return (f"window-drift (committed wall {pw:.3f}s is "
                "scheduling-floor class; plan fingerprint unchanged)", False)
    if not have_prev_fps:
        # baseline predates the fingerprint mechanism (pre-r17 artifact):
        # the gate cannot apply retroactively — close on the floor-class
        # prior as before, but say so; the gate is fully active from the
        # first committed capture that carries plan_fps
        return (f"window-drift (committed wall {pw:.3f}s is "
                "scheduling-floor class; fingerprint baseline unavailable "
                "— pre-r17 artifact, gate active from the next committed "
                "capture)", False)
    # three distinct evidence states (ADVICE r17): prev fp missing
    # (baseline gap), cur fp missing (BenchSf1 swallows fingerprint
    # exceptions, so cur_fps.get(n) can be None), or both present and
    # genuinely different
    fp_state = ("missing from the baseline" if fp_prev is None
                else "missing from this capture"
                if fp_cur is None else "CHANGED")
    return (f"window-drift (UNCONFIRMED — committed wall {pw:.3f}s is "
            "floor class but the plan fingerprint is " + fp_state +
            "; re-measure before closing)", True)


def submetric_duckdb(con, oracles):
    """DuckDB twins for the Spark submetrics — the same build-untimed /
    probe-timed split, with the BUILD side materialized from the committed
    oracle's own CTE text (the q74 constants-from-committed pattern) and an
    in-run row-identity assert against the full oracle, so the twin cannot
    drift from the certified semantics. Returns {name: min-of-3 seconds}."""
    out = {}

    def timed(sql):
        con.sql(sql).fetchall()  # warmup
        samples = []
        for _ in range(3):
            t0 = time.perf_counter()
            con.sql(sql).fetchall()
            samples.append(time.perf_counter() - t0)
        return round(min(samples), 6)

    # q129 search-only: centroids + vector-carrying cells as temp tables
    # (untimed, from the committed oracle's training CTEs), then time the
    # probe/score/rank tail alone — the two-sided pair for the Spark
    # q129_search_only submetric.
    sql = oracles.get("q129_similarity_ivf_persisted", "")
    if "caq AS" in sql:
        prefix = sql.split("caq AS")[0].rstrip().rstrip(",")
        con.execute("CREATE OR REPLACE TEMP TABLE q129_cent AS "
                    f"{prefix} SELECT cent_id, cvec FROM c2")
        con.execute("CREATE OR REPLACE TEMP TABLE q129_cells AS "
                    f"{prefix} SELECT c.c_id, c.cent_id, e.embedding "
                    "FROM cells c JOIN corp e ON e.vec_id = c.c_id")
        search = """
          WITH incr AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 = 0),
               caq AS (SELECT i.vec_id, c.cent_id,
                              ROUND(list_cosine_similarity(CAST(i.embedding AS DOUBLE[]), c.cvec), 6) AS s
                       FROM incr i CROSS JOIN q129_cent c),
               probes AS (SELECT vec_id AS q_id, cent_id FROM
                            (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s DESC, cent_id) AS rn FROM caq) y
                          WHERE rn <= 4),
               cand AS (SELECT q_id, cl.c_id AS n_id, cl.embedding AS nv
                        FROM probes JOIN q129_cells cl USING (cent_id) WHERE cl.c_id <> q_id),
               scored AS (SELECT q_id, n_id,
                                 ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(nv AS DOUBLE[])), 6) AS sim
                          FROM cand JOIN incr a ON a.vec_id = q_id)
          SELECT q_id, rnk, n_id, sim FROM
            (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rnk FROM scored) z
          WHERE rnk <= 3 ORDER BY q_id, rnk"""
        if con.sql(search).fetchall() != con.sql(sql).fetchall():
            raise RuntimeError("q129 search-only twin != full oracle rows")
        out["q129_search_only"] = timed(search)
        print(f"SF1DUCK q129_search_only         {out['q129_search_only']:8.3f} s"
              "  [submetric twin, index build untimed]")

    # q91 score-only: the top-V vocab as a temp table (untimed, the
    # committed oracle's own vocab CTE), then time the scoring pass alone.
    sql91 = oracles.get("q91_vocab_oov", "")
    if "marked AS" in sql91:
        vprefix = sql91.split("marked AS")[0].rstrip().rstrip(",")
        con.execute(f"CREATE OR REPLACE TEMP TABLE q91_vocab AS {vprefix} "
                    "SELECT token FROM vocab")
        score = """
          WITH tok AS (SELECT doc_id, unnest(string_split_regex(trim(text), ' +')) AS token FROM documents),
               marked AS (SELECT t.doc_id, v.token AS hit
                          FROM tok t LEFT JOIN q91_vocab v ON t.token = v.token)
          SELECT doc_id, COUNT(*) AS n_tokens,
                 COUNT(CASE WHEN hit IS NULL THEN 1 END) AS n_oov,
                 ROUND(COUNT(CASE WHEN hit IS NULL THEN 1 END) * 10000.0 / COUNT(*)) / 10000.0 AS oov_rate
          FROM marked GROUP BY doc_id ORDER BY doc_id"""
        if con.sql(score).fetchall() != con.sql(sql91).fetchall():
            raise RuntimeError("q91 score-only twin != full oracle rows")
        out["q91_score_only"] = timed(score)
        print(f"SF1DUCK q91_score_only           {out['q91_score_only']:8.3f} s"
              "  [submetric twin, vocab build untimed]")

    # q120 resolve-only: the pair list and the per-doc quality scores as
    # temp tables (untimed, both from the committed oracle's own CTEs —
    # deployment maintains the scores and gets the pairs from the gate),
    # then time the cluster + score-join + keep-window tail alone.
    sql120 = oracles.get("q120_dedup_resolve", "")
    if "edges AS" in sql120 and "ranked AS" in sql120:
        pair_prefix = sql120.split("edges AS")[0].rstrip().rstrip(",")
        con.execute("CREATE OR REPLACE TEMP TABLE q120_pairs AS "
                    f"{pair_prefix} SELECT a, b FROM pairs")
        score_prefix = sql120.split("ranked AS")[0].rstrip().rstrip(",")
        con.execute("CREATE OR REPLACE TEMP TABLE q120_scored AS "
                    f"{score_prefix} SELECT doc_id, quality_score FROM scored")
        resolve = """
          WITH RECURSIVE
            edges AS (SELECT a AS src, b AS dst FROM q120_pairs
                      UNION ALL SELECT b, a FROM q120_pairs),
            reach AS (
              SELECT DISTINCT src AS node, src AS r FROM edges
              UNION
              SELECT reach.node, e.dst AS r FROM reach JOIN edges e ON e.src = reach.r),
            clusters AS (SELECT node AS doc_id, MIN(r) AS cluster FROM reach GROUP BY node),
            ranked AS (
              SELECT c.doc_id, c.cluster, s.quality_score,
                     ROW_NUMBER() OVER (PARTITION BY c.cluster ORDER BY s.quality_score DESC, c.doc_id) AS rk
              FROM clusters c JOIN q120_scored s USING (doc_id))
          SELECT doc_id, cluster, quality_score, (rk = 1) AS keep FROM ranked ORDER BY doc_id"""
        if con.sql(resolve).fetchall() != con.sql(sql120).fetchall():
            raise RuntimeError("q120 resolve-only twin != full oracle rows")
        out["q120_resolve_only"] = timed(resolve)
        print(f"SF1DUCK q120_resolve_only        {out['q120_resolve_only']:8.3f} s"
              "  [submetric twin, scores + pairs untimed]")

    # q107 maintain-only (round 16): base counts + changeset as temp tables
    # (untimed — deployment persists the counts and the MERGE feed supplies
    # the changeset), then time the delta aggregate + full-outer apply alone.
    sql107 = oracles.get("q107_incremental_agg", "")
    if "merged AS" in sql107:
        ch_prefix = sql107.split("merged AS")[0].rstrip().rstrip(",")
        con.execute(f"CREATE OR REPLACE TEMP TABLE q107_ch AS {ch_prefix} "
                    "SELECT * FROM ch")
        con.execute("CREATE OR REPLACE TEMP TABLE q107_base AS "
                    "SELECT o_custkey, COUNT(*) AS n FROM orders GROUP BY o_custkey")
        maintain = """
          WITH delta AS (SELECT o_custkey,
                                SUM(CASE WHEN op = 'I' THEN 1 ELSE -1 END) AS d
                         FROM q107_ch WHERE op <> 'U' GROUP BY o_custkey)
          SELECT COALESCE(b.o_custkey, d.o_custkey) AS o_custkey,
                 CAST(COALESCE(b.n, 0) + COALESCE(d.d, 0) AS BIGINT) AS n
          FROM q107_base b FULL OUTER JOIN delta d ON b.o_custkey = d.o_custkey
          WHERE COALESCE(b.n, 0) + COALESCE(d.d, 0) > 0
          ORDER BY o_custkey"""
        if con.sql(maintain).fetchall() != con.sql(sql107).fetchall():
            raise RuntimeError("q107 maintain-only twin != full oracle rows")
        out["q107_maintain_only"] = timed(maintain)
        print(f"SF1DUCK q107_maintain_only       {out['q107_maintain_only']:8.3f} s"
              "  [submetric twin, base counts + changeset untimed]")

    # q119 strip-only (round 16): the standing corpus's (line, df) table and
    # the increment's chunked lines as temp tables (untimed — the df table
    # IS the maintained artifact, and chunking the increment's text is the
    # ingest step), then time the merge + threshold + flag + stitch alone.
    # df is additive over the disjoint corpus/increment doc sets, so the
    # merged dictionary equals the oracle's whole-union HAVING >= 2 set.
    sql119 = oracles.get("q119_boilerplate_increment", "")
    if "flagged AS" in sql119 and "bp AS" in sql119:
        lines_prefix = sql119.split("bp AS")[0].rstrip().rstrip(",")
        con.execute(f"CREATE OR REPLACE TEMP TABLE q119_corpus_counts AS {lines_prefix} "
                    "SELECT line, COUNT(DISTINCT doc_id) AS df FROM lines "
                    "WHERE doc_id % 5 <> 0 GROUP BY line")
        con.execute(f"CREATE OR REPLACE TEMP TABLE q119_inc_lines AS {lines_prefix} "
                    "SELECT doc_id, chunk_id, line FROM lines WHERE doc_id % 5 = 0")
        strip = """
          WITH incdf AS (SELECT line, COUNT(DISTINCT doc_id) AS df
                         FROM q119_inc_lines GROUP BY line),
               dict AS (SELECT line FROM (
                          SELECT line, SUM(df) AS df FROM (
                            SELECT * FROM q119_corpus_counts
                            UNION ALL SELECT * FROM incdf) u GROUP BY line) m
                        WHERE df >= 2),
               flagged AS (SELECT i.doc_id, i.chunk_id, i.line,
                                  (b.line IS NOT NULL) AS is_bp
                           FROM q119_inc_lines i LEFT JOIN dict b USING (line))
          SELECT doc_id,
                 CAST(COUNT(*) AS BIGINT) AS n_lines,
                 CAST(SUM(CASE WHEN is_bp THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
                 COALESCE(string_agg(line, ' ' ORDER BY chunk_id) FILTER (WHERE NOT is_bp), '') AS clean_text
          FROM flagged GROUP BY doc_id ORDER BY doc_id"""
        if con.sql(strip).fetchall() != con.sql(sql119).fetchall():
            raise RuntimeError("q119 strip-only twin != full oracle rows")
        out["q119_strip_only"] = timed(strip)
        print(f"SF1DUCK q119_strip_only          {out['q119_strip_only']:8.3f} s"
              "  [submetric twin, corpus line-df table untimed]")
    return out


def main():
    sfdir, oracle_path, spark_path = sys.argv[1], sys.argv[2], sys.argv[3]
    out_path = sys.argv[4] if len(sys.argv) > 4 else "BENCH_sf1.json"
    # optional 5th arg: check_oracles.py --json output for a Verify dump at
    # the SAME densified dir — merged as the golden-read class's value-check
    # column (round 12: the LSH/sketch goldens carry the densified corpus
    # tags, so the eight formerly unchecked-at-sf1 queries are value-checked
    # at the bench's own scale point)
    value_check = json.load(open(sys.argv[5]))["verdicts"] if len(sys.argv) > 5 else None
    spark = json.load(open(spark_path))
    # previously COMMITTED sf1 walls, read before this capture overwrites
    # them — the sub-wall outlier ledger adjudicates its own churners
    # against them (a query whose committed wall sits in the scheduling
    # floor entered the band on host drift, not a plan change).
    # r17 (ADVICE r16): the baseline is read from git HEAD, not whatever
    # capture currently sits at out_path — back-to-back bench runs must
    # adjudicate against the committed walls, not the prior uncommitted
    # window. Falls back to the on-disk file outside a git checkout; the
    # artifact records which baseline the verdicts were computed against.
    prev_artifact, baseline_src = {}, None
    try:
        import subprocess
        blob = subprocess.run(
            ["git", "show", f"HEAD:{os.path.basename(out_path)}"],
            capture_output=True, text=True,
            cwd=os.path.dirname(os.path.abspath(out_path)) or ".")
        if blob.returncode == 0 and blob.stdout.strip():
            prev_artifact = json.loads(blob.stdout)
            head = subprocess.run(["git", "rev-parse", "--short", "HEAD"],
                                  capture_output=True, text=True,
                                  cwd=os.path.dirname(
                                      os.path.abspath(out_path)) or ".")
            baseline_src = f"git HEAD {head.stdout.strip()}"
    except Exception:
        pass
    if not prev_artifact:
        try:
            prev_artifact = json.load(open(out_path))
            baseline_src = f"on-disk {out_path} (not a git checkout)"
        except Exception:
            pass
    prev_spark = prev_artifact.get("spark_queries", {})
    prev_fps = prev_artifact.get("plan_fps", {})
    cur_fps = spark.get("plan_fps", {})
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sfdir}/{t}.parquet"
        if os.path.isdir(p):
            p = f"{p}/*.parquet"
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracles = json.load(open(oracle_path))
    duck = {}
    classes = {}
    for name in sorted(spark["queries"]):
        sql = oracles.get(name)
        if sql is None:
            classes[name] = "no-oracle"
            duck[name] = None
            continue
        classes[name] = classify(name, sql)
        if classes[name] == "golden-read":
            duck[name] = None
            print(f"SF1DUCK {name:32s}   golden-read (no DuckDB-side work)")
            continue
        # q87: time the FAIR layout-reading diff (bench_duckdb.q87_fair_sql;
        # the Spark BenchSf1 run staged the snapshot layout), row-identity
        # asserted against the committed arithmetic oracle in-run
        if name.startswith("q87_"):
            try:
                fair = q87_fair_sql(con, sfdir)
                if fair is not None:
                    if sorted(con.sql(fair).fetchall()) != \
                            sorted(con.sql(sql).fetchall()):
                        raise RuntimeError("q87 fair twin != arithmetic rows")
                    sql = fair
                    classes[name] = "batch"
                else:
                    print("q87: layout not staged — arithmetic oracle timed",
                          file=sys.stderr)
            except Exception as e:
                print(f"Q87-FAIR-ERR {str(e)[:200]}", file=sys.stderr)

        def run_once():
            timer = threading.Timer(DUCK_TIMEOUT_S, con.interrupt)
            timer.start()
            try:
                t0 = time.perf_counter()
                con.sql(sql).fetchall()
                return time.perf_counter() - t0
            finally:
                timer.cancel()
        try:
            run_once()
            duck[name] = round(min(run_once() for _ in range(3)), 6)
        except duckdb.InterruptException:
            print(f"DUCKDB-TIMEOUT {name} (> {DUCK_TIMEOUT_S}s)", file=sys.stderr)
            duck[name] = -2.0
        except Exception as e:
            print(f"DUCKDB-ERR {name}: {str(e)[:200]}", file=sys.stderr)
            duck[name] = -1.0
        print(f"SF1DUCK {name:32s} {duck[name]:8.3f} s  [{classes[name]}]")
    ratios = {n: (round(spark["queries"][n] / duck[n], 3)
                  if isinstance(duck.get(n), float) and duck[n] > 0
                  and spark["queries"][n] > 0 else None)
              for n in spark["queries"]}
    def paired(cls):
        return [n for n in duck
                if classes.get(n) == cls and isinstance(duck[n], float)
                and duck[n] > 0 and spark["queries"].get(n, -1) > 0]
    batch = paired("batch")
    streaming = paired("streaming-replay")
    artifact = {
        "sf": spark["sf"],
        "cores": spark["cores"],
        "threads": con.sql("SELECT current_setting('threads')").fetchone()[0],
        "duckdb": duckdb.__version__,
        "protocol": "identical parquet inputs, committed oracle SQL, one warmup + min-of-3 re-planned runs per engine; classes: batch (headline), streaming-replay (micro-batch machinery, excluded from headline), golden-read (no DuckDB-side work, duckdb=null)",
        "classes": classes,
        "spark_queries": spark["queries"],
        "duckdb_queries": duck,
        "ratio_spark_over_duckdb": ratios,
        "batch_spark_total": round(sum(spark["queries"][n] for n in batch), 6),
        "batch_duckdb_total": round(sum(duck[n] for n in batch), 6),
        "batch_ratio": round(sum(spark["queries"][n] for n in batch)
                             / sum(duck[n] for n in batch), 3) if batch else None,
        "streaming_spark_total": round(sum(spark["queries"][n] for n in streaming), 6),
        "streaming_duckdb_total": round(sum(duck[n] for n in streaming), 6),
        "golden_read_spark_total": round(sum(
            spark["queries"][n] for n in duck
            if classes.get(n) == "golden-read" and spark["queries"].get(n, -1) > 0), 6),
    }
    if "submetrics" in spark:
        artifact["submetrics"] = spark["submetrics"]
        try:
            sub_duck = submetric_duckdb(con, oracles)
        except Exception as e:
            print(f"SUBMETRIC-ERR: {str(e)[:200]}", file=sys.stderr)
            sub_duck = {}
        artifact["submetric_duckdb"] = sub_duck
        artifact["submetric_ratios"] = {
            n: (round(v / sub_duck[n], 3)
                if isinstance(sub_duck.get(n), float) and sub_duck[n] > 0
                and v > 0 else None)
            for n, v in spark["submetrics"].items()}
        artifact["submetric_notes"] = {
            "q129_search_only": "searchIvfIndex alone against a pre-built "
                "persisted index (same params/slices as q129; build untimed) "
                "— the deployment-mode search cost; the q129 row itself "
                "times rebuild+search+append for certification purity. The "
                "DuckDB twin materializes the SAME index (the committed "
                "oracle's training CTEs) as temp tables untimed and times "
                "the probe/score/rank tail, row-identity asserted in-run",
            "q91_score_only": "vocabOovScore alone against a pre-built "
                "top-V vocabulary (the maintained-artifact deployment form, "
                "q119 pattern; build untimed) — the per-increment "
                "steady-state cost; the q91 row itself re-aggregates the "
                "vocab every run for certification purity. The DuckDB twin "
                "materializes the same vocab from the committed oracle's "
                "CTE untimed and times the scoring pass, row-identity "
                "asserted in-run",
            "q120_resolve_only": "resolveWithScores alone against a "
                "pre-built quality-score artifact and pair list (the "
                "maintained-artifact deployment form, q119 pattern; both "
                "untimed) — a resolution run's steady-state cost is "
                "cluster + score join + keep window over duplicate-sized "
                "data; the q120 row itself re-scores the corpus every run "
                "for certification purity. The DuckDB twin materializes "
                "the same pairs and scores from the committed oracle's "
                "CTEs untimed and times the cluster/join/window tail, "
                "row-identity asserted in-run. READ THE RATIO AS A FLOOR "
                "MEASUREMENT: the certification fixture bounds the pair "
                "source to doc_id <= 40 (the oracle's recursive-CTE "
                "clustering is quadratic), so the timed Spark side is ~5 "
                "label-propagation scheduling jobs over a few dozen rows "
                "against DuckDB's sub-millisecond answer — what it buys "
                "is the committed steady-state WALL (resolve without the "
                "corpus re-score), not a meaningful engine ratio; the "
                "at-volume scaling evidence for this family is the "
                "committed SCALE100 dedup legs and SCALE_INCR_DEDUP "
                "exponent sweep",
            "q107_maintain_only": "maintainCounts alone against persisted "
                "base counts and a staged changeset (both untimed) — the "
                "deployment-mode IVM cost is the delta aggregate + one "
                "broadcast full-outer apply; the q107 row itself "
                "re-aggregates the base AND derives the changeset every "
                "run for certification purity (the oracle recomputes the "
                "merged table from scratch to prove the algebra). The "
                "DuckDB twin materializes the same artifacts from the "
                "committed oracle's own CTEs untimed and times the "
                "delta+apply tail, row-identity asserted in-run",
            "q119_strip_only": "boilerplateStripIncrement alone against a "
                "persisted corpus (line, df) table (untimed) — the daily "
                "batch pays the increment's lines + one dictionary-sized "
                "merge; the q119 row itself rebuilds the corpus df table "
                "from text every run for certification purity. The DuckDB "
                "twin materializes the same df table and increment lines "
                "from the committed oracle's CTEs untimed and times the "
                "merge/threshold/flag/stitch tail, row-identity asserted "
                "in-run"}
    # sub-wall outliers (round 16, verdict Missing #2): the weak rule's
    # 0.6 s wall floor hid three >=3x batch queries, one of them the batch
    # class's LARGEST ratio (q102 8.0x at 0.58 s). Second trigger: any batch
    # pair with ratio >= 3 and spark wall in [0.45 s, 0.6 s) lands in this
    # ledger section so no large ratio is absent from every ledger; entries
    # get decompositions or fixes like the weak list proper. The band's
    # lower edge matches FLOOR_DECOMP's scheduling-floor cut (0.45 s) —
    # walls at-or-under it are already classified floor with arithmetic in
    # that artifact, and a [0.3, 0.45] band double-counted a dozen
    # floor-class queries whenever a hot host window pushed the fixed
    # per-query cost over 0.3 s. Entries with a committed per-stage
    # decomposition carry its pointer so the ledger is self-adjudicating.
    decomp_pointers = {
        "q102_funnel": "Q102_DECOMP.json",
        "q11_star_join": "Q11_DECOMP.json + Q11_PROBE_AB.json (r18: bloom-injected and agg-below-semi arms measured-and-rejected; floor-classified with every avenue measured)",
        "q134_multimodal_frame_dedup": "Q134_DECOMP.json + Q134_PREFILTER_AB.json (r18: singleton-fp prefilter measured-and-rejected in best-case broadcast-back and cached forms; floor-classified for good, every avenue measured)",
        "q53_text_tfidf": "Q53_DECOMP.json",
        "q85_dedup_cluster": "Q85_DECOMP.json",
        "q115_dedup_containment": "Q115_SHAPE_AB.json",
        "q04_filter": "Q04_Q104_Q108_DECOMP.json",
        "q37_asof_join": "Q37_DECOMP.json",
        "q104_sql_udf": "Q04_Q104_Q108_DECOMP.json",
        "q108_ngram_lm": "Q04_Q104_Q108_DECOMP.json",
        "q111_bm25": "TEXT_NATIVE_AB.json",
        "q110_pmi_collocations": "BIGRAM_NATIVE_AB.json",
        "q117_boilerplate_strip": "Q117_PERSIST_AB.json",
        "q81_recursive_cte": "Q81_STRIDE_AB.json",
        "q87_snapshot_diff": "measured join-vs-union shape (ScaleLayouts.scala scaladoc)",
        # r17: floor-boundary churners whose previously committed wall sat
        # 1-14 ms ABOVE the 0.45 s gate because the baseline artifact was
        # the round's deliberately committed hot window - adjudicated with
        # phase-independent committed-history + fingerprint evidence
        "q101_cohort_retention": "Q101_Q59_FLOOR.json (fp-attested floor churn)",
        "q59_window_ntile": "Q101_Q59_FLOOR.json (fp-attested floor churn)",
    }
    # queries whose certification row deliberately re-does maintained work
    # (the q129 pattern): the committed deployment submetric, not a stage
    # decomposition, is what explains their wall
    submetric_of = {
        "q107_incremental_agg": "q107_maintain_only",
        "q119_boilerplate_increment": "q119_strip_only",
        "q120_dedup_resolve": "q120_resolve_only",
        "q91_vocab_oov": "q91_score_only",
        "q129_similarity_ivf_persisted": "q129_search_only",
    }

    def outlier_entry(n):
        e = {"spark": spark["queries"][n], "duckdb": duck[n],
             "ratio": ratios[n]}
        if n in decomp_pointers:
            e["decomp"] = decomp_pointers[n]
        pw = prev_spark.get(n)
        if pw is not None:
            e["prev_committed"] = pw
        if pw is not None and pw <= 0.45:
            verdict, is_open = floor_drift_verdict(
                pw, prev_fps.get(n), cur_fps.get(n), bool(prev_fps))
            e["verdict"] = verdict
            if is_open:
                e["open"] = True
        elif n in decomp_pointers:
            e["verdict"] = "decomposed (see decomp pointer)"
        elif n in submetric_of:
            e["verdict"] = ("certification re-merge cost; deployment "
                            f"submetric {submetric_of[n]} committed in "
                            "this artifact")
        return e
    artifact["sub_wall_outliers"] = {
        n: outlier_entry(n)
        for n in batch
        if ratios.get(n) is not None and ratios[n] >= 3.0
        and 0.45 <= spark["queries"][n] < 0.6}
    artifact["sub_wall_outliers_note"] = (
        "batch pairs with ratio >= 3x at a spark wall in [0.45, 0.6) s — "
        "above FLOOR_DECOMP's scheduling-floor cut but under the weak "
        "rule's 0.6 s floor, so no large ratio is absent from every "
        "ledger; each needs a committed decomposition or fix (r16 rule). "
        "Entries self-adjudicate: a committed-floor prev wall closes as "
        "window-drift ONLY when the scrubbed-plan fingerprint also matches "
        "the committed baseline (r17 gate; changed/missing fingerprints "
        "stay open as UNCONFIRMED), a decomp pointer cites the committed "
        "arithmetic; verdict-less or open:true entries are open")
    artifact["plan_fps"] = cur_fps
    if baseline_src is not None:
        artifact["adjudication_baseline"] = baseline_src
    # the weak list itself (>2x at >=0.6 s), emitted with the same
    # self-adjudication the outlier ledger carries (r16): the judge and the
    # README no longer derive it by hand, and a host-phase churner whose
    # committed wall sits under the weak line is labeled as such in the
    # artifact instead of in narrative
    artifact["weak"] = {
        n: outlier_entry(n)
        for n in batch
        if ratios.get(n) is not None and ratios[n] > 2.0
        and spark["queries"][n] >= 0.6}
    for n, e in artifact["weak"].items():
        pw = e.get("prev_committed")
        if "verdict" not in e and pw is not None and pw < 0.6:
            e["verdict"] = ("window-churner (committed wall "
                            f"{pw:.3f}s is under the 0.6 s weak line)")
    artifact["weak_note"] = (
        "batch pairs with ratio > 2x at a spark wall >= 0.6 s — the weak "
        "rule, emitted by the artifact itself with the outlier ledger's "
        "self-adjudication: decomposition pointers, deployment-submetric "
        "citations, committed-floor/under-line window verdicts; only "
        "verdict-less entries are open")
    # streaming wall ceilings at the sf1 point (round 13): the 16 replays
    # have no DuckDB analog and are excluded from the headline ratio, so
    # STREAM_BUDGET.json's per_sf entry is what bounds them round-over-round
    try:
        sb = json.load(open(os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "STREAM_BUDGET.json")))
        entry = next((v for k, v in sb.get("per_sf", {}).items() if k in sfdir),
                     None)
        if entry is not None:
            viol = {n: {"wall": spark["queries"][n], "budget": b}
                    for n, b in entry["budgets_s"].items()
                    if spark["queries"].get(n, -1) > b}
            if viol:
                artifact["stream_budget_violations"] = viol
            else:
                artifact["stream_budget_ok"] = True
    except FileNotFoundError:
        pass
    if value_check is not None:
        artifact["sf1_value_check"] = value_check
        artifact["sf1_value_check_note"] = (
            "check_oracles.py verdicts for a graft.Verify dump at this "
            "densified dir — value-level certification at the bench's own "
            "scale point for the listed queries (golden-read class included: "
            "the goldens carry the densified corpus tags since round 12)")
    with open(out_path, "w") as f:
        json.dump(artifact, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"{out_path}: batch {artifact['batch_spark_total']:.3f}s vs duckdb "
          f"{artifact['batch_duckdb_total']:.3f}s = {artifact['batch_ratio']}x "
          f"over {len(batch)} batch pairs "
          f"(+{len(streaming)} streaming pairs, "
          f"{sum(1 for c in classes.values() if c == 'golden-read')} golden-read)")


if __name__ == "__main__":
    main()
