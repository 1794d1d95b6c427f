#!/usr/bin/env python3
"""Interleaved Spark/DuckDB A/B bench capture — the self-certifying pair.

Usage: bench_ab.py <sfdir> <oracle_sql.json> [passes=3]
       bench_ab.py <sfdir> <oracle_sql.json> [passes] \
           --only=q85_...,q86_... --adjudicate=OUT.json [--against="..."]

The second form is ADJUDICATION mode (round 13): re-measure ONLY the named
queries through the same interleaved protocol and write a single verdict
artifact (the BENCH_ADJUDICATION pattern) comparing each query's fresh
same-window min against the committed bench_out.json pair, banded by
max(1.5, fresh same-window spread x1.15). No committed artifact
(BENCH_AB/bench_out/DUCKDB_BASELINE/BENCH_DELTA/README) is touched — the
mode exists precisely to judge cross-window flags without moving the pair
they were raised against.

Why this exists: twice (round-10 dedup family, round-11 driver window) a
round's perf verdict hinged on judge archaeology to separate shared-VM host
interference from regression, because the committed Spark pair and the
DuckDB baseline were captured in DIFFERENT windows and carried no noise
information. This tool drives ONE `graft.Bench` JVM (serve mode,
SPARK_GRAFT_BENCH_SERVE=1) and one DuckDB connection through the suite
query-by-query, alternating engines WITHIN each query block:

    spark warmup, duck warmup, then passes x (spark sample, duck sample),
    then cache-clear + gc (untimed hygiene, kept BETWEEN blocks so the
    deliberately-cached ANN index halves retain their within-block
    amortization)

so both engines sample the same few-second interference window per query,
and every committed number carries its own spread (max/min over the
same-window samples). This is graft.Bench's only capture path: a plain
`sbt "runMain graft.Bench"` dumps the oracle SQL, runs this tool, and
prints bench_out.json's compact one-line form. Artifacts, all from one
window, and written only here:

  - BENCH_AB.json       full samples + per-query min/spread/ratio + noise
                        summary (the self-certification artifact)
  - bench_out.json      the Spark pair (mins) plus the DuckDB pair and the
                        STREAM_BUDGET.json verdict; graft.Bench renders its
                        stdout line from this file, and the next capture's
                        BENCH_DELTA and --adjudicate compare against it
  - DUCKDB_BASELINE.json bench_duckdb.py-schema DuckDB pair (mins)
  - BENCH_DELTA.json    vs the PREVIOUSLY committed bench_out.json, flags
                        computed against max(1.5, same-window spread x1.15)
                        instead of a bare 1.5x ratio
  - README.md           per-query ratio table between the BENCH_RATIOS
                        markers, regenerated from this window's pair

q74 keeps the honesty-ledger special case from bench_duckdb.py: the timed
DuckDB formulation is the iterative temp-table walk (row-identical to the
committed recursive-CTE oracle, asserted in-run); the CTE's own wall is
recorded separately. Streaming replays are timed in both engines like every
other query (the DuckDB side times the batch reconstruction oracle); their
Spark walls are additionally checked against STREAM_BUDGET.json.
"""
import json
import os
import statistics
import subprocess
import sys
import threading
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from bench_duckdb import TABLES, q74_iterative, q87_fair_sql  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DUCK_TIMEOUT_S = 120.0

# Mirrors build.sbt javaOptions (the bench's normal launch shape): JDK17
# add-opens for Spark-outside-spark-submit, G1, 16g heap, no UI.
ADD_OPENS_PKGS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def launch_server(sfdir, cpus, log_path):
    cmd = ["java"]
    for p in ADD_OPENS_PKGS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Xmx{os.environ.get('SPARK_DRIVER_MEM', '16g')}",
        f"-XX:+{os.environ.get('SPARK_GC', 'UseG1GC')}",
        "-cp", f"{REPO}/target/scala-2.13/classes:/opt/spark/jars/*",
        "graft.Bench",
    ]
    env = dict(os.environ, SPARK_GRAFT_BENCH_SERVE="1",
               SPARK_GRAFT_SF_DIR=sfdir, SPARK_GRAFT_CPUS=str(cpus))
    return subprocess.Popen(cmd, cwd=REPO, env=env, text=True,
                            stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                            stderr=open(log_path, "w"))


class Server:
    def __init__(self, proc):
        self.proc = proc
        self._expect(("READY",))

    def _expect(self, prefixes):
        # log4j goes to stderr, but be defensive: skip any stdout line that
        # is not a protocol reply
        while True:
            line = self.proc.stdout.readline()
            if not line:
                raise RuntimeError("bench server exited; see its stderr log")
            line = line.strip()
            if any(line == p or line.startswith(p + " ") for p in prefixes):
                return line

    def _cmd(self, cmd, prefixes):
        self.proc.stdin.write(cmd + "\n")
        self.proc.stdin.flush()
        return self._expect(prefixes)

    def list_queries(self):
        return self._cmd("LIST", ("QUERIES",)).split(" ", 1)[1].split(",")

    def run(self, name):
        """One fresh-plan timed run; returns seconds or -1.0 on failure."""
        r = self._cmd(f"RUN {name}", ("TIME", "FAIL"))
        parts = r.split()
        if parts[0] == "FAIL" or parts[1] != name:
            print(f"SPARK-FAIL {name}: {r}", file=sys.stderr)
            return -1.0
        return float(parts[2])

    def plan_fp(self, name):
        """Scrubbed-optimized-plan fingerprint from the most recent RUN of
        `name` in this server (the envelope rule's same-code attestation)."""
        r = self._cmd(f"PLAN {name}", ("PLAN",)).split()
        return r[2] if len(r) == 3 and r[1] == name else "unknown"

    def clear(self):
        self._cmd("CLEAR", ("OK",))

    def quit(self):
        try:
            self.proc.stdin.write("QUIT\n")
            self.proc.stdin.flush()
            self.proc.wait(timeout=60)
        except Exception:
            self.proc.kill()


def duck_once(con, name, sql):
    """One timed DuckDB run (q74 -> iterative walk); seconds or None/neg."""
    timer = threading.Timer(DUCK_TIMEOUT_S, con.interrupt)
    timer.start()
    try:
        t0 = time.perf_counter()
        rows = q74_iterative(con, sql) if name.startswith("q74_") \
            else con.sql(sql).fetchall()
        return time.perf_counter() - t0, rows
    finally:
        timer.cancel()


def spread(samples):
    ok = [s for s in samples if s > 0]
    return round(max(ok) / min(ok), 3) if len(ok) >= 2 else None


# ---- committed same-code envelope (round 15) -------------------------------
# BENCH_ENVELOPE.json accumulates, per SF and query, the committed windows'
# (spark_min, duckdb_min, plan fingerprint). The fingerprint comes from the
# bench server's PLAN command (scrubbed optimized logical plan), so
# "same-code" is attested mechanically: equal fingerprints = same logical
# plan, no git archaeology. Normal captures APPEND a window; adjudicate mode
# only READS (it promises not to touch committed artifacts).
ENVELOPE_PATH = f"{REPO}/BENCH_ENVELOPE.json"
ENVELOPE_KEEP = 10  # last N windows per query — enough for the >=3 rule


def sf_key(sfdir):
    return os.path.basename(sfdir.rstrip("/")) or sfdir


def load_envelope():
    try:
        return json.load(open(ENVELOPE_PATH))
    except Exception:
        return {
            "_doc": "Committed same-code envelope per SF per query: each "
                "entry is one bench window's (spark_min, duckdb_min, plan "
                "fingerprint from the serve-mode PLAN command — scrubbed "
                "optimized logical plan, the mechanical same-code "
                "attestation). Appended by every normal tools/bench_ab.py "
                "capture, read-only in adjudicate mode. The adjudicator's "
                "envelope rule: a flag whose isolated fresh-window min lies "
                "INSIDE the >=3-window same-fingerprint envelope with a "
                "stable DuckDB side closes as envelope-drift — otherwise "
                "every fastest-ever committed sample becomes a future false "
                "'regression' against itself (the q118 r14 lesson). "
                "CONTESTED samples (r18, verdict What's-wrong #1): a window "
                "whose capture left a then-unresolved flag on query Q has "
                "its Q sample marked contested — kept for provenance, "
                "EXCLUDED from the [lo, hi] bounds — otherwise a flagged "
                "wall enters the envelope and round N+1's recurrence "
                "self-closes against the very sample under contest (the "
                "q107 r17 circularity).",
            "per_sf": {},
        }


def trim_retention(entries):
    """Clean-sample retention (r19, verdict Missing #1): keep the last
    ENVELOPE_KEEP CLEAN samples and, separately, the last ENVELOPE_KEEP
    contested ones (provenance only). r18 trimmed the last N samples
    regardless of marking, so a multi-hour host phase that contests every
    window could age the surviving clean samples out entirely and leave
    the gate blind for rounds — r18's own closing capture read no-envelope
    because the evening phase contested 8 of the 10 same-fpset windows."""
    clean = [e for e in entries if not e.get("contested")]
    cont = [e for e in entries if e.get("contested")]
    keep = {id(e) for e in clean[-ENVELOPE_KEEP:] + cont[-ENVELOPE_KEEP:]}
    entries[:] = [e for e in entries if id(e) in keep]


def record_envelope(sfdir, per, contested=(), suite=None):
    """Append this window's samples. Queries in `contested` (the capture's
    own still-open flags, r18) get their sample marked — provenance kept,
    bounds exclusion applied by apply_envelope_rule — so a flagged wall can
    never exonerate its own future recurrence. `suite` (r18, verdict
    Missing #2) appends the window's suite totals + fingerprint-set hash
    under the reserved `_suite` key; an open suite-inflation verdict marks
    its own sample contested under the same no-self-exoneration rule.

    r19 (advice, medium): a suite-level verdict that the WINDOW is shifted
    (suite-inflation, or a both-engines host phase) contests ALL of the
    window's per-query samples, not just the queries whose individual
    flags were open — an inflated window's individually-in-band samples
    would otherwise enter per-query bounds clean and widen every
    per-query spark_hi, partially reopening the ratchet the contested
    rule closes."""
    window_reason = None
    if suite is not None and suite.get("open"):
        window_reason = (
            "suite-inflation flag was open when this window was captured — "
            "the whole window's Spark walls are systematically shifted, so "
            "every per-query sample is excluded from envelope bounds, not "
            "only the queries that individually flagged")
    elif suite is not None and str(suite.get("verdict", "")).startswith(
            "suite-moved"):
        window_reason = (
            "both-engines host phase at capture — per-query samples carry "
            "the phase elevation and would mask a later Spark-only "
            "inflation if they entered bounds (the r18 moved-both suite "
            "rule, applied per-query)")
    env = load_envelope()
    head = subprocess.check_output(
        ["git", "rev-parse", "--short", "HEAD"], cwd=REPO, text=True).strip()
    window = f"{time.strftime('%Y-%m-%dT%H:%M:%S')}@{head}"
    bucket = env.setdefault("per_sf", {}).setdefault(sf_key(sfdir), {})
    for n, v in per.items():
        if v["spark_min"] <= 0:
            continue
        entries = bucket.setdefault(n, [])
        e = {"window": window, "spark_min": v["spark_min"],
             "duckdb_min": v["duckdb_min"], "fp": v["plan_fp"]}
        if n in contested:
            e["contested"] = ("flag on this query was still open when this "
                              "window was captured — excluded from envelope "
                              "bounds")
        elif window_reason is not None:
            e["contested"] = window_reason
        entries.append(e)
        trim_retention(entries)
    if suite is not None:
        entries = bucket.setdefault("_suite", [])
        e = {"window": window, "spark_total": suite["spark_total"],
             "duckdb_total": suite["duckdb_total"], "fpset": suite["fpset"]}
        if suite.get("open"):
            e["contested"] = ("suite-inflation flag was open when this "
                              "window was captured — excluded from suite "
                              "envelope bounds")
        elif str(suite.get("verdict", "")).startswith("suite-moved"):
            # a both-engines host-phase peak is honest variance but must
            # not become the Spark bound: one 71 s phase window raising hi
            # would mask every future Spark-only inflation under it (the
            # same ratchet the contested rule closes, entering through the
            # both-engines door — caught live in r18's evening phase)
            e["contested"] = ("both-engines host phase at capture — "
                              "excluded from suite envelope bounds so the "
                              "phase peak cannot mask a later Spark-only "
                              "inflation")
        entries.append(e)
        trim_retention(entries)
    with open(ENVELOPE_PATH, "w") as f:
        json.dump(env, f, indent=1, sort_keys=True)
        f.write("\n")
    return env


def suite_fpset(fps):
    """Order-independent hash of a (query -> plan fingerprint) map over
    the window's successfully-timed queries — the suite-level same-code
    attestation. Takes a plain dict so the envelope backfill
    (tools/rederive_envelope.py) and the live capture hash identically."""
    import hashlib
    s = "\n".join(f"{n}:{fps[n]}" for n in sorted(fps))
    return hashlib.sha256(s.encode()).hexdigest()[:16]


def apply_suite_rule(sfdir, per, s_tot, d_tot):
    """Suite-total drift gate (r18, verdict Missing #2): the r17 final
    driver window read 61.8 s Spark vs a committed same-day 53.2 s with
    DuckDB flat — a 16% Spark-side-only suite inflation that produced four
    per-query flags but no suite-level signal. This applies the per-query
    envelope's logic to the SUITE total: same fingerprint-SET windows,
    contested samples excluded, DuckDB-side stability as the control. An
    open verdict marks the window's own `_suite` sample contested (in
    record_envelope) so an inflated total never widens future bounds."""
    fpset = suite_fpset({n: v.get("plan_fp", "unknown")
                         for n, v in per.items() if v["spark_min"] > 0})
    env = load_envelope().get("per_sf", {}).get(sf_key(sfdir), {})
    all_e = [e for e in env.get("_suite", [])
             if e.get("fpset") == fpset and e.get("spark_total", 0) > 0]
    clean = [e for e in all_e if not e.get("contested")]
    out = {"spark_total": round(s_tot, 3), "duckdb_total": round(d_tot, 3),
           "fpset": fpset, "same_fpset_windows": len(clean),
           "contested_excluded": len(all_e) - len(clean)}
    if len(clean) < 3:
        out["verdict"] = ("no-envelope (fewer than 3 committed windows "
                          "with this exact fingerprint set — gate active "
                          "once they accumulate)")
        return out
    lo = min(e["spark_total"] for e in clean)
    hi = max(e["spark_total"] for e in clean)
    ducks = [e["duckdb_total"] for e in clean
             if isinstance(e.get("duckdb_total"), float)
             and e["duckdb_total"] > 0]
    med = statistics.median(ducks) if ducks else None
    # suite totals average ~136 queries, so the honest band is far tighter
    # than any per-query one. 1.1x (r18, tightened from 1.2 after the first
    # live evening phase): committed same-code DuckDB totals span only
    # ~1.085x (19.28-20.93 across the r18 windows), the r17 spark-only
    # signature (DuckDB 20.2->20.6 = 1.02x) sits well inside, and a
    # both-engines host phase (DuckDB +15-20%) correctly reads
    # moved-both-engines instead of being pinned on Spark
    duck_stable = (med is not None and d_tot > 0
                   and med / 1.1 <= d_tot <= 1.1 * med)
    out.update({"spark_lo": lo, "spark_hi": hi,
                "duckdb_median": round(med, 3) if med else None,
                "duckdb_stable": duck_stable,
                "windows": [e["window"] for e in clean]})
    if s_tot <= hi:
        out["verdict"] = (f"suite-ok (spark total {s_tot:.1f}s at or below "
                          f"the same-fpset envelope hi — [{lo:.1f}-{hi:.1f}] "
                          f"over {len(clean)} windows; only inflation above "
                          "hi flags)")
    elif duck_stable:
        out["verdict"] = (
            f"suite-inflation (spark total {s_tot:.1f}s OUTSIDE the "
            f"same-fpset envelope [{lo:.1f}-{hi:.1f}] over {len(clean)} "
            f"windows while the DuckDB side is stable at {d_tot:.1f}s vs "
            f"median {med:.1f}s) — systematic Spark-side environment "
            "shift (GC posture / CPU contention visible only to the "
            "32-thread engine); treat this window's per-query flags as "
            "suspect and re-capture in a fresh window")
        out["open"] = True
    else:
        out["verdict"] = (
            f"suite-moved-both-engines (spark total {s_tot:.1f}s outside "
            f"[{lo:.1f}-{hi:.1f}] but the DuckDB side moved too: "
            f"{d_tot:.1f}s vs median {med:.1f}s) — host-phase signature, "
            "not a Spark-side shift")
    return out


def apply_envelope_rule(rows, per, sfdir):
    """Missing #3 (r14 verdict): close a still-open flag as envelope-drift
    when its isolated fresh-window min lies inside the committed same-code
    (same plan-fingerprint) envelope of >=3 windows whose DuckDB side is
    stable. The envelope is cited in the verdict either way."""
    env = load_envelope().get("per_sf", {}).get(sf_key(sfdir), {})
    for n, r in rows.items():
        if not r["verdict"].startswith(("regression", "borderline")):
            continue
        fp = per[n]["plan_fp"]
        same_fp = [e for e in env.get(n, [])
                   if fp != "unknown" and e.get("fp") == fp
                   and e.get("spark_min", 0) and e["spark_min"] > 0]
        # contested samples (r18): windows whose capture left a
        # then-unresolved flag on this query are provenance only — bounds
        # derived from them would let a flagged wall exonerate its own
        # recurrence (the q107 r17 circularity)
        entries = [e for e in same_fp if not e.get("contested")]
        n_contested = len(same_fp) - len(entries)
        iso = r.get("isolated_min") or r["ab_min"]
        if len(entries) < 3:
            r["envelope"] = {"applies": False, "same_fp_windows": len(entries),
                             "contested_excluded": n_contested,
                             "reason": "fewer than 3 committed windows with "
                                       "the current plan fingerprint"}
            continue
        lo = min(e["spark_min"] for e in entries)
        hi = max(e["spark_min"] for e in entries)
        ducks = [e["duckdb_min"] for e in entries
                 if isinstance(e.get("duckdb_min"), float) and e["duckdb_min"] > 0]
        fresh_d = r.get("duckdb_min")
        # stability bound 2.0, not 1.5: the guard exists to catch a baseline
        # that genuinely moved (data or machine change — those show up far
        # past 2x), while committed scheduling-floor DuckDB walls (~10 ms)
        # carry WITHIN-window spreads up to ~1.8x (e.g. q118 in the r14
        # committed BENCH_AB), so a 1.5 cross-window bound would false-fail
        # the guard on exactly the queries most prone to drift flags.
        med = statistics.median(ducks) if ducks else None
        duck_stable = (len(ducks) >= 2 and max(ducks) / min(ducks) <= 2.0
                       and isinstance(fresh_d, float) and fresh_d > 0
                       and med / 2.0 <= fresh_d <= 2.0 * med)
        r["envelope"] = {
            "applies": True, "same_fp_windows": len(entries), "fp": fp,
            "contested_excluded": n_contested,
            "spark_lo": lo, "spark_hi": hi,
            "duckdb_stable": duck_stable,
            "windows": [e["window"] for e in entries],
        }
        if iso is not None and iso > 0 and iso <= hi and duck_stable:
            r["verdict"] = (f"envelope-drift (isolated min {iso:.3f}s inside "
                            f"committed same-code envelope [{lo:.3f}-{hi:.3f}]"
                            f" over {len(entries)} windows, plan fp {fp}; "
                            f"duckdb side stable)")
        elif iso is not None and iso > 0 and iso <= hi:
            r["envelope"]["note"] = ("isolated min inside envelope but the "
                                     "DuckDB side is not stable — flag kept")


def isolated_tiebreak(rows, sfdir, cpus, log_path):
    """MECHANICAL tie-breaker (round 14, improvised for q91 in round 13 and
    folded into the protocol): every borderline/regression flag gets an
    ISOLATED fresh-window min-of-9 — a brand-new server JVM (new window),
    the flagged queries alone, no interleaving. Same-code host drift shows
    up as an isolated min that re-enters the band; a real regression
    reproduces it. The samples are committed either way. Shared by
    adjudicate mode and (round 16) the normal capture's auto-adjudication
    of its own fresh BENCH_DELTA flags."""
    flagged = [n for n, r in sorted(rows.items())
               if r["verdict"].startswith(("regression", "borderline"))]
    if not flagged:
        return
    print(f"ADJ tie-breaker: isolated fresh-window min-of-9 for "
          f"{flagged}", file=sys.stderr)
    srv2 = Server(launch_server(sfdir, cpus, log_path + ".iso"))
    try:
        for n in flagged:
            srv2.run(n)  # warm
            iso = [round(srv2.run(n), 6) for _ in range(9)]
            srv2.clear()
            r = rows[n]
            ok = [s for s in iso if s > 0]
            r["isolated_samples"] = iso
            r["isolated_min"] = round(min(ok), 6) if ok else -1.0
            p = r["prev_committed"]
            r["isolated_ratio"] = (round(r["isolated_min"] / p, 3)
                                   if p and r["isolated_min"] > 0 else None)
            ir = r["isolated_ratio"]
            if ir is None:
                pass
            elif r["verdict"].startswith("regression") and ir <= r["band"]:
                r["verdict"] = ("host-drift (isolated fresh-window "
                                "min re-enters band)")
            elif r["verdict"].startswith("borderline") and ir <= r["spread_band"]:
                r["verdict"] = ("window-noise (isolated fresh-window "
                                "min within measured spread band)")
    finally:
        srv2.quit()


def main():
    positional = [a for a in sys.argv[1:] if not a.startswith("--")]
    flags = dict((a[2:].split("=", 1) + ["1"])[:2]
                 for a in sys.argv[1:] if a.startswith("--"))
    sfdir = positional[0]
    oracle_path = positional[1]
    passes = int(positional[2]) if len(positional) > 2 else 3
    # A single pass carries no spread information, and an empty spread list
    # crashes the noise summary AFTER the full timing run (ADVICE r12) —
    # reject up front instead of losing the window.
    if passes < 2:
        sys.exit("bench_ab.py: passes must be >= 2 (a 1-sample capture has "
                 "no same-window spread and cannot self-certify)")
    only = set(flags["only"].split(",")) if "only" in flags else None
    adjudicate_out = flags.get("adjudicate")
    if (only is None) != (adjudicate_out is None):
        sys.exit("bench_ab.py: --only and --adjudicate must be used together")
    # graft.SparkEntry.cpus's default: every core this process may use
    cpus = os.environ.get("SPARK_GRAFT_CPUS",
                          str(len(os.sched_getaffinity(0))))
    oracles = json.load(open(oracle_path))

    # previously committed pair, read BEFORE this capture overwrites it
    prev_spark = {}
    try:
        prev_spark = json.load(open(f"{REPO}/bench_out.json"))["queries"]
    except Exception:
        pass
    # --prev-from-delta (adjudicate mode, round 16): when the flag under
    # adjudication sits in the COMMITTED BENCH_DELTA.json, the committed
    # bench_out.json is the flagged capture itself — ratios against it would
    # read ~1.0 and close any flag vacuously. The flag's own `prev` field is
    # the prior it was raised against; use it.
    if "prev-from-delta" in flags:
        if adjudicate_out is None:
            sys.exit("bench_ab.py: --prev-from-delta requires --adjudicate")
        dq = json.load(open(f"{REPO}/BENCH_DELTA.json"))["queries"]
        prev_spark = {n: r["prev"] for n, r in dq.items()}
    # --prev-from-sf1 (adjudicate mode, round 17): adjudicating a flag at
    # the sf1 point needs sf1 priors — bench_out.json carries sf0.1 walls,
    # and ratios across SFs are meaningless (the q101/q59 r17 case had to
    # fall back to hand-assembled committed-history evidence,
    # Q101_Q59_FLOOR.json). Reads spark_queries from the COMMITTED
    # BENCH_sf1.json via git HEAD (the bench_sf1.py baseline rule),
    # falling back to the on-disk artifact.
    if "prev-from-sf1" in flags:
        if adjudicate_out is None:
            sys.exit("bench_ab.py: --prev-from-sf1 requires --adjudicate")
        if "prev-from-delta" in flags:
            sys.exit("bench_ab.py: --prev-from-sf1 conflicts with "
                     "--prev-from-delta")
        import subprocess
        blob = subprocess.run(["git", "show", "HEAD:BENCH_sf1.json"],
                              capture_output=True, text=True, cwd=REPO)
        art = (json.loads(blob.stdout) if blob.returncode == 0
               and blob.stdout.strip()
               else json.load(open(f"{REPO}/BENCH_sf1.json")))
        prev_spark = art["spark_queries"]

    con = duckdb.connect()
    for t in TABLES:
        p = f"{sfdir}/{t}.parquet"
        if os.path.isdir(p):
            p = f"{p}/*.parquet"
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    log_path = "/tmp/bench_ab_server.log"
    srv = Server(launch_server(sfdir, cpus, log_path))
    try:
        names = sorted(srv.list_queries())
        if only is not None:
            missing = only - set(names)
            if missing:
                sys.exit(f"bench_ab.py: --only names not on the bench "
                         f"surface: {sorted(missing)}")
            names = sorted(only)
        per = {}
        q74_cte_ref = None
        for name in names:
            sql = oracles.get(name)
            s_warm = srv.run(name)
            plan_fp = srv.plan_fp(name)
            # q87: swap in the FAIR layout-reading diff for the timed side
            # (the Spark warmup above staged the snapshot layout); the
            # committed arithmetic oracle stays the in-run row cross-check
            if sql is not None and name.startswith("q87_"):
                try:
                    fair = q87_fair_sql(con, sfdir)
                    if fair is not None:
                        if sorted(con.sql(fair).fetchall()) != \
                                sorted(con.sql(sql).fetchall()):
                            raise RuntimeError("q87 fair twin != arithmetic rows")
                        sql = fair
                    else:
                        print("q87: layout not staged — arithmetic oracle "
                              "timed", file=sys.stderr)
                except Exception as e:
                    print(f"Q87-FAIR-ERR {str(e)[:200]} — arithmetic oracle "
                          "timed", file=sys.stderr)
            d_rows_warm = None
            if sql is not None:
                try:
                    _, d_rows_warm = duck_once(con, name, sql)
                except Exception as e:
                    print(f"DUCKDB-ERR {name}: {str(e)[:200]}", file=sys.stderr)
                    sql = None
            s_samples, d_samples = [], []
            for _ in range(passes):
                s_samples.append(srv.run(name))
                if sql is not None:
                    try:
                        d_samples.append(round(duck_once(con, name, sql)[0], 6))
                    except Exception as e:
                        print(f"DUCKDB-ERR {name}: {str(e)[:200]}",
                              file=sys.stderr)
                        d_samples.append(-1.0)
            if name.startswith("q74_") and sql is not None:
                t0 = time.perf_counter()
                cte_rows = con.sql(sql).fetchall()
                q74_cte_ref = round(time.perf_counter() - t0, 6)
                if sorted(cte_rows) != sorted(d_rows_warm):
                    raise RuntimeError("q74 iterative walk != recursive CTE rows")
            srv.clear()
            s_ok = [s for s in s_samples if s > 0]
            d_ok = [d for d in d_samples if d > 0]
            s_min = round(min(s_ok), 6) if s_ok else -1.0
            d_min = round(min(d_ok), 6) if d_ok else (None if sql is None else -1.0)
            per[name] = {
                "spark": [round(s, 6) for s in s_samples], "spark_warmup": round(s_warm, 6),
                "duckdb": d_samples if sql is not None else None,
                "spark_min": s_min, "duckdb_min": d_min,
                "plan_fp": plan_fp,
                "spark_spread": spread(s_samples), "duckdb_spread": spread(d_samples),
                "ratio": round(s_min / d_min, 3)
                         if s_min > 0 and isinstance(d_min, float) and d_min > 0 else None,
            }
            print(f"AB {name:36s} spark {s_min:8.3f} (spread "
                  f"{per[name]['spark_spread']})  duckdb "
                  f"{d_min if d_min is not None else float('nan'):8.3f} "
                  f"(spread {per[name]['duckdb_spread']})")
    finally:
        srv.quit()

    if adjudicate_out is not None:
        rows = {}
        for n, v in sorted(per.items()):
            p = prev_spark.get(n)
            # two thresholds (ADVICE r13): the MEASURED band (fresh
            # same-window spark spread x1.15) and the 1.5x floor. A ratio
            # under the measured band is window noise outright; one under
            # the floor but OVER the measured band on a tight window is
            # only borderline — the floor must not silently exonerate a
            # genuine 1.3-1.4x drift.
            spread_band = round((v["spark_spread"] or 1.0) * 1.15, 3)
            band = round(max(1.5, spread_band), 3)
            ratio = (round(v["spark_min"] / p, 3)
                     if p and p > 0 and v["spark_min"] > 0 else None)
            if ratio is None:
                verdict = "no-prior"
            elif ratio <= spread_band:
                verdict = "window-noise (within measured spread band)"
            elif ratio <= band:
                verdict = ("borderline (within 1.5x floor but exceeds "
                           "measured spread band)")
            else:
                verdict = "regression (exceeds same-window band)"
            rows[n] = {
                "prev_committed": p, "ab_min": v["spark_min"],
                "ab_samples": v["spark"], "ab_spread": v["spark_spread"],
                "duckdb_min": v["duckdb_min"],
                "duckdb_spread": v["duckdb_spread"],
                "band": band, "spread_band": spread_band, "ratio": ratio,
                "verdict": verdict,
            }
        isolated_tiebreak(rows, sfdir, cpus, log_path)
        apply_envelope_rule(rows, per, sfdir)
        art = {
            "adjudicated_against": flags.get(
                "against", "committed bench_out.json pair"),
            "protocol": "interleaved A/B subset re-run (tools/bench_ab.py "
                f"--only, passes={passes}): fresh window, both engines "
                "alternated per query; measured band = fresh same-window "
                "spark spread x1.15, floor 1.5x; ratios over the measured "
                "band get an ISOLATED fresh-window min-of-9 tie-breaker in "
                "a second server JVM — re-entering the band closes the "
                "flag as host drift, staying out confirms it; a flag still "
                "open whose isolated min lies INSIDE the committed "
                "same-code envelope (>=3 windows with the current plan "
                "fingerprint in BENCH_ENVELOPE.json, DuckDB side stable) "
                "closes as envelope-drift with the envelope cited",
            "sf": sfdir, "flags": rows,
        }
        with open(adjudicate_out, "w") as f:
            json.dump(art, f, indent=1, sort_keys=True)
            f.write("\n")
        for n, r in rows.items():
            iso = (f", isolated {r.get('isolated_min')} "
                   f"(ratio {r.get('isolated_ratio')})"
                   if "isolated_min" in r else "")
            print(f"ADJ {n:36s} prev {r['prev_committed']} -> ab "
                  f"{r['ab_min']} (ratio {r['ratio']}, band {r['band']}"
                  f"{iso}): {r['verdict']}")
        return

    s_tot = sum(v["spark_min"] for v in per.values() if v["spark_min"] > 0)
    d_tot = sum(v["duckdb_min"] for v in per.values()
                if isinstance(v["duckdb_min"], float) and v["duckdb_min"] > 0)
    q74s = sum(v["spark_min"] for n, v in per.items()
               if n.startswith("q74_") and v["spark_min"] > 0)
    q74d = sum(v["duckdb_min"] for n, v in per.items()
               if n.startswith("q74_") and isinstance(v["duckdb_min"], float)
               and v["duckdb_min"] > 0)
    s_spreads = [v["spark_spread"] for v in per.values() if v["spark_spread"]]
    d_spreads = [v["duckdb_spread"] for v in per.values() if v["duckdb_spread"]]

    def r3(x):
        return round(x, 3)

    # ---- BENCH_AB.json: the self-certification artifact
    ab = {
        "sf": sfdir, "passes": passes, "cpus": int(cpus),
        "duckdb": duckdb.__version__,
        "protocol": "one graft.Bench JVM (serve mode) + one DuckDB "
            "connection, engines alternated within each query block "
            "(spark warmup, duck warmup, then passes x (spark, duck)); "
            "cache-clear + gc between blocks (untimed hygiene); "
            "spread = max/min over the same-window samples; committed "
            "value = min (least-interfered run)",
        "queries": per,
        "spark_total": r3(s_tot), "duckdb_total": r3(d_tot),
        "ratio_total": r3(s_tot / d_tot) if d_tot else None,
        "spark_total_ex_q74": r3(s_tot - q74s),
        "duckdb_total_ex_q74": r3(d_tot - q74d),
        "ratio_total_ex_q74": r3((s_tot - q74s) / (d_tot - q74d))
                              if d_tot - q74d else None,
        # null when no query produced >=2 valid samples (every sample of a
        # query failing must not crash the capture after the timing run)
        "noise": {
            "spark_median_spread": r3(statistics.median(s_spreads)) if s_spreads else None,
            "spark_p90_spread": r3(sorted(s_spreads)[int(0.9 * len(s_spreads))]) if s_spreads else None,
            "duckdb_median_spread": r3(statistics.median(d_spreads)) if d_spreads else None,
            "duckdb_p90_spread": r3(sorted(d_spreads)[int(0.9 * len(d_spreads))]) if d_spreads else None,
        },
        "q74_recursive_cte_reference_s": q74_cte_ref,
    }
    with open(f"{REPO}/BENCH_AB.json", "w") as f:
        json.dump(ab, f, indent=1, sort_keys=True)
        f.write("\n")

    # ---- bench_out.json: the Spark pair graft.Bench prints and the next
    # capture's BENCH_DELTA / --adjudicate compare against
    duck_map = {n: v["duckdb_min"] for n, v in per.items()
                if isinstance(v["duckdb_min"], float)}
    bench_out = {
        "metric": "total", "value": r3(s_tot), "unit": "sec",
        "total_ex_q74": r3(s_tot - q74s),
        "duckdb_committed": {"total": r3(d_tot), "total_ex_q74": r3(d_tot - q74d)},
        "capture": f"interleaved-ab passes={passes} (tools/bench_ab.py; "
                   "same-window pair, spreads in BENCH_AB.json)",
        "queries": {n: per[n]["spark_min"] for n in per},
        "duckdb_queries": duck_map,
        # per-query same-window spreads + the suite noise summary, so the
        # round artifact self-certifies without BENCH_AB.json archaeology
        "spark_spreads": {n: per[n]["spark_spread"] for n in per},
        "noise": {
            "spark_median_spread": r3(statistics.median(s_spreads)) if s_spreads else None,
            "spark_p90_spread": r3(sorted(s_spreads)[int(0.9 * len(s_spreads))]) if s_spreads else None,
            "duckdb_median_spread": r3(statistics.median(d_spreads)) if d_spreads else None,
            "duckdb_p90_spread": r3(sorted(d_spreads)[int(0.9 * len(d_spreads))]) if d_spreads else None,
        },
        "sf": sfdir,
    }
    # streaming wall budgets: per-replay ceilings for the stream queries,
    # which have no DuckDB ratio to bound them
    try:
        sb = json.load(open(f"{REPO}/STREAM_BUDGET.json"))
        entry = next((v for k, v in sb.get("per_sf", {}).items() if k in sfdir),
                     None)
        if entry is not None:
            viol = {n: {"wall": r3(per[n]["spark_min"]), "budget": b}
                    for n, b in entry["budgets_s"].items()
                    if per.get(n, {}).get("spark_min", -1) > b}
            if viol:
                bench_out["stream_budget_violations"] = viol
            else:
                bench_out["stream_budget_ok"] = True
    except FileNotFoundError:
        pass
    with open(f"{REPO}/bench_out.json", "w") as f:
        json.dump(bench_out, f)
        f.write("\n")

    # ---- DUCKDB_BASELINE.json: bench_duckdb.py schema
    baseline = {
        "sf": sfdir,
        "threads": con.sql("SELECT current_setting('threads')").fetchone()[0],
        "duckdb": duckdb.__version__,
        "queries": duck_map,
        "total": round(sum(v for v in duck_map.values() if v > 0), 6),
        "timed_queries": sum(1 for v in duck_map.values() if v > 0),
        "capture": "interleaved A/B window shared with bench_out.json "
                   "(tools/bench_ab.py)",
        "q74_timed_formulation": "iterative temp-table walk, row-identical "
            "to the committed recursive-CTE oracle (asserted in-run); the "
            "CTE remains the correctness cross-check",
        "q74_recursive_cte_reference_s": q74_cte_ref,
    }
    with open(f"{REPO}/DUCKDB_BASELINE.json", "w") as f:
        json.dump(baseline, f, indent=1, sort_keys=True)
        f.write("\n")

    # ---- BENCH_DELTA.json vs the previously committed pair, spread-aware
    rows, flagged = {}, []
    for n, v in per.items():
        p = prev_spark.get(n)
        if not p or p <= 0 or v["spark_min"] <= 0:
            continue
        band = max(1.5, (v["spark_spread"] or 1.0) * 1.15)
        ratio = v["spark_min"] / p
        rows[n] = {"prev": r3(p), "cur": r3(v["spark_min"]),
                   "ratio": r3(ratio), "band": r3(band)}
        if ratio > band and p >= 0.2:
            flagged.append(n)

    # ---- AUTO-ADJUDICATION of the capture's own fresh flags (round 16):
    # twice in a row (r14: four flags, r15: q85) the FINAL driver window
    # raised a flag after the last --adjudicate pass, leaving the committed
    # delta ledger with a verdict-less flag for the next round to dig up.
    # The capture now applies the full adjudication machinery to its own
    # flags in-line: the isolated fresh-window min-of-9 tie-breaker first,
    # then the committed same-code envelope rule (run BEFORE this window is
    # appended to the envelope, so a flag can never be closed against
    # itself). Verdicts land in BENCH_DELTA.json directly; whatever neither
    # step closes stays in `open_flags` for a manual --adjudicate.
    adj = {}
    if flagged:
        for n in sorted(flagged):
            v = per[n]
            spread_band = round((v["spark_spread"] or 1.0) * 1.15, 3)
            adj[n] = {
                "prev_committed": prev_spark[n], "ab_min": v["spark_min"],
                "ab_samples": v["spark"], "ab_spread": v["spark_spread"],
                "duckdb_min": v["duckdb_min"],
                "band": rows[n]["band"], "spread_band": spread_band,
                "ratio": rows[n]["ratio"],
                "verdict": "regression (exceeds same-window band)",
            }
        isolated_tiebreak(adj, sfdir, cpus, log_path)
        apply_envelope_rule(adj, per, sfdir)
    open_flags = sorted(n for n, r in adj.items()
                        if r["verdict"].startswith(("regression", "borderline")))
    # suite-total drift gate (r18): evaluated against the committed suite
    # envelope BEFORE this window is appended, same no-self-exoneration
    # ordering as the per-query rule
    suite = apply_suite_rule(sfdir, per, s_tot, d_tot)
    delta = {
        "flagged": sorted(flagged),
        "open_flags": open_flags,
        "suite": suite,
        "band_source": "same-window spark_spread x1.15, floor 1.5x "
                       "(interleaved A/B capture)",
        "auto_adjudication": adj if adj else None,
        "auto_adjudication_protocol": (
            "every fresh flag gets the isolated fresh-window min-of-9 "
            "tie-breaker (second server JVM) then the committed same-code "
            "envelope rule, in the capture itself; open_flags lists what "
            "neither step closed (candidates for a manual --adjudicate)"
        ) if adj else None,
        "new": sorted(n for n in per if n not in prev_spark),
        "queries": rows,
    }
    with open(f"{REPO}/BENCH_DELTA.json", "w") as f:
        json.dump(delta, f)
        f.write("\n")
    for n, r in adj.items():
        print(f"DELTA-ADJ {n:32s} prev {r['prev_committed']} -> cur "
              f"{r['ab_min']} (ratio {r['ratio']}, band {r['band']}, "
              f"isolated {r.get('isolated_min')}): {r['verdict']}")

    # open flags at capture end mark their samples contested (r18): the
    # sample stays for provenance but can never widen the bounds a future
    # recurrence of the same flag is judged against
    record_envelope(sfdir, per, contested=set(open_flags), suite=suite)
    regenerate_ratio_table(per, s_tot, d_tot, sfdir, passes)
    print(f"SUITE {suite['verdict']}")
    print(f"\nBENCH_AB.json: spark {s_tot:.3f}s vs duckdb {d_tot:.3f}s = "
          f"{s_tot / d_tot:.2f}x over {len(per)} queries; "
          f"median spark spread {ab['noise']['spark_median_spread']}x, "
          f"flags vs prev: {sorted(flagged) or 'none'}; "
          f"open after auto-adjudication: {open_flags or 'none'}")
    # --require-suite-ruling (r19, verdict Missing #1b): the round's
    # CLOSING capture must ship with a ruling suite verdict — on
    # no-envelope the capture still commits its artifacts (the window's
    # sample was appended above and counts toward the 3-window minimum)
    # but exits non-zero so the closing sequence re-captures instead of
    # shipping a pair the gate could not rule on (r18's failure mode).
    if ("require-suite-ruling" in flags
            and str(suite.get("verdict", "")).startswith("no-envelope")):
        sys.exit(
            "bench_ab.py: --require-suite-ruling: suite verdict is "
            "no-envelope — this window's sample was appended; re-capture "
            "until >=3 clean same-fpset windows let the gate rule")


def regenerate_ratio_table(per, s_tot, d_tot, sfdir, passes):
    """Rewrites README.md's generated per-query Spark-vs-DuckDB ratio table
    from the A/B window's pair. Only rewrites between existing
    BENCH_RATIOS markers, so a checkout without them is left alone."""
    rp = f"{REPO}/README.md"
    begin = ("<!-- BENCH_RATIOS_BEGIN (generated by graft.Bench — "
             "do not edit by hand) -->")
    end = "<!-- BENCH_RATIOS_END -->"
    txt = open(rp).read()
    if begin not in txt or end not in txt:
        return
    lines = [begin, "",
        f"_Regenerated by `tools/bench_ab.py` (interleaved A/B capture: one",
        f"window, engines alternated within each query block, {passes} samples",
        f"each, committed value = min, per-query spread in `BENCH_AB.json`),",
        f"`{sfdir}`. Queries flagged 'scheduling floor' answer in microseconds",
        f"in DuckDB while Spark pays its fixed ~0.1-0.3 s per-query",
        f"planning/scheduling cost; 'streaming replay machinery' marks the",
        f"bounded micro-batch replays whose cost is offset-WAL/state-store/",
        f"checkpoint setup with no DuckDB analog (the oracle compares a batch",
        f"reconstruction) — both fixed costs that amortize with data volume,",
        f"not plan defects (see the audit above).",
        f"Totals this capture: Spark {s_tot:.3f} s, DuckDB {d_tot:.3f} s;",
        f"{sum(1 for v in per.values() if v['ratio'] is not None and v['ratio'] <= 1)}"
        f"/{len(per)} queries at-or-below DuckDB outright._",
        "",
        "| query | spark s | duckdb s | spark÷duckdb | note |",
        "|---|---|---|---|---|"]
    for n in sorted(per):
        v = per[n]
        s, d = v["spark_min"], v["duckdb_min"]
        if isinstance(d, float) and d > 0 and s > 0:
            if s <= d:
                flag = "spark wins"
            elif s <= 2 * d:
                flag = "within 2×"
            elif "_stream_" in n:
                flag = "streaming replay machinery"
            elif s <= 0.45:
                flag = "scheduling floor"
            else:
                flag = ""
            lines.append(f"| {n} | {s:.3f} | {d:.3f} | {s / d:.2f} | {flag} |")
        else:
            lines.append(f"| {n} | {s:.3f} | — | — | |")
    lines += ["", end]
    pre = txt[:txt.index(begin)]
    post = txt[txt.index(end) + len(end):]
    open(rp, "w").write(pre + "\n".join(lines) + post)


if __name__ == "__main__":
    main()
