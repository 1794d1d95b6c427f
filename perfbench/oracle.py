"""Untimed correctness check: every op's first output against its DuckDB
oracle (`SparkEntry.oracleSql`, dumped by the harness), compared with the
type-sensitive canonicalization of tools/check_oracles.py.

Eight oracles read committed goldens (engine-hash LSH and sketch queries)
whose rows are keyed by a checksum of the fixture corpus. For generated
inputs the goldens are recomputed for this corpus by the same independent
tools (tools/gen_lsh_goldens.py, tools/gen_sketch_goldens.py) into the run
directory, and the oracle SQL is pointed there.
"""
import contextlib
import importlib
import io
import json
import os
import pathlib
import re
import sys

import duckdb
import pyarrow.dataset as ds

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()
GOLDEN_PATH = re.compile(r"'[^']*/goldens/")  # the committed goldens an oracle reads
LSH_OPS = {"q41_dedup_minhash", "q42_dedup_simhash", "q46_similarity_lsh",
           "q56_dedup_embedding_lsh", "q113_dedup_incremental",
           "q114_dedup_incremental_persisted"}
SKETCH_OPS = {"q15_approx_distinct", "q69_sketch_cms"}


def _tools(root, name):
    sys.path.insert(0, os.path.join(root, "tools"))
    try:
        return importlib.import_module(name)
    finally:
        sys.path.pop(0)


def make_goldens(root, data_dir, out_dir, ops):
    """Recomputes the goldens the given ops' oracles read, for this corpus."""
    os.makedirs(out_dir, exist_ok=True)
    argv = sys.argv
    try:
        with contextlib.redirect_stdout(io.StringIO()):
            if LSH_OPS & set(ops):
                lsh = _tools(root, "gen_lsh_goldens")
                lsh.SF_DIRS, lsh.OUT_DIR, sys.argv = [data_dir], out_dir, ["gen"]
                lsh.main()
            if SKETCH_OPS & set(ops):
                sk = _tools(root, "gen_sketch_goldens")
                sk.SFS, sk.REPO, sys.argv = [], pathlib.Path(out_dir).parent, ["gen", data_dir]
                sk.main()
    finally:
        sys.argv = argv


def check(root, data_dir, out_dir, ops, goldens_dir):
    """{op: "pass" | failure kind} for every op of the run."""
    canon = _tools(root, "check_oracles").canon
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    make_goldens(root, data_dir, goldens_dir, ops)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    verdicts = {}
    for op in ops:
        if op not in oracles:
            verdicts[op] = "no-oracle"
            continue
        sql = GOLDEN_PATH.sub(f"'{goldens_dir}/", oracles[op])
        try:
            want_t = con.sql(sql).arrow()
        except Exception:  # noqa: BLE001 - any oracle failure is a failed check
            verdicts[op] = "oracle-error"
            continue
        path = os.path.join(out_dir, op)
        if not os.path.exists(path):
            verdicts[op] = "missing-output"
            continue
        got_t = ds.dataset(path).to_table()
        if sorted(want_t.column_names) != sorted(got_t.column_names):
            verdicts[op] = "schema-mismatch"
            continue
        names = sorted(want_t.column_names)

        def rows(t):
            cols = [t.column(c).to_pylist() for c in names]
            return [tuple(canon(v) for v in r) for r in zip(*cols)] if t.num_rows else []
        want, got = rows(want_t), rows(got_t)
        if len(want) != len(got):
            verdicts[op] = "rowcount-mismatch"
        elif want != got:
            verdicts[op] = "value-mismatch"
        else:
            verdicts[op] = "pass"
    return verdicts
