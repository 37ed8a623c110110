#!/usr/bin/env python3
"""Local replica of the driver's DuckDB-oracle correctness gate.

Runs each oracle SQL from <outdir>/oracle_sql.json against DuckDB (with
the sf tables registered as views) and compares to the Spark parquet dump
in <outdir>/<name>/. Mimics the driver: sort columns by name, then
compare row-by-row values exactly.

Usage: python3 tools/check.py <sfdir> <outdir>
"""
import glob
import json
import math
import os
import sys
import time

import duckdb
import pandas as pd
import pyarrow.parquet as pq

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

# Contract-aware compares (r12, VERDICT r11 task 3; tightened r13): for
# these queries the gate marks its exactness domain with a boolean
# column — a sketch whose guarantee covers only part of the output
# (q_heavy: Misra-Gries retains a token only above N/(capacity+1); an
# anti-Zipf corpus can push real top-k rows below that bound). Value:
# (flag_column, key_columns). Rows where the flag is true must match
# EXACTLY (both sides filtered to the flag, then the normal value
# compare). Unflagged rows carry NO membership guarantee — that is the
# contract (measured at sf1: the anti-Zipf replica's engine top-20 and
# exact top-20 legitimately differ in membership below the bound, so a
# row-by-row key compare would fail correct behavior). Queries absent
# from this map keep the full exact compare. The CONTRACTS population
# is pinned by QueriesSmokeSpec — adding an entry is a deliberate diff.
#
# r14 (VERDICT r13 task 3): the third element is the FULL exact
# aggregate (no top-k) and closes the engine-only-row blind spot r13's
# shared-key merge left open: an unflagged row that exists only in the
# engine output was never value-checked, so a fabricated (token, count)
# pair rode through whenever row counts matched. Now EVERY engine
# unflagged row is semi-joined against this aggregate and must match it
# on every column — membership below the sketch bound stays
# contract-free (that IS the Misra-Gries contract), but every value the
# engine emits is unforgeable: a token absent from the corpus, or a
# count differing from the exact count, is a FAIL.
HEAVY_EXACT = (
    "WITH t AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents), "
    "n AS (SELECT count(*) AS n_tokens FROM t) "
    "SELECT token, count(*) AS freq, "
    "(count(*) * 257 >= n_tokens) AS support_guaranteed "
    "FROM t CROSS JOIN n GROUP BY token, n_tokens")
CONTRACTS = {"q_heavy": ("support_guaranteed", ["token"], HEAVY_EXACT)}


def first_mismatch(want, got, cols):
    """First (col, row, oracle, spark) value difference, or None."""
    for c in cols:
        wv = [norm(x) for x in want.column(c).to_pylist()]
        gv = [norm(x) for x in got.column(c).to_pylist()]
        for i, (a, b) in enumerate(zip(wv, gv)):
            # list-typed cells: pd.isna is elementwise — compare as lists
            if isinstance(a, list) or isinstance(b, list):
                if [str(norm(x)) for x in (a or [])] != [str(norm(x)) for x in (b or [])]:
                    return (c, i, a, b)
                continue
            na, nb = pd.isna(a), pd.isna(b)
            if na and nb:
                continue
            if na != nb or str(a) != str(b):
                return (c, i, a, b)
    return None


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    return v


def run_iterative(con, spec):
    """Run a scripted oracle (oracle_iter.json): setup once, loop until
    the fixpoint scalar repeats or max_rounds (the unrolled spelling's
    bound — extra rounds past the fixpoint are no-ops, so early exit is
    exactly equivalent), then the final SELECT. Exists for q_dbscan at
    sf1: the single-statement oracle's 96 MATERIALIZED CC rounds blow
    DuckDB's spill wall; the loop holds two vertex tables at a time.
    """
    t0 = time.time()
    for s in spec["setup"]:
        con.sql(s)
    prev = None
    rounds = 0
    converged = False
    for _ in range(spec["max_rounds"]):
        for s in spec["loop"]:
            con.sql(s)
        rounds += 1
        cur = con.sql(spec["fixpoint"]).fetchone()[0]
        if cur == prev:
            converged = True
            break
        prev = cur
        if rounds % 50 == 0:
            print(f"  (iterative oracle: round {rounds}, "
                  f"{time.time() - t0:.0f}s, fixpoint={cur})", flush=True)
    print(f"  (iterative oracle: {rounds} rounds, "
          f"{'converged' if converged else 'HIT ROUND CAP'}, "
          f"{time.time() - t0:.0f}s)", flush=True)
    return con.sql(spec["final"]).arrow()


def main(sfdir, outdir):
    con = duckdb.connect()
    # Bound the oracle's memory and give it a spill path: at the sf1
    # sweep scale an un-spillable operator otherwise grows until the
    # kernel OOM-kills the WHOLE sweep (observed: 130 GB RSS, SIGKILL
    # mid-run) — with a limit the offending query raises, is recorded
    # as its own FAIL, and the remaining 200+ queries still run.
    con.sql(f"SET memory_limit='{os.environ.get('GRAFT_CHECK_MEM', '80GB')}'")
    con.sql("SET temp_directory='/tmp/duckdb_spill'")
    # cap the spill too: an unbounded spill FILLS THE DISK before the
    # memory limit ever trips (observed r11: the old q_triangles oracle
    # wrote 78 GB of temp and took / to 100% — which breaks every other
    # process on the box, not just the sweep). With a cap the offending
    # query raises its own error and the sweep continues.
    con.sql(f"SET max_temp_directory_size="
            f"'{os.environ.get('GRAFT_CHECK_SPILL', '40GB')}'")
    for t in TABLES:
        # driver snapshots are flat files; Spark-written replicas
        # (ScaleUp output, e.g. /tmp/sf1) are part-file directories
        path = f"{sfdir}/{t}.parquet"
        src = f"{path}/*.parquet" if os.path.isdir(path) else path
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
    oracle = json.load(open(f"{outdir}/oracle_sql.json"))
    iter_path = f"{outdir}/oracle_iter.json"
    iter_oracle = json.load(open(iter_path)) if os.path.exists(iter_path) else {}
    # GRAFT_CHECK_ONLY / GRAFT_CHECK_SKIP: comma lists to restrict or
    # resume a long sweep (the sf0.1 full-gate run crunches recursive /
    # brute-force oracles for tens of minutes; a crash or timeout should
    # not force re-running the queries that already passed)
    only = {q.strip() for q in os.environ.get("GRAFT_CHECK_ONLY", "").split(",") if q.strip()}
    skip = {q.strip() for q in os.environ.get("GRAFT_CHECK_SKIP", "").split(",") if q.strip()}
    if only:
        oracle = {k: v for k, v in oracle.items() if k in only}
    if skip:
        oracle = {k: v for k, v in oracle.items() if k not in skip}
    n_pass = n_fail = 0
    for name, sql in sorted(oracle.items()):
        t0 = time.time()
        files = glob.glob(f"{outdir}/{name}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output")
            n_fail += 1
            continue
        try:
            if name in iter_oracle:
                # run on a cursor (child connection): the loop's TEMP
                # tables (pts, j, core, e, labels, ...) die with it, so
                # a later oracle spelling one of those names as a bare
                # table errors instead of silently reading q_dbscan
                # state (ADVICE r13). Views live in the main catalog
                # and stay visible; .arrow() materializes before close.
                cur = con.cursor()
                try:
                    want = run_iterative(cur, iter_oracle[name])
                finally:
                    cur.close()
            else:
                want = con.sql(sql).arrow()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}")
            n_fail += 1
            continue
        import pyarrow as pa
        got = pa.concat_tables([pq.read_table(f) for f in sorted(files)],
                               promote_options="permissive")
        wcols, gcols = sorted(want.column_names), sorted(got.column_names)
        if wcols != gcols:
            print(f"FAIL {name}: columns differ: oracle={wcols} spark={gcols}")
            n_fail += 1
            continue
        if want.num_rows != got.num_rows:
            print(f"FAIL {name}: rows differ: oracle={want.num_rows} spark={got.num_rows}")
            n_fail += 1
            continue
        wt = {c: str(want.schema.field(c).type) for c in wcols}
        gt = {c: str(got.schema.field(c).type) for c in gcols}
        tdiff = {c: (wt[c], gt[c]) for c in wcols if wt[c] != gt[c]}
        if tdiff:
            print(f"WARN {name}: type diff {tdiff}")
        contract = CONTRACTS.get(name)
        where = ""  # FAIL-message row-space label (contract compares
        # filter the tables, so a bare index would not correspond to a
        # row of the dumped output)
        if contract and contract[0] in wcols:
            contract_col, key_cols, exact_sql = contract
            import pyarrow.compute as pc
            wmask = pc.fill_null(want.column(contract_col).cast("bool"), False)
            gmask = pc.fill_null(got.column(contract_col).cast("bool"), False)
            want_f, got_f = want.filter(wmask), got.filter(gmask)
            if want_f.num_rows != got_f.num_rows:
                print(f"FAIL {name}: {contract_col} rows differ: "
                      f"oracle={want_f.num_rows} spark={got_f.num_rows}")
                n_fail += 1
                continue
            bad = first_mismatch(want_f, got_f, wcols)
            where = f" (flagged-row ordinal within {contract_col}=true)"
            n_checked = 0
            if not bad:
                # unflagged rows: membership is contract-relaxed, but
                # every ENGINE row must match the full exact aggregate
                # on every column (r14 — semi-join against truth, not
                # against the oracle's own top-k)
                keys = [c for c in key_cols if c in wcols]
                val_cols = [c for c in wcols if c not in keys]
                gu = got.filter(pc.invert(gmask)).to_pandas()
                n_checked = len(gu)
                if n_checked:
                    con.register("_graft_engine_unflagged", gu)
                    on = " AND ".join(f"e.{k} = x.{k}" for k in keys)
                    found = " AND ".join(f"x.{k} IS NOT NULL" for k in keys)
                    sel = ", ".join(
                        [f"e.{c} AS {c}_s" for c in val_cols] +
                        [f"x.{c} AS {c}_x" for c in val_cols])
                    ex = con.sql(
                        f"SELECT {sel}, ({found}) AS _found "
                        f"FROM _graft_engine_unflagged e "
                        f"LEFT JOIN ({exact_sql}) x ON {on}").df()
                    con.unregister("_graft_engine_unflagged")
                    for i in range(len(ex)):
                        if not bool(ex["_found"].iloc[i]):
                            bad = (keys[0], i, "<absent from exact aggregate>",
                                   gu[keys[0]].iloc[i])
                            break
                        for c in val_cols:
                            a, b = ex[f"{c}_x"].iloc[i], ex[f"{c}_s"].iloc[i]
                            na, nb = pd.isna(a), pd.isna(b)
                            if na and nb:
                                continue
                            if na == nb:
                                # numeric-aware: the LEFT JOIN makes the
                                # exact-side columns nullable, which
                                # pandas promotes int64 -> float64; a
                                # str compare would then fail 896.0 vs
                                # 896 on a CORRECT row
                                if not isinstance(a, str) and not isinstance(b, str):
                                    try:
                                        if float(a) == float(b):
                                            continue
                                    except (TypeError, ValueError):
                                        pass
                                if str(norm(a)) == str(norm(b)):
                                    continue
                            bad = (c, i, a, b)
                            break
                        if bad:
                            break
                where = " (engine unflagged row ordinal, vs exact aggregate)"
            if not bad:
                ng = want.num_rows - want_f.num_rows
                print(f"PASS {name} ({want_f.num_rows} rows exact + {ng} "
                      f"contract-relaxed ({n_checked} engine rows "
                      f"exact-aggregate-checked) per {contract_col}, "
                      f"oracle {time.time() - t0:.1f}s)",
                      flush=True)
                n_pass += 1
                continue
        else:
            bad = first_mismatch(want, got, wcols)
        if bad:
            c, i, a, b = bad
            print(f"FAIL {name}: col {c} row {i}{where}: oracle={a!r} spark={b!r}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(want)} rows, oracle {time.time() - t0:.1f}s)", flush=True)
            n_pass += 1
    # rows-only queries (in outdir but not in oracle)
    for d in sorted(glob.glob(f"{outdir}/q_*")):
        name = d.split("/")[-1]
        if only and name not in only:
            continue
        if name in skip:
            continue
        if name not in oracle:
            files = glob.glob(f"{d}/*.parquet")
            n = sum(len(pd.read_parquet(f)) for f in files) if files else 0
            status = "PASS" if n > 0 else "FAIL"
            print(f"{status} {name} (rows-only: {n} rows)")
            if n > 0:
                n_pass += 1
            else:
                n_fail += 1
    print(f"== {n_pass} pass, {n_fail} fail")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
