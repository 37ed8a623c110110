"""Output checks. Every operation the harness timed becomes one record
{"kind", "name", "ok", "why"}; a wrong answer fails the operation just as
an error does.

- gates: each gate's output is compared with its DuckDB oracle
  (`SparkEntry.oracleSql`) over the same generated tables, the compare
  tools/check.py makes: columns by name, row count, then every value in
  order. The warm-up pass writes the output compared; a timed execution
  of the gate fails when it raises or when that compare failed.
- taxi_pipeline: the cleaned and read-back row counts must equal the
  generator's expected count; the model's RMSE and MAE must be finite and
  inside a band; every HTTP prediction must equal in-process
  `Scoring.predict` and `FastScorer.predict` for the same request.
"""
import glob
import math
import os

# Fare-model error band, in dollars of total_amount. Predicting the mean
# total scores an RMSE of about 19 on the generated trips; the 20-tree fit
# scored 3.0-5.6 over ten seeds. Below 0.3 the model has seen its test rows.
RMSE_BAND = (0.3, 9.0)

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def _norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, list):
        return [str(_norm(x)) for x in v]
    return v


def compare(want, got):
    """None when the two arrow tables match, else the first difference."""
    wcols, gcols = sorted(want.column_names), sorted(got.column_names)
    if wcols != gcols:
        return f"columns differ: oracle={wcols} engine={gcols}"
    if want.num_rows != got.num_rows:
        return f"rows differ: oracle={want.num_rows} engine={got.num_rows}"
    for c in wcols:
        for i, (a, b) in enumerate(zip(want.column(c).to_pylist(), got.column(c).to_pylist())):
            a, b = _norm(a), _norm(b)
            if a is None and b is None:
                continue
            if (a is None) != (b is None) or str(a) != str(b):
                return f"col {c} row {i}: oracle={a!r} engine={b!r}"
    return None


def oracle_results(data_dir, oracle_sql, out_dir):
    """Per gate: the first mismatch against its oracle, or None."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    con = duckdb.connect()
    con.sql("SET threads=2")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    out = {}
    for name in sorted(set(os.listdir(out_dir)) if os.path.isdir(out_dir) else []):
        files = sorted(glob.glob(f"{out_dir}/{name}/*.parquet"))
        if not files:
            out[name] = "no engine output"
            continue
        got = pa.concat_tables([pq.read_table(f) for f in files], promote_options="permissive")
        sql = oracle_sql.get(name)
        if sql is None:
            out[name] = None if got.num_rows > 0 else "no rows"
            continue
        try:
            want = con.sql(sql).arrow()
        except Exception as e:  # an oracle that cannot run is a failed check
            out[name] = f"oracle error: {e}"
            continue
        out[name] = compare(want, got)
    return out


def gate_ops(res, oracle):
    ops = []
    dump_errors = {w["name"]: w["error"] for w in res["warmup"]}
    for p in res["passes"]:
        for g in p:
            why = g["error"] or dump_errors.get(g["name"]) or oracle.get(g["name"], "not dumped")
            ops.append({"kind": "gate", "name": g["name"], "ok": why is None, "why": why})
    return ops


def taxi_ops(res, expected):
    ops = []
    etl, train, serve = res["etl"], res["train"], res["serve"]
    want = expected["raw"]["expected_clean"]
    why = None
    if etl["rows"] != want or etl["read_back_rows"] != want:
        why = f"cleaned {etl['rows']}, read back {etl['read_back_rows']}, expected {want}"
    ops.append({"kind": "etl", "name": "MainEtl.run", "ok": why is None, "why": why})
    rmse, mae = train["rmse"], train["mae"]
    why = None
    if rmse is None or mae is None or not (RMSE_BAND[0] <= rmse <= RMSE_BAND[1]) \
            or not (0 < mae <= rmse):
        why = f"rmse {rmse} mae {mae} outside the band {RMSE_BAND}"
    ops.append({"kind": "train", "name": "Trainer.trainFareModel", "ok": why is None, "why": why})
    exp = serve["expected"]
    for label in ("parity", "fast"):
        s = serve[label]
        for i, (status, pred, which) in enumerate(zip(s["status"], s["pred"], s["which"])):
            e = exp[which]
            why = None
            if status != 200:
                why = f"HTTP {status}"
            elif not (pred == e["predict"] == e["fast"]):
                why = f"served {pred}, predict {e['predict']}, fast {e['fast']}"
            ops.append({"kind": "request", "name": f"{label}#{i}", "ok": why is None, "why": why})
    return ops


def check(workload, res, expected, work):
    if workload == "taxi_pipeline":
        return taxi_ops(res, expected)
    oracle = oracle_results(os.path.join(work, "data"), res["oracle_sql"],
                            os.path.join(work, "gates_out"))
    return gate_ops(res, oracle)
