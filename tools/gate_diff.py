#!/usr/bin/env python3
"""Compare two graft.Verify dumps gate by gate.

Usage: python3 tools/gate_diff.py <dumpA> <dumpB> [gate ...]

The parent-versus-change check of a refactor: run `graft.Verify` once
per checkout into two output dirs, then compare them here. A gate's rows
(its part files concatenated in name order, as tools/check.py reads
them) must be equal cell for cell under check.py's own compare
(`first_mismatch`), with the same columns and row count;
`oracle_sql.json` and `oracle_iter.json` must be byte-identical. Named
gates are compared alone and must be in both dumps; with no names, every
`q_*` dir of either dump is. A gate whose dump is a builder error
(`_builder_error`) counts as a difference.

Prints one line per oracle file and per gate; exits 1 on any difference
or on a gate missing from one side, else 0.
"""
import glob
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from check import first_mismatch  # noqa: E402

ORACLE_FILES = ("oracle_sql.json", "oracle_iter.json")


def read_gate(dump, gate):
    """The gate's dumped rows, or None when the dump has no output for it."""
    files = sorted(glob.glob(f"{dump}/{gate}/*.parquet"))
    if not files:
        return None
    return pa.concat_tables([pq.read_table(f) for f in files],
                            promote_options="permissive")


def diff_gate(a, b):
    """Why two dumped tables differ, or None when they are equal."""
    if "_builder_error" in a.column_names or "_builder_error" in b.column_names:
        return "builder error"
    ca, cb = sorted(a.column_names), sorted(b.column_names)
    if ca != cb:
        return f"columns differ: A={ca} B={cb}"
    if a.num_rows != b.num_rows:
        return f"rows differ: A={a.num_rows} B={b.num_rows}"
    bad = first_mismatch(a, b, ca)
    if bad:
        c, i, va, vb = bad
        return f"col {c} row {i}: A={va!r} B={vb!r}"
    return None


def diff_file(path_a, path_b):
    """Why two oracle files differ, or None when both are byte-identical
    (or both absent)."""
    ea, eb = os.path.exists(path_a), os.path.exists(path_b)
    if not ea and not eb:
        return None
    if ea != eb:
        return "only in " + ("A" if ea else "B")
    with open(path_a, "rb") as fa, open(path_b, "rb") as fb:
        return None if fa.read() == fb.read() else "bytes differ"


def gates_of(dump):
    return {os.path.basename(d) for d in glob.glob(f"{dump}/q_*") if os.path.isdir(d)}


def main(argv):
    if len(argv) < 2:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    da, db, named = argv[0], argv[1], argv[2:]
    n_diff = 0
    for f in ORACLE_FILES:
        why = diff_file(f"{da}/{f}", f"{db}/{f}")
        print(f"{'DIFF' if why else 'SAME'} {f}" + (f": {why}" if why else ""))
        n_diff += bool(why)
    gates = named or sorted(gates_of(da) | gates_of(db))
    for g in gates:
        a, b = read_gate(da, g), read_gate(db, g)
        missing = [side for side, t in (("A", a), ("B", b)) if t is None]
        if missing:
            print(f"MISSING {g}: no output in {' and '.join(missing)}")
            n_diff += 1
            continue
        why = diff_gate(a, b)
        if why:
            print(f"DIFF {g}: {why}")
            n_diff += 1
        else:
            print(f"SAME {g} ({a.num_rows} rows)")
    print(f"== {len(gates)} gates, {n_diff} differences")
    return 1 if n_diff else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
