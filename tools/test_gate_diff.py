"""Tests for tools/gate_diff.py over tiny pyarrow-built Verify dumps.

Run: python3 -m unittest discover -s tools -p 'test_gate_diff.py'
"""
import contextlib
import io
import json
import os
import sys
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gate_diff  # noqa: E402


def write_dump(root, gates):
    """A Verify-shaped dump: one part file per gate plus both oracle files."""
    os.makedirs(root)
    for name, cols in gates.items():
        os.makedirs(f"{root}/{name}")
        pq.write_table(pa.table(cols), f"{root}/{name}/part-00000.parquet")
    with open(f"{root}/oracle_sql.json", "w") as f:
        json.dump({name: f"SELECT 1 AS {name}" for name in gates}, f)
    with open(f"{root}/oracle_iter.json", "w") as f:
        json.dump({}, f)


GATES = {
    "q_pagerank": {"vertex": [1, 2, 3], "rank_k": [0.25, 0.5, 0.25]},
    "q_kcore": {"vertex": [1, 2], "in_core": [True, False]},
}


class GateDiffTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.addCleanup(self.tmp.cleanup)

    def run_diff(self, b_gates, *named):
        a, b = f"{self.tmp.name}/a", f"{self.tmp.name}/b"
        write_dump(a, GATES)
        write_dump(b, b_gates)
        out = io.StringIO()
        with contextlib.redirect_stdout(out):
            code = gate_diff.main([a, b, *named])
        return code, out.getvalue()

    def test_identical_dumps_exit_0(self):
        code, out = self.run_diff(GATES)
        self.assertEqual(code, 0, out)
        self.assertIn("SAME q_pagerank (3 rows)", out)
        self.assertIn("SAME oracle_sql.json", out)

    def test_one_changed_cell_names_gate_column_and_row(self):
        changed = dict(GATES, q_pagerank={"vertex": [1, 2, 3],
                                          "rank_k": [0.25, 0.5, 0.250001]})
        code, out = self.run_diff(changed)
        self.assertEqual(code, 1, out)
        self.assertIn("DIFF q_pagerank: col rank_k row 2", out)
        self.assertIn("SAME q_kcore", out)

    def test_missing_gate_exits_1(self):
        code, out = self.run_diff({"q_pagerank": GATES["q_pagerank"]}, "q_pagerank", "q_kcore")
        self.assertEqual(code, 1, out)
        self.assertIn("MISSING q_kcore: no output in B", out)


if __name__ == "__main__":
    unittest.main()
