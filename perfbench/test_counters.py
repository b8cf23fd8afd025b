"""Counter self-check: the listener counters behind scan.records,
output.mb and output.files must read a known input exactly.

Writes a parquet file of known rows, runs the runner's traced loop on
the `known_copy` query (which copies the file and reads the copy
back), and compares the per-iteration counters with the rows written
and the copy's bytes and files on disk.

Run from the repo root: python3 -m unittest perfbench/test_counters.py
"""
import os
import shutil
import sys
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402

ROWS = 123457


class CounterSelfCheck(unittest.TestCase):
    def test_counters_read_a_known_input(self):
        cp = build.build()
        work = os.path.join(build.OUT, "selfcheck")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        known = os.path.join(work, "known.parquet")
        pq.write_table(pa.table({"id": list(range(ROWS)),
                                 "s": [f"row {i}" for i in range(ROWS)]}), known)
        raw = os.path.join(work, "spans.raw.jsonl")
        run.jvm(cp, work, ["--data", work, "--work", work, "--spans", raw,
                           "--queries", "known_copy", "--setups", "1", "--warm", "0",
                           "--seconds", "2",
                           "--trace", "1", "--scan", known], timeout=170)
        records = metrics.load(raw)
        copy = os.path.join(work, "tmp", "graft_known_copy")
        parts = [f for f in os.listdir(copy) if f.startswith("part-") and f.endswith(".parquet")]
        disk = sum(os.path.getsize(os.path.join(copy, f)) for f in parts)
        traced = metrics.iterations(records, "traced")
        self.assertTrue(traced)
        for it in traced:
            m = metrics.iteration_layers(records, it, [])
            # the build reads the known file, the execution reads the copy
            self.assertEqual(m["scan.records"], 2 * ROWS)
            self.assertEqual(round(m["output.mb"] * metrics.MB), disk)
            self.assertEqual(m["output.files"], len(parts))
        shutil.rmtree(work)


if __name__ == "__main__":
    unittest.main()
