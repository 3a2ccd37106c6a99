"""Self-tests of the benchmark's checker and summary code.

    python3 rollbench/test_rollbench.py

The checker must reject wrong outputs, not only accept right ones: each
test builds a correct output with DuckDB, checks that it passes, then
breaks one value and checks that it is rejected.
"""
import datetime as dt
import os
import sys
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import check  # noqa: E402
import stats  # noqa: E402


def write_turns(path):
    """A small transcript input: three conversations over two days."""
    os.makedirs(path)
    t0 = dt.datetime(2024, 1, 1, 23, 58, 30)
    rows = []
    for c in range(3):
        for i in range(8):
            rows.append((f"conv{c}", i, ["user", "assistant", "tool"][i % 3],
                         " ".join(["spark", "window", "merge"][: 1 + (i + c) % 3]),
                         "search" if i % 3 == 2 else None,
                         t0 + dt.timedelta(seconds=47 * i + 13 * c)))
    cols = list(zip(*rows))
    pq.write_table(pa.table({
        "conv_id": pa.array(cols[0]), "turn_idx": pa.array(cols[1], pa.int32()),
        "role": pa.array(cols[2]), "text": pa.array(cols[3]), "tool": pa.array(cols[4]),
        "ts": pa.array(cols[5], pa.timestamp("us"))}), os.path.join(path, "part-0.parquet"))


class CheckerTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.input = os.path.join(self.tmp.name, "input")
        write_turns(self.input)
        self.con = check.connect()
        check.load_turns(self.con, self.input)

    def tearDown(self):
        self.tmp.cleanup()

    def tier_files(self, alter=None):
        """Tier tables as the engine would commit them, from DuckDB;
        `alter` = (tier, sql) rewrites one tier before it is written."""
        tables = {}
        for tier in check.TIER_SECONDS:
            sql = check.tier_sql(tier)
            if alter and alter[0] == tier:
                sql = alter[1].format(sql=sql)
            path = os.path.join(self.tmp.name, f"{tier}.parquet")
            self.con.execute(f"COPY ({sql}) TO '{path}' (FORMAT PARQUET)")
            tables[tier] = [path]
        return tables

    def test_correct_tiers_pass(self):
        self.assertEqual(check.check_tiers(self.con, self.tier_files()), [])

    def test_altered_char_len_sum_is_rejected(self):
        bump = ("SELECT * REPLACE (CASE WHEN row_number() OVER (ORDER BY conv_id, window_start) = 1 "
                "THEN char_len_sum + 1 ELSE char_len_sum END AS char_len_sum) FROM ({sql})")
        errors = check.check_tiers(self.con, self.tier_files(("rollup_1h", bump)))
        self.assertEqual(len(errors), 1)
        self.assertIn("rollup_1h", errors[0])

    def read(self, lo, hi, drop=None):
        rows = [list(r) for r in check.stitch_rows(self.con, lo, hi) if r[0] != drop]
        return {"kind": "ragged", "from": lo, "to": hi, "key": None,
                "columns": check.STITCH_COLS, "rows": rows}

    def test_stitch_equal_to_direct_aggregation_passes(self):
        r = self.read("2024-01-01 23:59:10", "2024-01-02 00:03:01")
        self.assertEqual(len(r["rows"]), 3)
        self.assertEqual(check.check_reads(self.con, [r]), [])

    def test_stitch_missing_a_conversation_is_rejected(self):
        r = self.read("2024-01-01 23:59:10", "2024-01-02 00:03:01", drop="conv1")
        errors = check.check_reads(self.con, [r])
        self.assertEqual(len(errors), 1)
        self.assertIn("conv1", errors[0])

    def test_lossy_block_decode_is_rejected(self):
        path = os.path.join(self.tmp.name, "decoded")
        os.makedirs(path)
        good = "SELECT conv_id, ts, CAST(length(text) AS DOUBLE) AS value FROM turns"
        self.con.execute(f"COPY ({good}) TO '{path}/a.parquet' (FORMAT PARQUET)")
        self.assertEqual(check.check_decoded(self.con, path), [])
        bad = good.replace("length(text)", "length(text) + (turn_idx = 3)::INT")
        self.con.execute(f"COPY ({bad}) TO '{path}/a.parquet' (FORMAT PARQUET)")
        self.assertEqual(len(check.check_decoded(self.con, path)), 1)

    def test_query_compare_is_exact(self):
        import pandas as pd
        a = pd.DataFrame({"k": [1, 2], "v": [0.1, 0.2]})
        self.assertIsNone(check.frames_equal(a, a[::-1].copy()))
        self.assertIsNotNone(check.frames_equal(a, pd.DataFrame({"k": [1, 2], "v": [0.1, 0.2000001]})))


class RequiredLayersTest(unittest.TestCase):
    def test_a_layer_reading_zero_fails_the_traced_run(self):
        import run
        names = ["query.q02_rollup_1m_s", "query.jobs", "self.rollup_s"]
        layer = {n: 1.0 for n in run.REQUIRED_LAYERS["catchup"]}
        self.assertEqual(run.unattributed("catchup", layer, names), [])
        layer["rollup.agg_1m_s"] = 0.0
        del layer["state.files"]
        self.assertEqual(run.unattributed("catchup", layer, names),
                         ["rollup.agg_1m_s", "state.files"])

    def test_query_mix_requires_every_listed_query(self):
        import run
        names = ["query.q02_rollup_1m_s", "query.q09_gapfill_1h_s", "query.jobs"]
        layer = {n: 1.0 for n in run.REQUIRED_LAYERS["query_mix"]}
        layer["query.q02_rollup_1m_s"] = 0.5
        self.assertEqual(run.unattributed("query_mix", layer, names),
                         ["query.q09_gapfill_1h_s"])


class SummaryTest(unittest.TestCase):
    def test_median_alone_under_forty_samples(self):
        s = stats.summarize([float(x) for x in range(39)])
        self.assertEqual(s["median"], 19.0)
        self.assertIsNone(s["tail_pct"])
        self.assertIsNone(s["tail"])

    def test_tail_leaves_at_least_ten_samples_beyond(self):
        for n in range(40, 2001):
            p = stats.tail_percentile(n)
            self.assertIsNotNone(p)
            self.assertGreaterEqual(n * (1 - p / 100.0), 10 - 1e-9)
            higher = [q for q in stats.TAIL_PERCENTILES if q > p]
            if higher:  # the next higher candidate would leave fewer than ten
                self.assertLess(n * (1 - min(higher) / 100.0), 10 - 1e-9)

    def test_tail_value(self):
        s = stats.summarize([float(x) for x in range(1, 101)])
        self.assertEqual(s["tail_pct"], 90.0)
        self.assertEqual(s["tail"], 90.0)
        self.assertEqual(sum(1 for x in range(1, 101) if x > s["tail"]), 10)


if __name__ == "__main__":
    unittest.main()
