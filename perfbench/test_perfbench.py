"""The benchmark's own tests: interval arithmetic, generator determinism,
the correctness checks, and the emitted metric names.

    python3 perfbench/test_perfbench.py
"""
import glob
import hashlib
import json
import os
import sys
import tempfile
import unittest

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check    # noqa: E402
import gen      # noqa: E402
import layers   # noqa: E402
import run      # noqa: E402


def job(start, end, group=""):
    return {"start": start, "end": end, "group": group, "stages": 2, "skipped": 1,
            "ok": True, "id": 0}


class IntervalTest(unittest.TestCase):
    def test_union_merges_overlaps_and_touching(self):
        self.assertEqual(layers.union([(5, 8), (0, 2), (1, 3), (8, 9), (4, 4)]),
                         [[0, 3], [5, 9]])
        self.assertEqual(layers.length([(0, 10), (2, 3), (9, 12)]), 12)

    def test_driver_gap_plus_job_union_is_the_window(self):
        ops = [(0, 100), (200, 260)]
        jobs = [(10, 30), (20, 50), (90, 130), (150, 180), (250, 300)]
        gap, covered = layers.driver_gap(ops, jobs)
        # op 1 covered [10,50) + [90,100) = 50; op 2 covered [250,260) = 10
        self.assertEqual(covered, 60)
        self.assertEqual(gap, 160 - 60)

    def test_fit_overlap_counts_only_fit_time_under_main_jobs(self):
        jobs = [job(0, 10), job(20, 40), job(5, 25, "graft-fit-a"),
                job(30, 50, "graft-fit-b"), job(60, 70, "graft-fit-a")]
        # fit union [5,25) + [30,50) + [60,70); main union [0,10) + [20,40)
        self.assertEqual(layers.fit_overlap(jobs), 5 + 5 + 10)

    def test_peak_groups(self):
        jobs = [job(0, 10, "graft-fit-a"), job(5, 15, "graft-fit-a"),
                job(8, 20, "graft-fit-b"), job(12, 30, "graft-fit-c"), job(0, 50)]
        # at t=12 groups a, b and c all have a job running
        self.assertEqual(layers.peak_groups(jobs), 3)
        # a job ending as another starts does not overlap it
        self.assertEqual(layers.peak_groups(
            [job(0, 10, "graft-fit-a"), job(10, 20, "graft-fit-b")]), 1)
        self.assertEqual(layers.peak_groups([job(0, 50)]), 0)


def tree_digest(root):
    h = hashlib.sha256()
    for p in sorted(glob.glob(os.path.join(root, "**", "*"), recursive=True)):
        if os.path.isfile(p) and p.endswith((".gz", ".parquet")):
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):
    def test_minute_drop_is_a_function_of_the_seed(self):
        with tempfile.TemporaryDirectory() as t:
            digests = []
            for i, seed in enumerate((7, 7, 8)):
                d = os.path.join(t, str(i))
                gen.gen_minute_drop(d, seed, n_days=2, n_tickers=12)
                digests.append(tree_digest(d))
            self.assertEqual(digests[0], digests[1])
            self.assertNotEqual(digests[0], digests[2])

    def test_tables_are_a_function_of_the_seed(self):
        with tempfile.TemporaryDirectory() as t:
            digests = []
            for i, seed in enumerate((42, 42, 43)):
                d = os.path.join(t, str(i))
                gen.gen_tables(d, 0.001, seed)
                digests.append(tree_digest(d))
            self.assertEqual(digests[0], digests[1])
            self.assertNotEqual(digests[0], digests[2])


class CheckTest(unittest.TestCase):
    def test_digest_is_order_blind_and_value_exact(self):
        a = pd.DataFrame({"k": [2, 1, 3], "v": [0.5, 0.25, -0.0], "s": ["b", "a", "c"]})
        shuffled = a.iloc[[2, 0, 1]][["v", "s", "k"]]
        self.assertEqual(check.digest(a), check.digest(shuffled))
        b = a.copy()
        b.loc[0, "v"] = 0.5000000001
        self.assertNotEqual(check.digest(a), check.digest(b))
        c = a.copy()
        c["k"] = c["k"].astype(float)   # same values, other dtype class
        self.assertNotEqual(check.digest(a), check.digest(c))

    def test_row_check_flags_a_perturbed_output(self):
        with tempfile.TemporaryDirectory() as t:
            df = pd.DataFrame({"k": [1, 2], "v": [1.5, 2.5]})
            os.makedirs(os.path.join(t, "r"))
            df.to_parquet(os.path.join(t, "r", "part-0.parquet"))
            want = {"r": check.digest(df)}
            self.assertEqual(check.check_rows(t, want), {"r": None})
            df.loc[1, "v"] = 2.5 * (1 + 1e-12)
            df.to_parquet(os.path.join(t, "r", "part-0.parquet"))
            self.assertIsNotNone(check.check_rows(t, want)["r"])
            self.assertIsNotNone(check.check_rows(t, {"missing": "x"})["missing"])

    def _pipeline_outputs(self, d, truth, perturb=0.0):
        """Outputs a correct pipeline writes, built from the planted truth."""
        nm, days, tickers = truth["minutes_per_day"], truth["days"], truth["tickers"]
        close = np.load(os.path.join(d, "truth_close.npy"))
        recs = []
        for ti, tk in enumerate(tickers):
            for di, day in enumerate(days):
                t0 = np.datetime64(day, "D").astype("datetime64[us]") + \
                    np.timedelta64(truth["session_open_utc_min"], "m")
                for m in range(nm):
                    recs.append((tk, t0 + np.timedelta64(m, "m"),
                                 close[ti, di * nm + m]))
        adj = pd.DataFrame(recs, columns=["ticker", "datetime", "close_split"])
        adj.loc[len(adj) // 2, "close_split"] *= 1 + perturb
        out = {}
        for name, frame in {
            "adjusted": adj,
            "manifest": pd.DataFrame({"rows": [truth["rows"]]}),
            "audit": pd.DataFrame({
                "ticker": tickers,
                "split_events_aligned": [int(t in truth["splits"]) for t in tickers],
                "dividend_event_days": [int(t in truth["dividends"]) for t in tickers]}),
            "jumps": pd.DataFrame({"ticker": list(truth["splits"]),
                                   "n_jumps": [1] * len(truth["splits"])}),
        }.items():
            os.makedirs(os.path.join(d, name), exist_ok=True)
            pq.write_table(pa.Table.from_pandas(frame, preserve_index=False),
                           os.path.join(d, name, "part-0.parquet"))
            out[name] = os.path.join(d, name)
        nd, nt = len(days), len(tickers)
        out.update(lake_rows=truth["rows"], read_rows={
            "read_ticker": nd * nm, "read_week": min(50, nt) * min(5, nd) * nm,
            "read_day": nt * nm})
        return out

    def test_minute_check_accepts_truth_and_flags_a_perturbed_close(self):
        with tempfile.TemporaryDirectory() as t:
            truth = gen.gen_minute_drop(t, 3, n_days=2, n_tickers=40)
            ok = check.check_minute(t, self._pipeline_outputs(t, truth))
            self.assertEqual(ok, {k: None for k in ok})
            bad = check.check_minute(t, self._pipeline_outputs(t, truth, perturb=1e-5))
            self.assertIsNotNone(bad["adjust"])
            self.assertEqual([k for k, v in bad.items() if v], ["adjust"])


class MetricNamesTest(unittest.TestCase):
    def record(self):
        ops = [{"name": n, "start": 1000 * i, "end": 1000 * i + 900, "build_s": 0.1,
                "exec_s": 0.8, "ok": True, "compiles": 3, "compile_s": 0.05,
                "source_kb": 4.0}
               for i, n in enumerate(list(layers.PIPELINE_OPS) + run.ALL_ROWS[:1])]
        passes = [{"index": i, "start": 0, "end": 10**5, "wall_s": 7.2 + i, "ops": ops}
                  for i in range(3)]
        trace = {"tasks": [[50, 10]], "jobs": [job(100, 300), job(150, 200, "graft-fit-x")],
                 "stages": [dict(id=1, start=100, end=300, **{k: 1.0 for k in (
                     "tasks", "run_ms", "cpu_ns", "gc_ms", "deser_ms", "sched_delay_ms",
                     "input_bytes", "records_in", "output_bytes", "shuffle_write_bytes",
                     "shuffle_read_bytes", "fetch_wait_ms", "spill_bytes")})],
                 "blocks": [[120, 2048.0]],
                 "progress": [{"run": "r", "batch": 0, "start": 120, "trigger_ms": 5,
                               "planning_ms": 1, "wal_ms": 1, "add_batch_ms": 2,
                               "state_rows": 7, "input_rows": 9}]}
        return {"passes": passes, "setups_s": [3.0, 1.0, 1.2], "retained_heap_mb": 90.0,
                "cores": 4, "trace_data": trace,
                "checks": {"read_rows": {"read_ticker": 5}},
                "lake": {"files_written": 10, "output_mb": 1.5}}

    def test_emitted_names_match_benchmark_json(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            bench = json.load(f)
        rec = self.record()
        e2e = layers.end_to_end(rec, failed=0, attempted=27)
        self.assertEqual(sorted(e2e), sorted(m["name"] for m in bench["end_to_end"]))
        for m in bench["end_to_end"]:
            self.assertEqual(layers.END_TO_END[m["name"]], (m["unit"], m["better"]))
        per = layers.per_layer(rec, run.ALL_ROWS, tmp_left_mb=0.5)
        self.assertEqual(sorted(per), sorted(m["name"] for m in bench["per_layer"]))
        self.assertEqual(sorted(w["name"] for w in bench["workloads"]),
                         sorted(run.WORKLOADS))

    def test_gap_and_job_time_sum_to_pass_wall(self):
        rec = self.record()
        m = layers.pass_layers(rec["passes"][1], rec["trace_data"], 4, run.ALL_ROWS,
                               rec["checks"], rec["lake"], 0.0)
        wall = sum(o["end"] - o["start"] for o in rec["passes"][1]["ops"]) / 1e3
        self.assertAlmostEqual(m["driver.gap_s"] + 0.2, wall)
        self.assertEqual(m["fitpool.jobs"], 1)
        self.assertAlmostEqual(m["fitpool.overlap_s"], 0.05)


if __name__ == "__main__":
    unittest.main()
