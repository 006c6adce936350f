"""Tests of the benchmark's own pure logic. Run from the repository root:

    python3 -m unittest discover -s perfbench/tests
"""
import os
import statistics
import sys
import tempfile
import unittest

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import checks  # noqa: E402
import fixtures  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


class OracleTest(unittest.TestCase):
    def test_selection_hash_matches_the_sql_formula(self):
        h = fixtures.selection_hash(np.array([1, 5, 400001]), np.array([1, 7, 3]),
                                    np.array([10, 20000, 3]), 1234567)
        want = [(ok * 7919 + ln * 104729 + pk * 31 + 1234567 % 1000003) % 1000
                for ok, ln, pk in ((1, 1, 10), (5, 7, 20000), (400001, 3, 3))]
        self.assertEqual(h.tolist(), want)
        self.assertIn(f"+ {1234567 % 1000003}, 1000)", fixtures.lineitem_models(1234567)[1])

    def test_lineitem_expected_counts_each_band(self):
        h = np.array([0, 9, 10, 29, 30, 34, 35, 999])
        self.assertEqual(fixtures.lineitem_expected(h),
                         {"base": 8, "head": 8 - 2 + 2, "added": 2, "removed": 2, "changed": 2})

    def test_lineitem_keys_are_unique_and_bands_near_their_shares(self):
        cols = fixtures.lineitem_columns(seed=3, n_rows=20000)
        keys = set(zip(cols["l_orderkey"].tolist(), cols["l_linenumber"].tolist()))
        self.assertEqual(len(keys), 20000)
        self.assertTrue(all(1 <= v <= 7 for v in cols["l_linenumber"].tolist()))
        exp = fixtures.lineitem_expected(fixtures.selection_hash(
            cols["l_orderkey"], cols["l_linenumber"].astype(np.int64), cols["l_partkey"], 3))
        self.assertAlmostEqual(exp["removed"] / 20000, 0.01, delta=0.004)
        self.assertAlmostEqual(exp["changed"] / 20000, 0.02, delta=0.005)
        self.assertAlmostEqual(exp["added"] / 20000, 0.005, delta=0.003)

    def test_generators_are_deterministic_in_the_seed(self):
        a = fixtures.lineitem_columns(11, 500)
        b = fixtures.lineitem_columns(11, 500)
        c = fixtures.lineitem_columns(12, 500)
        self.assertTrue(all((a[k] == b[k]).all() for k in a))
        self.assertFalse((a["l_partkey"] == c["l_partkey"]).all())
        self.assertEqual(fixtures.corpus_texts(5, 3, 4), fixtures.corpus_texts(5, 3, 4))


class StatsTest(unittest.TestCase):
    def test_median_and_quartiles_match_statistics(self):
        vals = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0, 7.0, 6.0, 8.0, 10.0]
        self.assertEqual(stats.median(vals), 5.5)
        q = statistics.quantiles(vals, n=4)
        self.assertEqual(stats.quartiles(vals), (q[0], q[2]))
        self.assertEqual(stats.quartiles(vals), (2.75, 8.25))
        self.assertAlmostEqual(stats.spread(vals), (8.25 - 2.75) / 5.5)

    def test_union_length_counts_overlaps_once_and_clips(self):
        self.assertEqual(stats.union_length([]), 0.0)
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(stats.union_length([(0, 10), (2, 3)]), 10)
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6)], 1.5, 5.5), 2.0)
        self.assertEqual(stats.union_length([(0, 1)], 2, 3), 0.0)

    def test_self_time_with_overlapping_children(self):
        spans = [
            {"id": 0, "name": "root", "parent": -1, "start": 0.0, "end": 10.0},
            {"id": 1, "name": "a", "parent": 0, "start": 1.0, "end": 4.0},
            {"id": 2, "name": "b", "parent": 0, "start": 3.0, "end": 6.0},  # overlaps a
            {"id": 3, "name": "c", "parent": 1, "start": 2.0, "end": 3.0},
            {"id": 4, "name": "d", "parent": 0, "start": 9.0, "end": 12.0},  # overruns root
        ]
        st = stats.self_times(spans)
        self.assertEqual(st[0], 10.0 - 5.0 - 1.0)
        self.assertEqual(st[1], 2.0)
        self.assertEqual(st[2], 3.0)
        self.assertEqual(st[3], 1.0)
        self.assertEqual(st[4], 3.0)

    def test_driver_time_excludes_job_cover(self):
        span = {"start": 10.0, "end": 20.0}
        jobs = [{"start": 8.0, "end": 11.0}, {"start": 12.0, "end": 14.0},
                {"start": 13.0, "end": 15.0}, {"start": 30.0, "end": 31.0}]
        self.assertEqual(stats.driver_time(span, jobs), 10.0 - 1.0 - 3.0)

    def test_layer_metrics_sum_sides_and_read_groups(self):
        mb = stats.MB
        trace = {
            "ready": 0.0, "output": 10.0,
            "spans": [
                {"id": 1, "name": "modelrun", "parent": -1, "start": 0.0, "end": 2.0,
                 "counts": {"models": 3}},
                {"id": 2, "name": "modelrun", "parent": -1, "start": 3.0, "end": 4.0,
                 "counts": {"models": 3}},
                {"id": 3, "name": "engine.diff", "parent": -1, "start": 4.0, "end": 9.0,
                 "counts": {}},
            ],
            "jobs": [{"id": 0, "group": "modelrun", "start": 1.0, "end": 1.5},
                     {"id": 1, "group": "engine.diff", "start": 5.0, "end": 8.0}],
            "groups": {
                "modelrun": {"jobs": 1, "stages": 1, "tasks": 4, "executor_run_s": 1.0,
                             "executor_cpu_s": 0.5, "gc_s": 0.0, "input_bytes": mb,
                             "input_rows": 10, "shuffle_write_bytes": 0, "spill_bytes": 0,
                             "output_bytes": 0, "pinned_peak_bytes": 0},
                "engine.diff": {"jobs": 1, "stages": 2, "tasks": 6, "executor_run_s": 2.0,
                                "executor_cpu_s": 1.5, "gc_s": 0.1, "input_bytes": 0,
                                "input_rows": 20, "shuffle_write_bytes": 2 * mb,
                                "spill_bytes": 0, "output_bytes": 0,
                                "pinned_peak_bytes": 3 * mb}},
            "pinned_peak_bytes": 3 * mb, "pinned_end_blocks": 2,
        }
        m = stats.layer_metrics(trace)
        self.assertEqual(m["modelrun.build_s"], 3.0)
        self.assertEqual(m["modelrun.driver_s"], 2.5)
        self.assertEqual(m["modelrun.models"], 6)
        self.assertEqual(m["engine.diff_driver_s"], 2.0)
        self.assertEqual(m["engine.diff_shuffle_write_mb"], 2.0)
        self.assertEqual(m["engine.diff_pinned_mb"], 3.0)
        self.assertEqual(m["operators.neardup_s"], 0)
        self.assertEqual((m["spark.jobs"], m["spark.stages"], m["spark.tasks"]), (2, 3, 10))
        self.assertEqual(m["spark.input_mb"], 1.0)
        self.assertEqual(m["spark.pinned_end_blocks"], 2)
        self.assertEqual(m["trace.wall_s"], 10.0)
        self.assertEqual(m["trace.unattributed_s"], 2.0)


class CheckTest(unittest.TestCase):
    def test_check_diff(self):
        exp = {"base": 3, "head": 4, "added": 1, "removed": 0, "changed": 0}
        good = ('{"rowcounts": {"base": 3, "head": 4}, '
                '"row_diff": {"added": 1, "removed": 0, "changed": 0}}')
        self.assertEqual(checks.check_diff(good, exp), [])
        self.assertEqual(len(checks.check_diff(good.replace('"added": 1', '"added": 2'), exp)), 1)
        self.assertEqual(len(checks.check_diff(
            good.replace('"changed": 0}', '"changed": 0, "keys_not_unique": true}'), exp)), 1)
        self.assertEqual(len(checks.check_diff("not json", exp)), 1)

    def test_check_curate_invariants_and_pins(self):
        with tempfile.TemporaryDirectory() as d:
            with open(os.path.join(d, "part-00000.json"), "w") as f:
                f.write('{"doc_id": 1, "clean_text": "a b"}\n{"doc_id": 4, "clean_text": "c d"}\n')
            summary = ('{"in_docs": 5, "kept_docs": 2, "bins": 1, '
                       '"near_dup_path": "minhash_lsh", "near_dup_removed": 3}')
            pins = {"9": {"in_docs": 5, "kept_docs": 2, "bins": 1,
                          "near_dup_path": "minhash_lsh", "near_dup_removed": 3}}
            ids = np.arange(5)
            self.assertEqual(checks.check_curate(summary, d, ids, {"in_docs": 5}, 9, pins), [])
            self.assertEqual(checks.check_curate(summary, d, ids, {"in_docs": 5}, 8, pins), [])
            self.assertEqual(len(checks.check_curate(
                summary.replace('"kept_docs": 2', '"kept_docs": 3'), d, ids, {"in_docs": 5},
                8, pins)), 1)
            self.assertEqual(len(checks.check_curate(summary, d, np.arange(3), {"in_docs": 5},
                                                     8, pins)), 1)
            pins["9"]["bins"] = 2
            self.assertEqual(len(checks.check_curate(summary, d, ids, {"in_docs": 5}, 9,
                                                     pins)), 1)
            with open(os.path.join(d, "part-00001.json"), "w") as f:
                f.write('{"doc_id": 1, "clean_text": "a b"}\n')
            self.assertEqual(len(checks.check_curate(
                summary.replace('"kept_docs": 2', '"kept_docs": 3'), d, ids, {"in_docs": 5},
                8, pins)), 2)



class SetupSamplesTest(unittest.TestCase):
    def test_probes_fill_the_missing_samples_only(self):
        calls = []

        def probe():
            calls.append(1)
            return {"kind": "probe", "ok": True, "setup_s": 5.0, "problems": []}
        good = {"kind": "invocation", "ok": True, "setup_s": 4.0}
        setups, probes = run.setup_samples([good], probe, 3)
        self.assertEqual(setups, [4.0, 5.0, 5.0])
        self.assertEqual(len(probes), 2)
        self.assertEqual(run.setup_samples([good] * 4, probe, 3)[0], [4.0] * 4)
        self.assertEqual(len(calls), 2)

    def test_failing_probes_end_the_run_as_failures(self):
        calls = []

        def probe():
            calls.append(1)
            return {"kind": "probe", "ok": False, "problems": ["set-up probe failed"]}
        failed = {"kind": "invocation", "ok": False}
        setups, probes = run.setup_samples([failed], probe, 3)
        self.assertEqual(setups, [])
        self.assertEqual(len(calls), 3)
        self.assertFalse(any(p["ok"] for p in probes))


if __name__ == "__main__":
    unittest.main()
