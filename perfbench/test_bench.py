"""Tests for the benchmark's own logic.

Run from the root of a checkout: python3 -m unittest discover -s perfbench
"""
import datetime as dt
import decimal
import json
import os
import unittest

import fingerprint as fpm
import gen
import run
import stats

HERE = os.path.dirname(os.path.abspath(__file__))


class FingerprintTest(unittest.TestCase):
    def fp(self, rows, cols=("a", "b")):
        return fpm.fingerprint(list(cols), rows)

    def test_row_order_does_not_matter(self):
        rows = [(1, "x"), (2, "y"), (3, None)]
        self.assertEqual(self.fp(rows), self.fp(list(reversed(rows))))

    def test_column_order_does_not_matter(self):
        self.assertEqual(fpm.fingerprint(["a", "b"], [(1, "x")]),
                         fpm.fingerprint(["b", "a"], [("x", 1)]))

    def test_column_names_matter(self):
        self.assertNotEqual(fpm.fingerprint(["a"], [(1,)]),
                            fpm.fingerprint(["c"], [(1,)]))

    def test_duplicate_rows_count(self):
        self.assertNotEqual(self.fp([(1, "x")]), self.fp([(1, "x"), (1, "x")]))

    def test_floats_round_to_nine_decimals(self):
        self.assertEqual(fpm.norm(0.1 + 0.2), fpm.norm(0.3))
        self.assertEqual(fpm.norm(1.0000000001), fpm.norm(1.0))
        self.assertNotEqual(fpm.norm(1.000000002), fpm.norm(1.0))
        self.assertEqual(fpm.norm(2.5e-10), fpm.norm(0.0))
        self.assertEqual(fpm.norm(-0.0), fpm.norm(0.0))
        self.assertEqual(fpm.norm(1.5), "f1500000000")
        self.assertEqual(fpm.norm(-1.5), "f-1500000000")

    def test_null_nan_and_infinities_are_distinct(self):
        vals = [None, float("nan"), float("inf"), float("-inf"), 0.0]
        self.assertEqual(len({fpm.norm(v) for v in vals}), len(vals))
        self.assertEqual(fpm.norm(float("nan")), fpm.norm(float("nan")))
        self.assertNotEqual(self.fp([(None, "x")]),
                            self.fp([(float("nan"), "x")]))

    def test_types_stay_distinct(self):
        self.assertEqual(len({fpm.norm(1), fpm.norm(1.0), fpm.norm(True),
                              fpm.norm("1"),
                              fpm.norm(decimal.Decimal("1"))}), 5)

    def test_decimal_scale_does_not_matter(self):
        D = decimal.Decimal
        self.assertEqual(fpm.norm(D("5.000")), fpm.norm(D("5")))
        self.assertEqual(fpm.norm(D("0.000")), fpm.norm(D("-0")))
        self.assertEqual(fpm.norm(D("1E+3")), "d1000")
        self.assertEqual(fpm.norm(D("1E-7")), "d0.0000001")

    def test_temporal_values(self):
        self.assertEqual(fpm.norm(dt.datetime(1970, 1, 1, 0, 0, 1)), "t1000000")
        aware = dt.datetime(1970, 1, 1, 1, tzinfo=dt.timezone(
            dt.timedelta(hours=1)))
        self.assertEqual(fpm.norm(aware), "t0")
        self.assertEqual(fpm.norm(dt.date(1970, 1, 2)), "D1")

    def test_nested_values(self):
        self.assertEqual(fpm.norm([1, None]), "[i1\x1eN]")
        self.assertEqual(fpm.norm({"k": 1.0}), "{k=f1000000000}")


class PercentileTest(unittest.TestCase):
    def test_ten_samples_beyond(self):
        self.assertTrue(stats.reportable(100, 90))
        self.assertFalse(stats.reportable(99, 90))
        self.assertTrue(stats.reportable(20, 50))
        self.assertFalse(stats.reportable(19, 50))
        self.assertEqual(stats.beyond(100, 90), 10)

    def test_gmean_of_medians(self):
        # medians 2 and 8: geometric mean 4, whatever the group sizes
        self.assertAlmostEqual(
            stats.gmean_of_medians([[1.0, 2.0, 3.0], [8.0, 8.0]]), 4.0)
        # one query's median moving moves the figure
        self.assertGreater(stats.gmean_of_medians([[1.0, 2.0, 3.0], [9.0]]),
                           4.0)
        with self.assertRaises(ValueError):
            stats.gmean_of_medians([])

    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.nearest_rank(xs, 50), 50)
        self.assertEqual(stats.nearest_rank(xs, 90), 90)
        self.assertEqual(stats.nearest_rank(list(reversed(xs)), 90), 90)
        self.assertEqual(stats.nearest_rank([3.0], 50), 3.0)
        with self.assertRaises(ValueError):
            stats.nearest_rank([], 50)


def span(i, parent, start, end):
    return {"id": i, "parent": parent, "start": start, "end": end}


class SelfTimeTest(unittest.TestCase):
    def test_leaf_self_time_is_its_duration(self):
        self.assertEqual(stats.self_times([span(0, None, 1.0, 3.5)]), {0: 2.5})

    def test_disjoint_children(self):
        st = stats.self_times([span(0, None, 0, 10), span(1, 0, 1, 3),
                               span(2, 0, 5, 6)])
        self.assertEqual(st, {0: 7, 1: 2, 2: 1})

    def test_overlapping_children_count_once(self):
        st = stats.self_times([span(0, None, 0, 10), span(1, 0, 1, 5),
                               span(2, 0, 3, 7), span(3, 0, 6, 8)])
        self.assertEqual(st[0], 10 - 7)

    def test_child_outside_parent_is_clipped(self):
        st = stats.self_times([span(0, None, 2, 6), span(1, 0, 0, 3),
                               span(2, 0, 5, 9)])
        self.assertEqual(st[0], 4 - 2)

    def test_grandchildren_do_not_reduce_grandparent_twice(self):
        st = stats.self_times([span(0, None, 0, 10), span(1, 0, 2, 8),
                               span(2, 1, 3, 4)])
        self.assertEqual(st, {0: 4, 1: 5, 2: 1})


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_tables_other_seed_same_shape(self):
        a, b, c = gen.tables(1, 0.001), gen.tables(1, 0.001), gen.tables(2, 0.001)
        for name in a:
            self.assertTrue(a[name].equals(b[name]), name)
            self.assertEqual(a[name].schema, c[name].schema, name)
            self.assertEqual(a[name].num_rows, c[name].num_rows, name)
        self.assertFalse(a["lineitem"].equals(c["lineitem"]))

        def fanout(t):  # line items per order, as a sorted histogram
            keys = t["lineitem"].column("l_orderkey").to_pylist()
            counts = {}
            for k in keys:
                counts[k] = counts.get(k, 0) + 1
            return sorted(counts.values())
        self.assertEqual(fanout(a), fanout(c))


    def test_replay_is_every_document_in_ts_order(self):
        docs = gen.tables(3, 0.001)["documents"]
        parts = gen.replay_parts(docs)
        self.assertEqual(len(parts), gen.REPLAY_FILES)
        ids = [i for p in parts for i in p.column("doc_id").to_pylist()]
        self.assertEqual(sorted(ids), sorted(docs.column("doc_id").to_pylist()))
        ts = [t for p in parts for t in p.column("ts").to_pylist()]
        self.assertEqual(ts, sorted(ts))
        # the whole replay lies inside the dedup operator's 1 h watermark
        self.assertLess((ts[-1] - ts[0]).total_seconds(), 3600)


class TraceOverheadTest(unittest.TestCase):
    def test_on_minus_off_cancels_a_linear_trend(self):
        # a slow first warm pass, then on, off, off, on passes on a trend
        # of +1 s a pass; tracing costs 0.5 s
        passes = [{"pass": 1, "traced": True, "wall_s": 30.0}] + [
            {"pass": p, "traced": on, "wall_s": 10.0 + p + 0.5 * on}
            for p, on in zip(range(2, 6), (True, False, False, True))]
        self.assertAlmostEqual(run.trace_overhead(passes), 0.5)


class BenchmarkFileTest(unittest.TestCase):
    def test_metrics_match_run_py(self):
        with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
            b = json.load(f)
        self.assertEqual([(m["name"], m["unit"]) for m in b["end_to_end"]],
                         run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in b["per_layer"]],
                         run.PER_LAYER)
        self.assertEqual(sorted(w["name"] for w in b["workloads"]),
                         sorted(run.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
