"""Tests for the benchmark's own arithmetic (no Spark needed):

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import metrics


def span(i, t0, t1, parent=-1, name="s", **kw):
    return dict(id=i, parent=parent, name=name, t0=t0, t1=t1, **kw)


class PercentileRule(unittest.TestCase):
    def test_nearest_rank(self):
        vals = list(range(1, 101))  # 1..100
        self.assertEqual(metrics.pct(vals, 50), 50)
        self.assertEqual(metrics.pct(vals, 90), 90)
        self.assertEqual(metrics.pct([7], 90), 7)
        self.assertEqual(metrics.pct([3, 1, 2], 50), 2)

    def test_ten_samples_beyond(self):
        self.assertEqual(metrics.beyond(100, 90), 10)
        self.assertEqual(metrics.tail_pct(100), 90)
        # one read short of p90: ten samples no longer lie beyond it
        self.assertEqual(metrics.beyond(99, 90), 9)
        self.assertEqual(metrics.tail_pct(99), 75)
        self.assertEqual(metrics.tail_pct(40), 75)
        self.assertEqual(metrics.tail_pct(20), 50)
        self.assertIsNone(metrics.tail_pct(19))
        self.assertEqual(metrics.tail_pct(1000), 99)

    def test_reads_report_only_supported_percentiles(self):
        rd = {"point_read_ms": [float(x) for x in range(1, 101)], "range_read_s": [1.0, 3.0, 2.0],
              "changes_since_s": [4.0], "scan_s": [2.0], "scan_rows": 10, "compact_s": 1.5}
        r = metrics.reads_metrics(rd)
        self.assertEqual(r["point_read_ms_p50"], 50.0)
        self.assertEqual(r["point_read_ms_p90"], 90.0)
        self.assertEqual(r["range_read_s_p50"], 2.0)
        self.assertEqual(r["scan_rows_per_s"], 5.0)
        rd["point_read_ms"] = rd["point_read_ms"][:99]
        self.assertNotIn("point_read_ms_p90", metrics.reads_metrics(rd))


class SelfTime(unittest.TestCase):
    def test_children_overlap_and_overhang(self):
        parent = span(0, 0.0, 100.0)
        kids = [span(1, 10.0, 30.0), span(2, 20.0, 40.0), span(3, 90.0, 120.0)]
        # covered: [10, 40] = 30 plus [90, 100] = 10
        self.assertAlmostEqual(metrics.self_time(parent, kids), 60.0)

    def test_no_children_and_full_cover(self):
        parent = span(0, 5.0, 15.0)
        self.assertAlmostEqual(metrics.self_time(parent, []), 10.0)
        self.assertAlmostEqual(metrics.self_time(parent, [span(1, 0.0, 20.0)]), 0.0)

    def test_disjoint_child_outside(self):
        self.assertAlmostEqual(metrics.self_time(span(0, 0.0, 10.0), [span(1, 20.0, 30.0)]), 10.0)


class Attribution(unittest.TestCase):
    spans = [span(0, 0.0, 1000.0, name="round"),
             span(1, 100.0, 400.0, parent=0, name="epoch"),
             span(2, 500.0, 900.0, parent=0, name="epoch")]

    def test_innermost_containing_span(self):
        acts = [dict(t0=150.0, t1=300.0), dict(t0=350.0, t1=550.0), dict(t0=600.0, t1=900.0),
                dict(t0=1200.0, t1=1300.0)]
        self.assertEqual(metrics.attribute(acts, self.spans), [1, 0, 2, None])

    def test_millisecond_tolerance(self):
        # Spark stamps events in whole milliseconds
        self.assertEqual(metrics.attribute([dict(t0=99.0, t1=401.0)], self.spans), [1])
        self.assertEqual(metrics.attribute([dict(t0=97.0, t1=300.0)], self.spans), [0])

    def test_action_kinds(self):
        self.assertEqual(metrics.action_kind({"func": "collect", "path": ""}), "collect")
        self.assertEqual(metrics.action_kind(
            {"func": "command", "path": "file:/t/table/data/c1-ab"}), "merge_write")
        for ch in ("_metrics", "_qc", "_lineage"):
            self.assertEqual(metrics.action_kind(
                {"func": "command", "path": "file:/t/table/%s/w-1/e0" % ch}), "channel")
        self.assertEqual(metrics.action_kind({"func": "command", "path": "file:/x/y"}),
                         "other_write")


class Ratios(unittest.TestCase):
    def test_scaling_eff(self):
        self.assertAlmostEqual(metrics.scaling_eff(200.0, 50.0, 4), 1.0)
        self.assertAlmostEqual(metrics.scaling_eff(100.0, 50.0, 4), 0.5)
        self.assertEqual(metrics.scaling_eff(100.0, 0.0, 4), 0.0)

    def test_write_amp(self):
        self.assertAlmostEqual(metrics.write_amp(30, 10), 3.0)
        self.assertEqual(metrics.write_amp(30, 0), 0.0)

    def test_throughput_is_events_over_summed_wall(self):
        ep = [dict(events=100, wall_s=1.0), dict(events=300, wall_s=3.0)]
        self.assertAlmostEqual(metrics.throughput(ep), 100.0)


class EndToEnd(unittest.TestCase):
    def record(self):
        return {
            "jvm_start_ms": 0.0, "attempted": 10, "failed": 0,
            "spans": [span(0, 500.0, 60000.0, name="workload"),
                      span(1, 500.0, 3000.0, parent=0, name="setup.session"),
                      span(2, 3000.0, 5000.0, parent=0, name="setup.gen"),
                      span(3, 5000.0, 9000.0, parent=0, name="setup.warm")],
            "rounds": [{"traced": False, "epochs": [dict(events=100, wall_s=1.0),
                                                    dict(events=100, wall_s=3.0)]},
                       {"traced": True, "epochs": [dict(events=100, wall_s=9.0)]}],
            "table": {"data_bytes": 50, "input_bytes": 25},
        }

    def test_untraced_rounds_only(self):
        m = metrics.end_to_end(self.record())
        self.assertAlmostEqual(m["events_per_s"], 50.0)
        self.assertAlmostEqual(m["epoch_s_p50"], 2.0)
        self.assertAlmostEqual(m["write_amp"], 2.0)
        # session counts from JVM start: 3 s + 2 s gen + 4 s warm-up
        self.assertAlmostEqual(m["setup_s"], 9.0)

    def test_error_rate_counts_every_jvm(self):
        one = self.record()
        one["failed"] = 5
        self.assertAlmostEqual(metrics.error_rate([self.record(), one]), 0.25)
        self.assertEqual(metrics.error_rate([self.record()]), 0.0)


class EpochLayers(unittest.TestCase):
    def test_trigger_split(self):
        spans = [span(0, 0.0, 5000.0, name="round", traced=True),
                 span(1, 0.0, 4000.0, parent=0, name="CdcStream.runAvailable"),
                 span(2, 1000.0, 3000.0, parent=1, name="CdcStream.trigger",
                      duration_ms={"addBatch": 1800, "latestOffset": 50, "walCommit": 30})]
        act = lambda ex, root, func, t0, t1, path="": dict(
            exec=ex, root=root, func=func, t0=t0, t1=t1, path=path)
        rec = {"spans": spans, "stages": [
            dict(exec=11, shuffle_write_bytes=500, spill_bytes=0, output_bytes=0,
                 task_ms_max=10, task_ms_median=10),
            dict(exec=11, shuffle_write_bytes=0, spill_bytes=7, output_bytes=900,
                 task_ms_max=30, task_ms_median=10)],
            "actions": [
                # the micro-batch execution enclosing the foreachBatch body
                act(9, 9, "?", 1100.0, 2900.0),
                act(10, 9, "collect", 1200.0, 1400.0),
                act(11, 9, "command", 1500.0, 2200.0, "file:/r/t/data/c1-x"),
                act(12, 9, "command", 2300.0, 2400.0, "file:/r/t/_metrics/w/e0"),
                act(13, 9, "command", 2400.0, 2500.0, "file:/r/t/_lineage/w/e0")]}
        (e,) = metrics.Trace(rec).epoch_layers()
        self.assertAlmostEqual(e["wall_s"], 2.0)
        self.assertAlmostEqual(e["head_agg_s"], 0.2)
        self.assertAlmostEqual(e["merge_write_s"], 0.7)
        self.assertAlmostEqual(e["channels_s"], 0.2)
        # 2.0 s trigger minus 1.1 s of (non-enclosing) actions
        self.assertAlmostEqual(e["driver_s"], 0.9)
        self.assertAlmostEqual(e["apply_s"], 1.6)
        self.assertAlmostEqual(e["offset_s"], 0.08)
        self.assertEqual(e["shuffle_bytes"], 500)
        self.assertEqual(e["spill_bytes"], 7)
        self.assertAlmostEqual(e["task_skew"], 3.0)


if __name__ == "__main__":
    unittest.main()
