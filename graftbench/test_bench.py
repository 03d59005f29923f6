"""The benchmark's own tests: metric arithmetic, and that a seed fixes
the inputs and the ingest cycle's compaction rounds.

    python3 -m unittest discover -s graftbench -p 'test_*.py'
"""

import json
import subprocess
import unittest

import build
import metrics


def span(id, name, start, end, parent=-1, counts=(0, 0, 0, 0, 0), op="c0"):
    return {"id": id, "name": name, "op": op, "parent": parent,
            "start_ns": start, "end_ns": end, "counts": list(counts)}


class Arithmetic(unittest.TestCase):

    def test_percentile_interpolates_between_ranks(self):
        xs = [4.0, 1.0, 3.0, 2.0]
        self.assertEqual(metrics.percentile(xs, 0), 1.0)
        self.assertEqual(metrics.percentile(xs, 100), 4.0)
        self.assertEqual(metrics.median(xs), 2.5)
        self.assertAlmostEqual(metrics.percentile(xs, 90), 3.7)
        self.assertEqual(metrics.median([7.0]), 7.0)
        with self.assertRaises(ValueError):
            metrics.percentile([], 50)

    def test_median_of_delta_rounds_sits_in_the_append_mode(self):
        # two cycles of append, append, compaction: the median is between
        # two appends, not at the edge between the two modes
        self.assertEqual(
            metrics.median([1100, 1150, 4300, 1000, 1200, 4400]), 1175)

    def test_per_second(self):
        self.assertEqual(metrics.per_second(3000, 1500.0), 2000.0)
        with self.assertRaises(ValueError):
            metrics.per_second(10, 0)

    def test_self_time_subtracts_direct_children_only(self):
        spans = [
            span(0, "ingest.round", 0, 100, counts=(5, 50, 9, 4, 0)),
            span(1, "streaming.publish", 10, 70, 0, (4, 40, 8, 4, 0)),
            span(2, "sinks.merge", 30, 60, 1, (3, 30, 6, 4, 0)),
            span(3, "api.read", 75, 95, 0, (1, 10, 1, 0, 0)),
        ]
        selfs = metrics.self_times(spans)
        self.assertEqual(selfs[0], (20, [0, 0, 0, 0, 0]))
        self.assertEqual(selfs[1], (30, [1, 10, 2, 0, 0]))
        self.assertEqual(selfs[2], (30, [3, 30, 6, 4, 0]))
        # self times of every span add back up to the op's wall
        self.assertEqual(sum(s[0] for s in selfs.values()), 100)

    def test_end_to_end_ingest(self):
        # the backfill is set-up: its events and time count nowhere else
        raw = {"workload": "ingest_serve", "setup_s": [3.0, 1.0],
               "stage": {"events": [600, 500, 500], "cycles": [
                   {"publish_ms": [100.0, 200.0],
                    "point_ms": [[5.0, 7.0, 9.0], [1.0, 2.0, 3.0]]},
                   {"publish_ms": [300.0, 400.0],
                    "point_ms": [[4.0, 6.0, 8.0], [4.0, 6.0, 8.0]]}]}}
        e = metrics.end_to_end(raw)
        self.assertEqual(e["setup_s"], 2.0)
        self.assertEqual(e["items_per_s"], 2000 * 1000.0 / 1000.0)
        self.assertEqual(e["produce_ms_p50"], 250.0)
        self.assertEqual(e["query_ms"], 63 / 12)

    def test_end_to_end_clean(self):
        raw = {"workload": "corpus_clean", "setup_s": [12.5],
               "stage": {"docs": 1500, "clean_ms": [3000.0, 2000.0, 2500.0],
                         "clusters_ms": [900.0, 1100.0, 1000.0]}}
        e = metrics.end_to_end(raw)
        self.assertEqual(e["setup_s"], 12.5)
        self.assertEqual(e["items_per_s"], 4500 * 1000.0 / 7500.0)
        self.assertEqual(e["produce_ms_p50"], 2500.0)
        self.assertEqual(e["query_ms"], 1000.0)

    def test_per_layer_off_path_layers_read_zero(self):
        raw = {"workload": "ingest_serve", "cores": 4,
               "jvm": {"gc_ms": 12, "heap_peak_mb": 300.0},
               "stage": {"cycles": [{"compacted": [False, True],
                                     "bytes_written": [10, 30],
                                     "bytes_live": 40,
                                     "pending_at_read": [1, 0]}],
                         "bulk": {"events": 100, "extracted": 99,
                                  "transformed": 198}},
               "spans": [span(0, "ingest.round", 0, 1000),
                         span(1, "streaming.publish", 0, 400, 0, (2, 8, 800, 0, 0)),
                         span(2, "api.read", 400, 900, 0),
                         span(3, "batch.rep", 2000, 2500, op="bulk"),
                         span(4, "core.extract", 2000, 2400, 3, op="bulk")]}
        p = metrics.per_layer(raw)
        self.assertEqual(set(p), set(metrics.LAYERS))
        self.assertEqual(p["pipeline.clusters_ms"], 0.0)
        self.assertAlmostEqual(p["core.extract_ms"], 400 / 1e6)
        self.assertAlmostEqual(p["core.extract_kept_ratio"], 0.99)
        self.assertAlmostEqual(p["core.transform_fanout"], 2.0)
        self.assertEqual(p["sinks.compactions"], 1)
        self.assertEqual(p["sinks.pending_deltas_at_read"], 0.5)
        self.assertEqual(p["streaming.publish.jobs"], 2)
        # 800 ns of task time over 400 ns of wall on 4 cores
        self.assertAlmostEqual(p["streaming.publish.busy_ratio"], 0.5)
        # the round's own 100 ns outside its two child spans
        self.assertAlmostEqual(p["bench.untraced_ms"], 100 / 1e6)
        self.assertAlmostEqual(p["bench.traced_share"], 0.9)


class Determinism(unittest.TestCase):

    def digests(self, seed):
        cp = build.classpath()
        out = subprocess.run([build.java(), "-XX:-UsePerfData", "-cp", cp,
                              "graftbench.InputDigest", str(seed)],
                             capture_output=True, text=True, check=True)
        return json.loads(out.stdout)

    def test_a_seed_fixes_inputs_and_compaction_rounds(self):
        a, b = self.digests(7), self.digests(7)
        self.assertEqual(a, b)
        # the held-out seed too: the sizes put the compaction on the third
        # append of a measured cycle and on the second of the warm-up one
        for seed, d in ((7, a), (8, self.digests(8)), (1009, self.digests(1009))):
            self.assertEqual(d["compact_rounds"], [3], seed)
            self.assertEqual(d["warm_compact_rounds"], [2], seed)
            if seed != 7:
                self.assertNotEqual(a["rounds"], d["rounds"])
                self.assertNotEqual(a["docs"], d["docs"])


if __name__ == "__main__":
    unittest.main()
