"""Tests of the benchmark's own pieces: the seeded generator and the
trace arithmetic. Run: python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import filecmp
import os
import tempfile
import unittest

import analyze
import gen


def tree(d):
    return sorted(os.path.relpath(os.path.join(r, f), d)
                  for r, _, fs in os.walk(d) for f in fs)


class GeneratorTest(unittest.TestCase):
    def test_same_seed_gives_byte_identical_inputs(self):
        for w in gen.WORKLOADS:
            with self.subTest(workload=w), tempfile.TemporaryDirectory() as a, \
                    tempfile.TemporaryDirectory() as b:
                gen.generate(w, 7, a)
                gen.generate(w, 7, b)
                files = tree(a)
                self.assertTrue(files)
                self.assertEqual(files, tree(b))
                _, mismatch, errors = filecmp.cmpfiles(a, b, files, shallow=False)
                self.assertEqual((mismatch, errors), ([], []))

    def test_other_seed_gives_other_inputs(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            gen.generate("fleet_calibrate", 7, a)
            gen.generate("fleet_calibrate", 8, b)
            self.assertFalse(filecmp.cmp(os.path.join(a, "px.npy"),
                                         os.path.join(b, "px.npy"), shallow=False))

    def test_fleet_plants_rejects_and_stratified_cluster_counts(self):
        import json
        with tempfile.TemporaryDirectory() as d:
            gen.generate("fleet_calibrate", 3, d)
            with open(os.path.join(d, "truth.json")) as fh:
                sessions = json.load(fh)["sessions"]
        rejected = [s for s in sessions if s["rejected"]]
        kept = sorted(s["clusters"] for s in sessions if not s["rejected"])
        self.assertEqual(len(rejected), round(gen.FLEET_SESSIONS * gen.FLEET_REJECT_SHARE))
        self.assertTrue(all(s["clusters"] < 4 for s in rejected))
        self.assertTrue(16 <= kept[0] and kept[-1] <= 49)

    def test_binocular_counts_pair_every_interleaved_row(self):
        # eye0 at 0, 1, 2 …; eye1 half a frame later: after the first row
        # every row closes one pair; a low-confidence row maps alone
        rows = sorted([(i / 120.0, 0, 0.9) for i in range(10)]
                      + [(i / 120.0 + 1 / 240.0, 1, 0.9) for i in range(10)])
        self.assertEqual(gen.binocular_counts(rows), (19, 0))
        rows[4] = (rows[4][0], rows[4][1], 0.3)
        bino, mono = gen.binocular_counts(rows)
        self.assertEqual(mono, 1)


class TraceArithmeticTest(unittest.TestCase):
    @staticmethod
    def span(i, start, end, parent=-1, name="model.x"):
        return {"id": i, "name": name, "parent": parent, "iteration": 1,
                "pass": "main", "startMs": start, "endMs": end, "attrs": {}}

    def test_union_length_merges_overlaps(self):
        self.assertEqual(analyze.union_length([(0, 10), (5, 20), (30, 40)]), 30)
        self.assertEqual(analyze.union_length([(0, 10), (2, 3)]), 10)
        self.assertEqual(analyze.union_length([]), 0)

    def test_self_time_subtracts_covered_child_interval(self):
        spans = [self.span(0, 0, 100),
                 self.span(1, 10, 30, parent=0), self.span(2, 20, 50, parent=0),
                 self.span(3, 90, 120, parent=0),   # runs past its parent
                 self.span(4, 12, 18, parent=1)]    # grandchild
        s = analyze.self_times(spans)
        # children cover [10, 50] and [90, 100] of the parent: 50 ms
        self.assertEqual(s[0], 50)
        self.assertEqual(s[1], 20 - 6)
        self.assertEqual(s[2], 30)
        self.assertEqual(s[4], 6)

    def test_innermost_span_holds_a_task(self):
        spans = [self.span(0, 0, 100), self.span(1, 10, 30, parent=0)]
        self.assertEqual(analyze.innermost(spans, 20)["id"], 1)
        self.assertEqual(analyze.innermost(spans, 50)["id"], 0)
        self.assertIsNone(analyze.innermost(spans, 150))

    def test_stage_time_runs_from_previous_write(self):
        run = self.span(0, 1000, 2000, name="pipeline.run")
        writes = [["markers_filtered", 1300], ["markers_cal", 1400], ["other", 1500],
                  ["gaze", 1900]]
        t = analyze.stage_times([run], writes, n_it=1)
        self.assertAlmostEqual(t["pipeline.stage_s.markers_filtered"], 0.3)
        self.assertAlmostEqual(t["pipeline.stage_s.markers_cal"], 0.1)
        self.assertAlmostEqual(t["pipeline.stage_s.gaze"], 0.4)

    def test_every_per_layer_metric_is_reported(self):
        out = analyze.per_layer({"spans": [], "tasks": [], "iterations": []})
        self.assertEqual(set(out), set(analyze.PER_LAYER))


if __name__ == "__main__":
    unittest.main()
