"""Tests of the benchmark's generators, checks and metric arithmetic.

Run from the repository root:
    python3 -m unittest discover -s tembench/tests
"""
import collections
import csv
import datetime as dt
import os
import sys
import tempfile
import unittest

import numpy as np

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import checks  # noqa: E402
import gen  # noqa: E402
import report  # noqa: E402


def shingles(text):
    toks = text.split(" ")
    return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}


def near_dup_pairs(texts, threshold=0.5):
    sets = [shingles(t) for t in texts]
    return {(a, b) for a in range(len(sets)) for b in range(a + 1, len(sets))
            if sets[a] and sets[b] and len(sets[a] & sets[b]) / len(sets[a] | sets[b]) >= threshold}


class SensorGenerator(unittest.TestCase):
    def test_profile(self):
        with tempfile.TemporaryDirectory() as d:
            path = os.path.join(d, "s.csv")
            expected = gen.sensor_csv(path, 7, 3000)
            with open(path, newline="") as f:
                rows = list(csv.reader(f))
        header, body = rows[0], rows[1:]
        self.assertEqual(len(header), 26)
        self.assertEqual(header[0], "")
        self.assertEqual(header[1:], checks.CONSUMER_HEADER[:-1])
        self.assertEqual(len(body), 3000)
        self.assertTrue(all(len(r) == 26 for r in body))
        self.assertEqual([r[0] for r in body], [str(i) for i in range(3000)])
        ids = [int(r[1]) for r in body]
        self.assertEqual(ids[0], 3208)
        self.assertEqual(len(set(ids)), len(ids))
        gaps = [b - a for a, b in zip(ids, ids[1:])]
        self.assertTrue(all(g >= 1 for g in gaps) and any(g > 1 for g in gaps))
        times = [dt.datetime.strptime(r[2], "%Y-%m-%d %H:%M:%S") for r in body]
        self.assertEqual(times[0], dt.datetime(2021, 1, 27, 9, 15, 28))
        steps = [(b - a).total_seconds() for a, b in zip(times, times[1:])]
        self.assertTrue(all(1 <= s <= 4 for s in steps))
        self.assertAlmostEqual(sum(steps) / len(steps), 2.0, delta=0.5)
        col = header.index("TbottomTestTankHpCir")
        self.assertTrue(all(float(r[col]) > 0 for r in body))
        self.assertEqual(set(expected), set(ids))

    def test_same_seed_same_bytes(self):
        self.assertEqual(gen.sensor_rows(3, 200), gen.sensor_rows(3, 200))
        self.assertNotEqual(gen.sensor_rows(3, 200), gen.sensor_rows(4, 200))

    def test_tem_avg_is_float32_sum_over_ten(self):
        t = ["0.1"] * 10
        s = np.float32(0.1)
        for _ in range(9):
            s = np.float32(s + np.float32(0.1))
        self.assertEqual(gen.tem_avg(t), float(s) / 10.0)


class TableGenerator(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.a = gen.documents(np.random.default_rng(1))
        cls.b = gen.documents(np.random.default_rng(2))

    def test_work_setting_counts_equal_across_seeds(self):
        da, db = self.a, self.b
        self.assertEqual(len(da["doc_id"]), gen.row_counts()["documents"])
        self.assertEqual(len(db["doc_id"]), gen.row_counts()["documents"])
        self.assertEqual([len(t.split(" ")) for t in da["text"]],
                         [len(t.split(" ")) for t in db["text"]])
        self.assertEqual(collections.Counter(da["lang"]), collections.Counter(db["lang"]))
        self.assertNotEqual(da["text"], db["text"])

    def test_near_duplicate_structure_is_the_planted_one(self):
        planted = set()
        groups = collections.defaultdict(list)
        for copy, root in gen.doc_roots().items():
            groups[root].append(copy)
        for root, copies in groups.items():
            members = [root] + copies
            planted |= {(a, b) for a in members for b in members if a < b}
        for t in (self.a, self.b):
            self.assertEqual(near_dup_pairs(t["text"]), planted)


class SinkChecks(unittest.TestCase):
    def setUp(self):
        self.expected = {3208: 2.5, 3209: 1.25, 3211: 3.0}
        self.tmp = tempfile.TemporaryDirectory()

    def tearDown(self):
        self.tmp.cleanup()

    def pipe_csv(self, rows):
        d = os.path.join(self.tmp.name, "sink")
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, "part-00000.csv"), "w", newline="") as f:
            w = csv.writer(f, delimiter="|")
            w.writerow(checks.CONSUMER_HEADER)
            for ident, tem in rows:
                w.writerow([ident] + ["x"] * 24 + [tem])
        return d

    def test_clean_sink_passes(self):
        self.assertEqual(checks.check_pipe_csv(self.pipe_csv(self.expected.items()), self.expected), [])

    def test_wrong_tem_avg(self):
        rows = [(3208, 2.5), (3209, 1.2500001), (3211, 3.0)]
        bad = checks.check_pipe_csv(self.pipe_csv(rows), self.expected)
        self.assertEqual(len(bad), 1)
        self.assertIn("3209", bad[0])

    def test_duplicated_id(self):
        rows = list(self.expected.items()) + [(3211, 3.0)]
        self.assertEqual(checks.check_pipe_csv(self.pipe_csv(rows), self.expected),
                         ["id 3211 arrived twice"])

    def test_missing_id(self):
        rows = [(3208, 2.5), (3211, 3.0)]
        self.assertEqual(checks.check_pipe_csv(self.pipe_csv(rows), self.expected),
                         ["1 ids never arrived"])

    def test_wrong_header(self):
        d = self.pipe_csv(self.expected.items())
        path = os.path.join(d, "part-00000.csv")
        with open(path) as f:
            text = f.read().replace("Tem(Avg)", "TemAvg", 1)
        with open(path, "w") as f:
            f.write(text)
        self.assertTrue(checks.check_pipe_csv(d, self.expected)[0].startswith("part-00000.csv: header"))

    def test_stream_sink(self):
        path = os.path.join(self.tmp.name, "stream.csv")
        with open(path, "w") as f:
            f.write("3208,2.5\n3209,1.25\n3209,1.25\n")
        self.assertEqual(checks.check_stream_sink(path, self.expected),
                         ["id 3209 arrived twice", "1 ids never arrived"])

    def test_sensor_op_counts(self):
        sink = self.pipe_csv(self.expected.items())
        stream = os.path.join(self.tmp.name, "stream.csv")
        with open(stream, "w") as f:
            f.write("".join(f"{k},{v}\n" for k, v in self.expected.items()))
        op = {"produced": 3, "transport_records": 2, "sink": sink, "stream_sink": stream}
        self.assertEqual(checks.check_sensor_op(op, self.expected),
                         ["the transport holds 2 records, generated 3"])

    def test_suite_op(self):
        ref = {"q1": "10:77", "q2": "3:5"}
        self.assertEqual(checks.check_suite_op({"fingerprints": ref}, ref, {"q1": None, "q2": None}), [])
        self.assertEqual(len(checks.check_suite_op({"fingerprints": {"q1": "10:78", "q2": "3:5"}},
                                                   ref, {"q1": None, "q2": None})), 1)
        self.assertEqual(checks.check_suite_op({"fingerprints": ref}, ref, {"q1": None, "q2": "rows differ"}),
                         ["q2: rows differ"])

    def test_row_fingerprint_is_order_free_and_exact(self):
        rows = [(1, "a", 2.0), (2, "b", float("nan"))]
        self.assertEqual(checks.row_fingerprint(rows), checks.row_fingerprint(rows[::-1]))
        self.assertNotEqual(checks.row_fingerprint(rows), checks.row_fingerprint([(1, "a", 2.0000001), rows[1]]))


class MetricArithmetic(unittest.TestCase):
    OPS = [{"rows": 100, "wall_s": 1.0}, {"rows": 100, "wall_s": 3.0}, {"rows": 100, "wall_s": 2.0},
           {"rows": 100, "wall_s": 4.0}, {"rows": 100, "wall_s": 10.0}, {"rows": 100, "wall_s": 1.5}]

    def test_rows_per_s_is_a_time_average(self):
        self.assertAlmostEqual(checks.rows_per_s(self.OPS), 600 / 21.5)

    def test_op_p50_is_a_median(self):
        self.assertEqual(checks.op_p50_s(self.OPS), 2.5)

    def test_thirds(self):
        t = checks.thirds(self.OPS)
        self.assertEqual((t["first_third_p50_s"], t["last_third_p50_s"], t["ops_per_third"]), (2.0, 5.75, 2))
        self.assertAlmostEqual(t["drift"], 1.875)

    def test_grouped_median(self):
        self.assertEqual(checks.grouped_median([1, 2, 3, 4]), 2.5)
        self.assertAlmostEqual(checks.grouped_median([2, 3, 3, 3, 9]), 2.5 + (2.5 - 1) / 3)
        self.assertEqual(checks.grouped_median([5]), 5.0)

    def test_spread(self):
        med, q1, q3, rel = report.spread([1.0, 2.0, 3.0, 4.0, 5.0])
        self.assertEqual((med, q1, q3), (3.0, 1.5, 4.5))
        self.assertAlmostEqual(rel, 1.0)
        self.assertAlmostEqual(report.worse_by({"better": "higher"}, 0.8), 0.2)
        self.assertAlmostEqual(report.worse_by({"better": "lower"}, 1.1), 0.1)


class SpanSelfTime(unittest.TestCase):
    def test_self_time_subtracts_the_union_of_children(self):
        s = 1_000_000_000
        spans = [
            {"id": 1, "parent": None, "op": 0, "name": "op", "start_ns": 0, "end_ns": 10 * s},
            {"id": 2, "parent": 1, "op": 0, "name": "a", "start_ns": 1 * s, "end_ns": 4 * s},
            {"id": 3, "parent": 1, "op": 0, "name": "b", "start_ns": 3 * s, "end_ns": 5 * s},
            {"id": 4, "parent": 2, "op": 0, "name": "c", "start_ns": 2 * s, "end_ns": 3 * s},
            {"id": 5, "parent": None, "op": 1, "name": "op", "start_ns": 20 * s, "end_ns": 22 * s},
        ]
        own = checks.span_self_times(spans)
        self.assertEqual(own, {1: 6.0, 2: 2.0, 3: 2.0, 4: 1.0, 5: 2.0})
        self.assertEqual(checks.self_time_by_name(spans), {"a": 2.0, "b": 2.0, "c": 1.0, "op": 4.0})


if __name__ == "__main__":
    unittest.main()
