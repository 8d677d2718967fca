"""Tests of the benchmark's own arithmetic and generator.

    python3 -m unittest discover -s perfbench/tests
"""
import filecmp
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import gen  # noqa: E402
import stats  # noqa: E402


class GeneratorTest(unittest.TestCase):
    def _files(self, d):
        return sorted(os.path.relpath(os.path.join(r, f), d)
                      for r, _, fs in os.walk(d) for f in fs)

    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        for w in ("lakehouse_rw", "llm_corpus"):
            with tempfile.TemporaryDirectory() as t:
                a, b, c = (os.path.join(t, x) for x in "abc")
                gen.generate(w, 7, a)
                gen.generate(w, 7, b)
                gen.generate(w, 8, c)
                files = self._files(a)
                self.assertEqual(files, self._files(b))
                _, mismatch, errors = filecmp.cmpfiles(a, b, files,
                                                       shallow=False)
                self.assertEqual((mismatch, errors), ([], []), w)
                for name in ("documents.parquet", "lineitem.parquet"):
                    self.assertFalse(filecmp.cmp(
                        os.path.join(a, name), os.path.join(c, name),
                        shallow=False), (w, name))

    def test_replicas_have_disjoint_keys(self):
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory() as t:
            m = gen.generate("llm_corpus", 3, t)
            ids = pq.read_table(os.path.join(t, "documents.parquet"))["doc_id"]
            self.assertEqual(len(set(ids.to_pylist())),
                             m["tables"]["documents"]["rows"])
            spec = gen.WORKLOADS["llm_corpus"]
            self.assertEqual(m["tables"]["documents"]["rows"],
                             spec["docs"] * spec["replicas"])


class TailTest(unittest.TestCase):
    def test_at_least_ten_samples_beyond(self):
        xs = list(range(1, 101))  # 100 distinct samples
        v, p, n = stats.tail(xs)
        self.assertEqual((v, p, n), (90, 90.0, 100))
        self.assertEqual(sum(x > v for x in xs), 10)

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 0.5, 10.0, 11.0,
              12.0]
        v, p, n = stats.tail(xs)
        self.assertEqual(n, 13)
        self.assertEqual(v, 2.0)  # rank 3 of 13: ten samples above it
        self.assertAlmostEqual(p, 300 / 13)

    def test_too_few_samples_falls_back_to_max(self):
        self.assertEqual(stats.tail([1.0, 3.0, 2.0]), (3.0, 100.0, 3))


class MetricNamesTest(unittest.TestCase):
    def test_benchmark_json_lists_every_per_layer_metric(self):
        root = os.path.dirname(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))))
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            listed = [m["name"] for m in json.load(f)["per_layer"]]
        want = ([f"{l}.{k}" for l in stats.LAYERS for k in stats.COMMON]
                + stats.EXTRAS + stats.TRACE)
        self.assertEqual(listed, want)


class SelfTimeTest(unittest.TestCase):
    def span(self, i, parent, start, end, layer="l", kind="k"):
        return {"id": i, "parent": parent, "start": start, "end": end,
                "layer": layer, "kind": kind}

    def test_duration_minus_children_cover(self):
        spans = [self.span(1, 0, 0, 100),
                 self.span(2, 1, 10, 30),
                 self.span(3, 1, 20, 50),     # overlaps span 2
                 self.span(4, 1, 90, 120),    # runs past its parent
                 self.span(5, 2, 12, 14)]
        st = stats.self_times(spans)
        self.assertEqual(st[1], 100 - (40 + 10))
        self.assertEqual(st[2], 20 - 2)
        self.assertEqual(st[3], 30)
        self.assertEqual(st[5], 2)

    def test_table_sums_by_layer_and_kind(self):
        spans = [self.span(1, 0, 0, 1000, "a", "op"),
                 self.span(2, 1, 0, 400, "a", "exec"),
                 self.span(3, 0, 0, 500, "b", "op")]
        self.assertEqual(stats.self_time_table(spans),
                         {"a": {"op": 0.6, "exec": 0.4}, "b": {"op": 0.5}})

    def test_union_length(self):
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(stats.union_length([]), 0.0)


if __name__ == "__main__":
    unittest.main()
