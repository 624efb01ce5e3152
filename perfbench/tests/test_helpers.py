"""Tests for the benchmark's own helpers.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import sys
import tempfile
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
import gen  # noqa: E402
import stats  # noqa: E402


class TailPercentile(unittest.TestCase):
    def test_needs_more_than_ten_samples(self):
        self.assertIsNone(stats.tail(list(range(10))))
        t = stats.tail(list(range(11)))
        self.assertEqual(t["beyond"], 10)
        self.assertEqual(t["value"], 0)

    def test_highest_percentile_with_ten_beyond(self):
        for n in (11, 19, 20, 38, 57, 100, 1000):
            t = stats.tail([float(i) for i in range(n)])
            self.assertGreaterEqual(t["beyond"], 10, n)
            # one percentile higher would leave fewer than ten beyond
            p = t["percentile"] + 1
            rank = -(-p * n // 100)
            self.assertLess(n - rank, 10, n)
            self.assertEqual(t["samples"], n)

    def test_known_values(self):
        self.assertEqual(stats.tail(list(range(100)))["percentile"], 90)
        self.assertEqual(stats.tail(list(range(100)))["value"], 89)
        self.assertEqual(stats.tail(list(range(1000)))["percentile"], 99)

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 9.0, 3.0, 7.0] * 5
        self.assertEqual(stats.tail(xs), stats.tail(sorted(xs)))


class SelfTime(unittest.TestCase):
    def test_union_counts_overlap_once(self):
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(stats.union_length([(0, 10), (2, 3)]), 10)
        self.assertEqual(stats.union_length([]), 0)

    def test_overlapping_children_are_a_union_not_a_sum(self):
        order = ["stage", "job", "op"]
        t = stats.layer_timeline([("op", 0, 100), ("job", 10, 90), ("stage", 10, 60),
                                  ("stage", 40, 80)], order)
        self.assertEqual(t, {"op": 20, "job": 10, "stage": 70})

    def test_children_are_clipped_to_the_parent(self):
        nodes = {
            "a": {"parent": None, "start": 0, "end": 50},
            "b": {"parent": "a", "start": 40, "end": 70},
            "c": {"parent": "b", "start": 60, "end": 80},
        }
        clipped, children = stats.clip_tree(nodes)
        self.assertEqual(clipped, {"a": (0, 50), "b": (40, 50), "c": (60, 60)})
        self.assertEqual(children["a"], ["b"])

    def test_layer_timeline_adds_up_to_the_covered_wall(self):
        order = ["stage", "job", "action", "op"]
        iv = [("op", 0, 1000), ("action", 300, 990), ("job", 350, 700),
              ("job", 600, 980), ("stage", 610, 800), ("stage", 650, 900),
              ("op", 1500, 1600)]
        t = stats.layer_timeline(iv, order)
        self.assertEqual(t, {"stage": 290, "job": 340, "action": 60, "op": 410})
        self.assertEqual(sum(t.values()), 1100)


BLOCKS = [1, 2, 3]


class DeterministicInputs(unittest.TestCase):
    def tmp(self):
        d = tempfile.TemporaryDirectory()
        self.addCleanup(d.cleanup)
        return d.name

    def serve(self, seed):
        d = self.tmp()
        ops = gen.make_serve(d, seed, 0.02, BLOCKS, batch_docs=40)
        files = {p.relative_to(d).as_posix(): p.read_bytes()
                 for p in Path(d).rglob("*") if p.is_file()}
        return ops, files

    def test_same_seed_same_stream_and_batches(self):
        a_ops, a_files = self.serve(5)
        b_ops, b_files = self.serve(5)
        self.assertEqual(a_ops, b_ops)
        self.assertEqual(a_files, b_files)

    def test_other_seed_other_stream(self):
        self.assertNotEqual(self.serve(5)[0], self.serve(6)[0])

    def test_stream_shape(self):
        ops, files = self.serve(3)
        self.assertEqual(len(ops), sum(gen.block_ops(k) for k in BLOCKS))
        at = 0
        for per_kind in BLOCKS:
            block = ops[at:at + gen.block_ops(per_kind)]
            at += len(block)
            self.assertEqual(block[0]["op"], "ingest")
            self.assertEqual(block[-1]["op"], "compact")
            self.assertEqual(sorted(o["op"] for o in block[1:-1]),
                             sorted(gen.LOOKUP_KINDS * per_kind))
        ingest = [o for o in ops if o["op"] == "ingest"]
        self.assertEqual([o["batch"] for o in ingest], list(range(len(BLOCKS))))
        for o in ingest:
            self.assertIn(f"batches/batch_{o['batch']:04d}.parquet", files)
            # the corpus' near-duplicate rate: 5% of 40 documents
            self.assertEqual(len(o["planted"]), 2)
        planted_ids = [p[0] for o in ingest for p in o["planted"]]
        self.assertEqual(len(planted_ids), len(set(planted_ids)))
        lines = files["stream.jsonl"].decode().splitlines()
        self.assertEqual([json.loads(l) for l in lines], ops)

    def test_point_lookups_name_existing_keys(self):
        import pyarrow.parquet as pq
        d = self.tmp()
        ops = gen.make_serve(d, 9, 0.02, [2] * 4, batch_docs=4)
        t = pq.read_table(f"{d}/orders.parquet", columns=["o_custkey", "o_orderdate"])
        months = t.column("o_orderdate").to_numpy().astype("datetime64[M]").astype(str)
        keys = set(zip(t.column("o_custkey").to_pylist(), months.tolist()))
        points = [o for o in ops if o["op"] == "point"]
        self.assertTrue(points)
        for o in points:
            self.assertIn((o["entity"], o["period"]), keys)

    def test_tables_are_deterministic(self):
        a, b = self.tmp(), self.tmp()
        gen.make_tables(a, 11, 0.01)
        gen.make_tables(b, 11, 0.01)
        for p in Path(a).iterdir():
            self.assertEqual(p.read_bytes(), (Path(b) / p.name).read_bytes(), p.name)


class ServeWork(unittest.TestCase):
    @staticmethod
    def raw(kinds):
        return {"serve_samples": [{"kind": k, "ms": ms, "ok": True, "warm": False, "error": ""}
                                  for k, ms in kinds], "final_reconcile": ""}

    def test_work_is_one_median_per_op_kind(self):
        import run
        one = run.serve_result(self.raw([("point", 100.0), ("append", 500.0)]))
        # three times the lookups per ingest: the same work
        more = run.serve_result(self.raw([("point", 90.0), ("point", 100.0), ("point", 110.0),
                                          ("append", 500.0)]))
        self.assertAlmostEqual(one["work_s"], 0.6)
        self.assertAlmostEqual(more["work_s"], 0.6)
        self.assertEqual(more["ops_ms"], [90.0, 100.0, 110.0])


class BenchmarkContract(unittest.TestCase):
    def test_benchmark_json_lists_what_the_command_prints(self):
        import layers
        import run
        spec = json.loads((Path(__file__).resolve().parents[2] / "BENCHMARK.json").read_text())
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]}, run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]}, layers.PER_LAYER)
        self.assertEqual({w["name"] for w in spec["workloads"]} - set(run.WORKLOADS), set())


if __name__ == "__main__":
    unittest.main()
