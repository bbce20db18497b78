"""Tests of the benchmark's own parts: generators, checker, metric names.

    python3 -m unittest discover -s perfbench/tests
"""

import hashlib
import json
import os
import shutil
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import checks  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

SCRATCH = os.path.join(ROOT, ".bench_build", "perfbench", "tests")


def digest_tree(d):
    out = {}
    for base, _, files in os.walk(d):
        for f in files:
            p = os.path.join(base, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, d)] = hashlib.sha256(fh.read()).hexdigest()
    return out


class Scratch(unittest.TestCase):
    def setUp(self):
        self.dir = os.path.join(SCRATCH, self.id().split(".")[-1])
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(self.dir)

    def tearDown(self):
        shutil.rmtree(self.dir, ignore_errors=True)


class GeneratorDeterminism(Scratch):
    def test_same_seed_gives_identical_bytes(self):
        for name, write in gen.WRITERS.items():
            with self.subTest(workload=name):
                a, b = (os.path.join(self.dir, name, x) for x in "ab")
                write(7, a)
                write(7, b)
                self.assertTrue(digest_tree(a))
                self.assertEqual(digest_tree(a), digest_tree(b))

    def test_other_seed_gives_other_inputs(self):
        for name, write in gen.WRITERS.items():
            with self.subTest(workload=name):
                a, b = (os.path.join(self.dir, name, x) for x in "ab")
                write(7, a)
                write(8, b)
                self.assertNotEqual(digest_tree(a), digest_tree(b))

    def test_corpus_plants_what_the_truth_says(self):
        gen.write_corpus_inputs(3, self.dir)
        t = pq.read_table(os.path.join(self.dir, "batch_0.parquet")).to_pydict()
        texts = dict(zip(t["doc_id"], t["text"]))
        with open(os.path.join(self.dir, "batch_0.truth.json")) as f:
            truth = json.load(f)
        self.assertTrue(truth["contaminated"])
        for dup, src in truth["exact_dup_of"].items():
            self.assertEqual(checks.normalise(texts[int(dup)]),
                             checks.normalise(texts[src]))
        bench = pq.read_table(os.path.join(self.dir, "bench.parquet")).column("text")
        grams = set()
        for b in bench.to_pylist():
            w = b.split()
            grams |= {" ".join(w[i:i + 5]) for i in range(len(w) - 4)}
        for i in truth["contaminated"]:
            w = texts[i].lower().split()
            self.assertTrue(any(" ".join(w[k:k + 5]) in grams
                                for k in range(len(w) - 4)))

    def test_analytics_order_is_a_permutation(self):
        gen.write_analytics_inputs(5, self.dir)
        with open(os.path.join(self.dir, "manifest.json")) as f:
            order = json.load(f)["order"]
        self.assertEqual(sorted(order),
                         sorted(gen.GLOBAL_INDEX_USERS + gen.OTHER_QUERIES))


class CheckerRejectsCorruptOutput(Scratch):
    def _survey_op(self, corrupt=None):
        table, truth = gen.make_survey(1, 0, respondents=60)
        data = table.to_pydict()
        ids, rule = data[gen.ID_COL], data[gen.RULE_COL]
        levels = sorted(set(rule))
        op = os.path.join(self.dir, "op")
        for algo in checks.SURVEY_ALGOS:
            os.makedirs(os.path.join(op, algo, "metrics"))
            k = 1 if corrupt == "k" and algo == "kmodes" else 3
            sig = 0 if corrupt == "deliver" and algo == "lca" else 12
            with open(os.path.join(op, algo, "metrics", "part-0.json"), "w") as f:
                f.write(json.dumps({"metric": "n_clusters", "value": k}) + "\n")
                f.write(json.dumps({"metric": "n_significant", "value": sig}) + "\n")
        labels = [levels.index(r) for r in rule]
        if corrupt == "label":
            labels[5] = (labels[5] + 1) % len(levels)
        os.makedirs(os.path.join(op, "rules_based", "labels"))
        pq.write_table(pa.table({gen.ID_COL: ids, "cluster": labels}),
                       os.path.join(op, "rules_based", "labels", "part-0.parquet"))
        return checks.check_survey_op(op, truth, data)

    def test_survey(self):
        self.assertEqual(self._survey_op(), [])

    def test_survey_wrong_rule_label(self):
        self.assertTrue(any("rule column" in p for p in self._survey_op("label")))

    def test_survey_single_cluster(self):
        self.assertTrue(any("k = 1" in p for p in self._survey_op("k")))

    def test_survey_empty_deliver_stats(self):
        self.assertTrue(any("deliver" in p for p in self._survey_op("deliver")))

    def test_corpus(self):
        texts = {1: "The cat sat", 2: "the  CAT, sat!", 3: "a dog ran",
                 4: "leak of the bench"}
        self.assertEqual(checks.check_corpus_op([1, 3], texts, [4]), [])
        self.assertTrue(checks.check_corpus_op([1, 2, 3], texts, [4]))
        self.assertTrue(checks.check_corpus_op([1, 3, 4], texts, [4]))
        self.assertTrue(checks.check_corpus_op([], texts, [4]))

    def test_analytics_digest_drift(self):
        def res(d2):
            return {"passes": [
                {"index": 0, "ops": [{"name": "q", "ok": True, "digest": "1:2:3"}]},
                {"index": 1, "ops": [{"name": "q", "ok": True, "digest": d2}]}]}
        want = {"q": "1:2:3"}
        self.assertEqual(checks.check_analytics(None, None, res("1:2:3"), want), [])
        self.assertEqual(len(checks.check_analytics(None, None, res("1:2:4"), want)), 1)

    def test_every_analytics_query_has_a_recorded_digest(self):
        with open(checks.DIGESTS) as f:
            recorded = json.load(f)
        self.assertEqual(sorted(recorded), sorted(
            gen.GLOBAL_INDEX_USERS + gen.OTHER_QUERIES))

    def test_a_failed_check_fails_its_op(self):
        res = {"setup_s": 1.0, "peak_rss_mb": 10.0, "passes": [
            {"index": 0, "traced": False,
             "ops": [{"name": "a", "ok": True, "seconds": 1.0},
                     {"name": "b", "ok": True, "seconds": 2.0}]}]}
        out = metrics.summarise(res, [{"pass": 0, "op": 1, "why": "x"}], 0)
        self.assertFalse(out["correct"])
        self.assertEqual((out["attempted"], out["failed"]), (2, 1))
        self.assertEqual(out["metrics"]["ops_ok_frac"]["value"], 0.5)


class MetricNamesMatchBenchmarkJson(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            self.spec = json.load(f)

    def test_end_to_end(self):
        self.assertEqual(
            [(m["name"], m["unit"], m["better"]) for m in self.spec["end_to_end"]],
            metrics.END_TO_END)

    def test_per_layer(self):
        self.assertEqual(
            [(m["name"], m["unit"], m["better"]) for m in self.spec["per_layer"]],
            [(n, u, "higher" if n in metrics.HIGHER_IS_BETTER else "lower")
             for n, u in metrics.per_layer()])

    def test_printed_names(self):
        res = {"setup_s": 1.0, "peak_rss_mb": 10.0, "layers": {}, "passes": [
            {"index": 0, "traced": False,
             "ops": [{"name": "a", "ok": True, "seconds": 1.0}]}]}
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            out = metrics.summarise(res, [], trace)
            self.assertEqual(list(out["metrics"]),
                             [m["name"] for m in self.spec[key]])
            for m in self.spec[key]:
                self.assertEqual(out["metrics"][m["name"]]["unit"], m["unit"])

    def test_workloads_exist(self):
        for w in self.spec["workloads"]:
            self.assertIn(w["name"], gen.WRITERS)
            self.assertIn(w["name"], checks.CHECKS)


if __name__ == "__main__":
    unittest.main()
