"""Self-tests of the benchmark (no Spark needed):

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import re
import shutil
import tempfile
import unittest
from collections import Counter

import corpus
import run

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def normalize_ref(tok):
    """The reference's normalizeWord, written out here from its spec:
    lowercase A-Z only; if the token holds a letter a-z, strip every
    non-[a-z] character from both ends; else keep it verbatim."""
    low = "".join(chr(ord(c) + 32) if "A" <= c <= "Z" else c for c in tok)
    idx = [i for i, c in enumerate(low) if "a" <= c <= "z"]
    return low[idx[0]:idx[-1] + 1] if idx else low


def brute_force(files_dir, keep_cr):
    """Count words the way the reference does: split lines on LF (the CR
    of CRLF kept or dropped), drop empty lines, split on single spaces,
    normalize, keep words of 1..70 bytes."""
    c = Counter()
    for name in sorted(os.listdir(files_dir)):
        with open(os.path.join(files_dir, name), "rb") as fh:
            text = fh.read().decode("utf-8")
        for line in text.split("\n"):
            if not keep_cr:
                line = line.rstrip("\r")
            if not line:
                continue
            for tok in line.split(" "):
                w = normalize_ref(tok)
                if 0 < len(w.encode("utf-8")) <= 70:
                    c[w] += 1
    return c


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def generate(self, unique_frac):
        out = os.path.join(self.tmp, str(unique_frac))
        os.makedirs(out)
        exp = corpus.generate(out, seed=7, files=3, vocab=300, tokens=20000,
                              unique_frac=unique_frac)
        return out, exp

    def test_digest_matches_brute_force_count(self):
        for unique_frac in (0.0, 0.5):
            out, exp = self.generate(unique_frac)
            for keep_cr in (False, True):
                c = brute_force(os.path.join(out, "files"), keep_cr)
                self.assertEqual(exp["tokens"], sum(c.values()))
                self.assertEqual(exp["distinct"], len(c))
                self.assertEqual(exp["digest"], corpus.digest(c.items()))

    def test_inputs_carry_the_edge_cases(self):
        out, _ = self.generate(0.0)
        with open(os.path.join(out, "files", "chunk_000.txt"), "rb") as fh:
            raw = fh.read()
        self.assertTrue(raw.startswith("﻿".encode("utf-8")))
        self.assertIn(b"\r\n", raw)
        self.assertIn(b"  ", raw)
        toks = raw.decode("utf-8").split()
        self.assertTrue(any(t[0].isupper() for t in toks))
        self.assertTrue(any(t in corpus.NON_ALPHA for t in toks))

    def test_same_seed_same_inputs(self):
        a, ea = self.generate(0.5)
        b = os.path.join(self.tmp, "again")
        os.makedirs(b)
        eb = corpus.generate(b, seed=7, files=3, vocab=300, tokens=20000,
                             unique_frac=0.5)
        self.assertEqual(ea, eb)
        for f in os.listdir(os.path.join(a, "files")):
            with open(os.path.join(a, "files", f), "rb") as x, \
                    open(os.path.join(b, "files", f), "rb") as y:
                self.assertEqual(x.read(), y.read())

    def test_delivered_digest_sums_per_file_counts(self):
        out, exp = self.generate(0.0)
        self.assertEqual(corpus.delivered_digest(out, [1, 1, 1]),
                         (exp["tokens"], exp["distinct"], exp["digest"]))
        # Files 0 and 1 twice, file 2 once: brute-force the same deliveries.
        files = os.path.join(out, "files")
        c = Counter()
        for k, name in zip((2, 2, 1), sorted(os.listdir(files))):
            one = os.path.join(self.tmp, "one")
            os.makedirs(one)
            shutil.copy(os.path.join(files, name), one)
            for w, n in brute_force(one, keep_cr=False).items():
                c[w] += k * n
            shutil.rmtree(one)
        self.assertEqual(corpus.delivered_digest(out, [2, 2, 1]),
                         (sum(c.values()), len(c), corpus.digest(c.items())))


class SelfTimeTest(unittest.TestCase):
    def test_prefix_differences_per_pass_then_median(self):
        chain = ["a", "b", "c"]

        def pas(trace, t0, durs):
            spans, t = [], t0
            for name, d in zip(chain, durs):
                spans.append({"name": name, "trace": trace, "start": t,
                              "end": t + d})
                t += d + 0.5
            return spans

        spans = (pas(0, 0.0, [1.0, 3.0, 6.0]) + pas(1, 20.0, [2.0, 3.0, 7.0]) +
                 pas(2, 40.0, [1.5, 4.5, 5.5]))
        st = run.layer_self_times(spans, chain)
        self.assertAlmostEqual(st["a"][0], 1.5)
        self.assertAlmostEqual(st["a"][1], 1.5)
        self.assertAlmostEqual(st["b"][0], 3.0)
        self.assertAlmostEqual(st["b"][1], 2.0)   # median of 2, 1, 3
        self.assertAlmostEqual(st["c"][0], 6.0)
        self.assertAlmostEqual(st["c"][1], 3.0)   # median of 3, 4, 1

    def test_pass_missing_a_prefix_is_skipped(self):
        spans = [{"name": "b", "trace": 0, "start": 0.0, "end": 2.0},
                 {"name": "a", "trace": 1, "start": 0.0, "end": 1.0},
                 {"name": "b", "trace": 1, "start": 1.0, "end": 4.0}]
        st = run.layer_self_times(spans, ["a", "b"])
        self.assertAlmostEqual(st["b"][1], 2.0)


def fake_raw(workload):
    job = {"wall_s": 1.0, "c": {"cpu_s": 2.0, "process_cpu_s": 2.5,
                                "shuffle_records": 10.0,
                                "output_rows": 5.0, "input_bytes": 1e6,
                                "max_partition_ratio": 1.2}}
    spans = [{"name": n, "trace": 0, "parent": "pass", "start": i,
              "end": i + 0.5, "c": job["c"]}
             for i, n in enumerate(["sources.ingest",
                                    "functions.tokenize_normalize",
                                    "core.count", "core.sink",
                                    "sources.tables", "streaming.batch"] +
                                   ["queries." + q for q in run.MIX])]
    prog = {"addBatch.ms": 10.0, "walCommit.ms": 1.0, "commitOffsets.ms": 1.0,
            "state_commit.ms": 5.0, "state_rows": 9.0,
            "state_rows_updated": 3.0, "state_bytes": 1e5}
    return {"workload": workload, "jobs": [job], "traced": [job],
            "spans": spans, "setup_s": [1.0, 2.0, 3.0], "peak_rss_mb": 100.0,
            "live_heap_mb": 50.0,
            "extra": {"traced.progress": [prog], "warm_arrivals": 0,
                      "traced_landed": 1}}


class MetricNamesTest(unittest.TestCase):
    def test_emitted_metrics_are_declared(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            bench = json.load(fh)
        name = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
        e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
        layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
        exp = {"tokens": 100, "file_tokens": [10] * 10}
        for w in run.WORKLOADS:
            raw = fake_raw(w)
            got = {k: run.END_TO_END[k] for k in run.end_to_end(raw)}
            self.assertEqual(got, e2e, w)
            got = {k: run.PER_LAYER[k] for k in run.per_layer(raw, exp, [100])}
            self.assertEqual(got, layer, w)
        for n in list(e2e) + list(layer):
            self.assertRegex(n, name)
        self.assertIn("setup_s", e2e)

    def test_declared_workloads_run(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            bench = json.load(fh)
        for w in bench["workloads"]:
            self.assertIn(w["name"], run.WORKLOADS)


if __name__ == "__main__":
    unittest.main()
