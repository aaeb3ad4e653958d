"""The benchmark's own tests (no JVM needed).

    python3 -m unittest discover -s perfbench/tests

* the generator is deterministic by seed;
* every metric the benchmark prints is declared in BENCHMARK.json and has
  a well-formed name;
* a wrong expected value makes ops fail, so the output check cannot go
  silently dead.
"""

import json
import os
import re
import shutil
import sys
import tempfile
import unittest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def scratch():
    os.makedirs(run.WORK, exist_ok=True)
    return tempfile.mkdtemp(prefix="test-", dir=run.WORK)


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self.dir = scratch()

    def tearDown(self):
        shutil.rmtree(self.dir, ignore_errors=True)

    def files(self, d):
        out = {}
        for root, _, fs in os.walk(d):
            for f in fs:
                if f != "MANIFEST.json":
                    with open(os.path.join(root, f), "rb") as fh:
                        out[os.path.relpath(os.path.join(root, f), d)] = fh.read()
        return out

    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        for tier in gen.SIZES:
            a, ma = gen.generate(tier, 5, os.path.join(self.dir, "a"))
            b, mb = gen.generate(tier, 5, os.path.join(self.dir, "b"))
            c, mc = gen.generate(tier, 6, os.path.join(self.dir, "c"))
            fa, fb, fc = self.files(a), self.files(b), self.files(c)
            self.assertTrue(fa, tier)
            self.assertEqual(fa, fb, tier)
            self.assertEqual(ma["content_sha256"], mb["content_sha256"], tier)
            self.assertNotEqual(ma["content_sha256"], mc["content_sha256"], tier)
            self.assertNotEqual(fa, fc, tier)

    def test_cache_hit_reuses_and_corruption_regenerates(self):
        a, ma = gen.generate("query", 7, self.dir)
        path = os.path.join(a, "orders.parquet")
        stamp = os.path.getmtime(path)
        self.assertEqual(gen.generate("query", 7, self.dir)[0], a)
        self.assertEqual(os.path.getmtime(path), stamp)
        with open(path, "ab") as fh:
            fh.write(b"x")
        _, mb = gen.generate("query", 7, self.dir)
        self.assertEqual(mb["content_sha256"], ma["content_sha256"])


def fake_op(name, seconds, check, rows=10, traced=False, layers=None):
    return {"name": name, "seconds": seconds, "rows": rows, "check": check,
            "traced": traced, "layers": layers or {}}


def ingest_run(expected):
    def chk(snap, b):
        return ";".join(f"{k}={v}" for k, v in {**expected[snap], **expected[f"batch_{b}"]}.items())
    layers = {"spark.jobs": 3.0, "Pipeline.quality_s": 0.2, "trace.untagged_jobs": 0.0}
    ops = [fake_op(f"snap_2+batch_{b}", 1.0 + b / 10, chk("snap_2", b), traced=b % 2 == 0,
                   layers=layers if b % 2 == 0 else {}) for b in range(1, 5)]
    return {"setup_s": [3.0, 1.0, 1.1], "peak_rss_mb": 900.0, "confs": {},
            "cold": fake_op("snap_1+batch_0", 5.0, chk("snap_1", 0)), "warmup": [], "ops": ops}


EXPECTED = {
    "snap_1": {"stage_raw": 100, "quality": 95, "transform_load": 400, "report": 2},
    "snap_2": {"stage_raw": 100, "quality": 95, "transform_load": 400, "report": 2},
    **{f"batch_{b}": {"raw": 10 * (b + 1), "clean": 9 * (b + 1), "error": b + 1, "state": 5}
       for b in range(5)},
}


class MetricNamesTest(unittest.TestCase):
    def test_every_printed_metric_is_declared(self):
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        declared_e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        declared_layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
        for m in spec["end_to_end"] + spec["per_layer"]:
            self.assertRegex(m["name"], NAME)
        res = ingest_run(EXPECTED)
        rows = oracle.rows_fn("ingest_etl", EXPECTED)
        e2e = run.metrics(res, rows, 0, 0.0)
        self.assertEqual(set(e2e), set(declared_e2e))
        layer = run.metrics(res, rows, 1, 0.0)
        self.assertEqual(set(layer), set(declared_layer))
        for name, m in {**e2e, **layer}.items():
            self.assertRegex(name, NAME)
            self.assertEqual(set(m), {"value", "unit"})
            self.assertIsInstance(m["value"], (int, float))
        for name in e2e:
            self.assertEqual(e2e[name]["unit"], declared_e2e[name])
            self.assertGreater(e2e[name]["value"], 0)


class DeadGateTest(unittest.TestCase):
    def test_ingest_wrong_expected_count_fails_ops(self):
        res = ingest_run(EXPECTED)
        ok = oracle.check("ingest_etl", res, EXPECTED, "")
        self.assertEqual(len(ok), 5)
        self.assertTrue(all(v[1] for v in ok))
        wrong = json.loads(json.dumps(EXPECTED))
        wrong["snap_2"]["quality"] += 1
        bad = oracle.check("ingest_etl", res, wrong, "")
        failed = sum(1 for v in bad if not v[1])
        self.assertEqual(failed, 4)
        self.assertGreater(failed / len(bad), 0)
        wrong = json.loads(json.dumps(EXPECTED))
        wrong["batch_3"]["state"] -= 1
        self.assertEqual(sum(1 for v in oracle.check("ingest_etl", res, wrong, "") if not v[1]), 1)

    def test_query_wrong_oracle_or_fingerprint_fails_ops(self):
        work = scratch()
        try:
            con = oracle.connect()
            os.makedirs(os.path.join(work, "verify", "q1"))
            con.execute(f"COPY (SELECT range AS a, range * 0.5 AS b FROM range(5)) TO "
                        f"'{work}/verify/q1/part-0.parquet' (FORMAT PARQUET)")
            exp = {"q1": list(oracle.fingerprint(
                con, "SELECT range * 0.5 AS b, range AS a FROM range(4, -1, -1)"))}
            res = {"cold": fake_op("q1", 1.0, "5:123"), "warmup": [],
                   "ops": [fake_op("q1", 0.5, "5:123"), fake_op("q1", 0.5, "5:124")]}
            v = oracle.check("query_mix", res, exp, work)
            self.assertEqual([x[1] for x in v], [True, True, False])
            exp["q1"][1] += 1
            v = oracle.check("query_mix", res, exp, work)
            self.assertEqual([x[1] for x in v], [False, False, False])
        finally:
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
