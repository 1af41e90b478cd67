"""Tests of the benchmark's own pieces: the seeded generator, the output
checker and the tail-percentile helper.

    python3 -m unittest discover -s perfbench/tests
"""

import copy
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import check  # noqa: E402
import gen  # noqa: E402


def _files(root):
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, root)] = f.read()
    return out


def _generate(workload, seed):
    with tempfile.TemporaryDirectory() as d:
        manifest = gen.generate(workload, seed, d)
        return manifest, _files(d)


class GeneratorTest(unittest.TestCase):
    def test_same_seed_gives_identical_bytes(self):
        for w in gen.WORKLOADS:
            with self.subTest(workload=w):
                self.assertEqual(_generate(w, 7)[1], _generate(w, 7)[1])

    def test_different_seeds_give_different_inputs(self):
        for w in gen.WORKLOADS:
            with self.subTest(workload=w):
                a, b = _generate(w, 7)[1], _generate(w, 8)[1]
                self.assertEqual(a.keys(), b.keys())
                data = [k for k in a if k.startswith("data" + os.sep)]
                self.assertTrue(data)
                self.assertTrue(all(a[k] != b[k] for k in data))

    def test_tenant_jobs_mix_strict_and_warn_with_seeded_errors(self):
        manifest, _ = _generate("tenant_batch", 3)
        warn = [j for j in manifest["jobs"] if "schema_validation_mode: warn" in j["template"]]
        self.assertEqual(len(warn), len(manifest["jobs"]) // 4)
        for j in warn:
            self.assertEqual(j["expect"]["exit"], 1)
            self.assertGreater(j["expect"]["errors"]["type_mismatch:amount"], 0)
        self.assertEqual(sum(j["touched"] for j in manifest["jobs"]), gen.TENANT_TOUCHED)

    def test_sample_draw_matches_the_md5_threshold(self):
        kept = sum(gen.sample_kept(i) for i in range(1, 20001))
        self.assertAlmostEqual(kept / 20000, gen.SAMPLE_FRACTION, delta=0.01)


def _clean_result(manifest):
    """What a correct run of one warm iteration records."""
    ops, outputs = [], []
    for j in manifest["jobs"]:
        e = j["expect"]
        ops.append({"job": j["name"], "kind": "ingest", "iter": 1, "exit": e["exit"],
                    "records": e["records"], "valid": e["valid"], "errors": e["errors"],
                    "wall_s": 1.0, "traced": False})
        ops.append({"job": j["name"], "kind": "noop", "iter": 1, "exit": 2,
                    "records": 0, "valid": 0, "errors": {}, "wall_s": 0.5, "traced": False})
        cursor = e["cursor"]["value"] if e["cursor"] else None
        outputs.append({"job": j["name"], "iter": 1, "ingests": 1, "rows": e["rows"],
                        "checksums": dict(e["checksums"]), "cursor": cursor,
                        "files": 4, "bytes": 1000})
    return {"ops": ops, "outputs": outputs}


class CheckerTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.manifest, _ = _generate("tenant_batch", 5)

    def test_clean_run_passes(self):
        attempted, failures = check.evaluate(self.manifest, _clean_result(self.manifest))
        self.assertEqual(failures, [])
        self.assertEqual(attempted, 3 * len(self.manifest["jobs"]))

    def test_dropped_row_is_flagged(self):
        result = _clean_result(self.manifest)
        out = result["outputs"][2]
        out["rows"] -= 1
        first = next(iter(out["checksums"]))
        out["checksums"][first] -= 17  # the dropped row's event_id
        _, failures = check.evaluate(self.manifest, result)
        self.assertEqual(len(failures), 1)
        self.assertEqual(failures[0]["op"], "output")
        self.assertTrue(any(w.startswith("rows") for w in failures[0]["why"]))

    def test_wrong_exit_code_is_flagged(self):
        for kind, index in (("ingest", 0), ("noop", 1)):
            with self.subTest(kind=kind):
                result = _clean_result(self.manifest)
                result["ops"][index]["exit"] = 0 if kind == "noop" else 1
                _, failures = check.evaluate(self.manifest, result)
                self.assertEqual([f["op"] for f in failures], [kind])
                self.assertTrue(failures[0]["why"][0].startswith("exit"))

    def test_reappended_noop_is_flagged(self):
        result = _clean_result(self.manifest)
        out = result["outputs"][0]
        out["rows"] *= 2
        out["checksums"] = {k: 2 * v for k, v in out["checksums"].items()}
        _, failures = check.evaluate(self.manifest, result)
        self.assertEqual(len(failures), 1)

    def test_cursor_compares_instants_not_strings(self):
        result = _clean_result(copy.deepcopy(self.manifest))
        out = result["outputs"][0]
        value = check._timestamp(out["cursor"])
        out["cursor"] = value.strftime("%Y-%m-%d %H:%M:%S.%f").rstrip("0").rstrip(".")
        self.assertEqual(check.evaluate(self.manifest, result)[1], [])
        out["cursor"] = "1999-01-01 00:00:00"
        self.assertEqual(len(check.evaluate(self.manifest, result)[1]), 1)


class TailPercentileTest(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(check.tail_percentile(list(range(19))))
        self.assertEqual(check.tail_percentile(list(range(1, 21))), (50, 10))

    def test_picks_the_highest_qualifying_percentile(self):
        xs = list(range(1, 41))  # p75 = 30 has ten beyond it, p90 = 36 has four
        self.assertEqual(check.tail_percentile(xs), (75, 30))
        ys = list(range(1, 1001))  # p99 = 990 has ten beyond, p99.9 has one
        self.assertEqual(check.tail_percentile(ys), (99, 990))

    def test_order_does_not_matter(self):
        xs = [5, 1, 4, 2, 3] * 8
        self.assertEqual(check.tail_percentile(xs), check.tail_percentile(sorted(xs)))


if __name__ == "__main__":
    unittest.main()
