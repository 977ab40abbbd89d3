"""Self-test of the benchmark: the generator is deterministic per seed, its
bookkeeping report equals the DuckDB twin of the q06 oracle, and the
program's report equals the expected report on a tiny seed (and a corrupted
expectation is caught).

    python3 perfbench/test_perfbench.py
"""
import filecmp
import json
import os
import shutil
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402

SCRATCH = os.path.join(run.WORK, "selftest")


def files_under(d):
    return sorted(os.path.relpath(os.path.join(p, f), d)
                  for p, _, fs in os.walk(d) for f in fs)


class GeneratorTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        shutil.rmtree(SCRATCH, ignore_errors=True)
        cls.a = os.path.join(SCRATCH, "a")
        gen.generate("tiny", 7, cls.a)

    def test_same_seed_same_files(self):
        b = os.path.join(SCRATCH, "b")
        gen.generate("tiny", 7, b)
        names = files_under(self.a)
        self.assertEqual(names, files_under(b))
        _, mismatch, errors = filecmp.cmpfiles(self.a, b, names, shallow=False)
        self.assertEqual((mismatch, errors), ([], []))

    def test_other_seed_other_catalog(self):
        c = os.path.join(SCRATCH, "c")
        gen.generate("tiny", 8, c)
        self.assertFalse(filecmp.cmp(os.path.join(self.a, "catalog", "part-000.parquet"),
                                     os.path.join(c, "catalog", "part-000.parquet"),
                                     shallow=False))

    def test_bookkeeping_equals_duckdb_oracle(self):
        with open(os.path.join(self.a, "expected.json")) as f:
            expected = json.load(f)["rows"]
        self.assertGreater(len(expected), 10)
        got = oracle.events_report(self.a, gen.SIZES["tiny"]["prop_cols"])
        self.assertEqual(sorted(map(tuple, expected)), sorted(map(tuple, got)))

    def test_stream_prefixes_end_with_the_whole_report(self):
        d = os.path.join(SCRATCH, "stream")
        gen.generate("stream_ingest", 3, d)
        with open(os.path.join(d, "expected.json")) as f:
            e = json.load(f)
        self.assertEqual(len(e["prefixes"]), gen.STREAM_BATCHES)
        self.assertEqual(e["prefixes"][-1], e["rows"])
        self.assertEqual(len(os.listdir(os.path.join(d, "batches"))), gen.STREAM_BATCHES)


class PipelineTest(unittest.TestCase):
    """The program, built from this checkout, against the expected report."""

    @classmethod
    def setUpClass(cls):
        cls.cp = run.build()
        cls.data = os.path.join(SCRATCH, "pipeline")
        shutil.rmtree(cls.data, ignore_errors=True)
        gen.generate("tiny", 5, cls.data)

    def run_report(self, data, trace):
        work = os.path.join(SCRATCH, f"work-{trace}")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        return run.run_jvm(self.cp, "daily_report", 0.1, trace, data, work)

    def test_run_equals_expected(self):
        res = self.run_report(self.data, trace=1)
        self.assertEqual(res["failed"], 0, res["notes"])
        # the cold report, at least one warm report, traced and decomposed
        self.assertGreaterEqual(res["attempted"], 4)
        # the traced run's curation outputs against the registry's oracles
        self.assertEqual(run.check_curation(os.path.join(SCRATCH, "work-1"), self.data), [])

    def test_corrupted_expectation_fails(self):
        bad = os.path.join(SCRATCH, "corrupted")
        shutil.rmtree(bad, ignore_errors=True)
        shutil.copytree(self.data, bad)
        path = os.path.join(bad, "expected.json")
        with open(path) as f:
            e = json.load(f)
        e["rows"][0][3] += 1  # one value_not_null_count off by one
        with open(path, "w") as f:
            json.dump(e, f)
        res = self.run_report(bad, trace=0)
        self.assertEqual(res["failed"], res["attempted"])


if __name__ == "__main__":
    unittest.main()
