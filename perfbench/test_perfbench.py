"""Self-tests of the benchmark. Run from the repo root:

    python3 perfbench/test_perfbench.py

They check that the page generator is deterministic and that its
manifest matches the pages, that the query check catches a result with
one row dropped, and that the ETL check catches a planted duplicate
videoId (this one compiles the program and runs one JVM).
"""
import glob
import json
import os
import shutil
import sys
import time
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import gen_pages  # noqa: E402
import gen_tables  # noqa: E402
import run  # noqa: E402

ROOT = os.getcwd()
SCRATCH = os.path.join(ROOT, ".bench_build", "perfbench", "selftest")


def tree_bytes(d):
    out = {}
    for p in sorted(glob.glob(os.path.join(d, "**", "*"), recursive=True)):
        if os.path.isfile(p):
            with open(p, "rb") as f:
                out[os.path.relpath(p, d)] = f.read()
    return out


class PerfbenchSelfTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        shutil.rmtree(SCRATCH, ignore_errors=True)
        os.makedirs(SCRATCH)

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(SCRATCH, ignore_errors=True)

    def test_generator_is_deterministic(self):
        a, b, c = (os.path.join(SCRATCH, n) for n in ("a", "b", "c"))
        gen_pages.generate(a, 11)
        gen_pages.generate(b, 11)
        gen_pages.generate(c, 12)
        self.assertEqual(tree_bytes(a), tree_bytes(b))
        self.assertNotEqual(tree_bytes(a), tree_bytes(c))

    def test_manifest_matches_pages(self):
        d = os.path.join(SCRATCH, "m")
        m = gen_pages.generate(d, 3)
        prev = set()
        for day in ("day1", "day2"):
            ids = []
            for p in sorted(glob.glob(os.path.join(d, day, "playlists", "*.json"))):
                with open(p) as f:
                    ids += [i["contentDetails"]["videoId"] for i in json.load(f)["items"]]
            self.assertEqual(m[day]["fetched"], len(ids))
            self.assertEqual(m[day]["unique"], len(set(ids)))
            self.assertEqual(m[day]["duplicates"], len(ids) - len(set(ids)))
            self.assertEqual(m[day]["new"], len(set(ids) - prev))
            self.assertGreater(m[day]["duplicates"], 0)
            prev = set(ids)
        self.assertGreater(m["day2"]["new"], 0)

    def test_query_check_catches_dropped_row(self):
        data = os.path.join(SCRATCH, "tables")
        gen_tables.generate(data, 0.001, 1)
        con, compare = checks.connect(ROOT, data, SCRATCH)
        sql = ("SELECT c_mktsegment, count(*) AS n, round(sum(c_acctbal), 2) AS bal "
               "FROM customer GROUP BY 1 ORDER BY 1")
        good, bad = os.path.join(SCRATCH, "good"), os.path.join(SCRATCH, "bad")
        for d, q in ((good, sql), (bad, f"SELECT * FROM ({sql}) OFFSET 1")):
            os.makedirs(d)
            con.execute(f"COPY ({q}) TO '{d}/part-0.parquet' (FORMAT PARQUET)")
        self.assertEqual(checks.check_result(con, compare, good, sql), "")
        self.assertIn("row count", checks.check_result(con, compare, bad, sql))
        self.assertIn("no result", checks.check_result(
            con, compare, os.path.join(SCRATCH, "missing"), sql))

    def test_etl_check_catches_planted_duplicate(self):
        cp = build.ensure(ROOT, os.path.join(ROOT, ".bench_build", "perfbench"))
        work = os.path.join(SCRATCH, "etl")
        os.makedirs(os.path.join(work, "local"))
        gen_pages.generate(os.path.join(work, "pages"), 5)
        out = os.path.join(work, "selftest.json")
        run.run_jvm(cp, work, ["--workload", "selftest", "--seed", "5", "--seconds", "1",
                               "--work", work, "--pages", os.path.join(work, "pages"),
                               "--out", out], deadline=time.time() + 600)
        with open(out) as f:
            r = json.load(f)
        self.assertEqual(r["clean"], "")
        self.assertIn("duplicate videoId", r["planted"])


if __name__ == "__main__":
    unittest.main()
