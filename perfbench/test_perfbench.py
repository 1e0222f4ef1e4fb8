"""Tests of the benchmark's own input generator and correctness gate.

    python3 -m unittest perfbench/test_perfbench.py

The second test builds the engine if needed and loads a small drop
through the same harness the benchmark runs (about a minute).
"""
import filecmp
import json
import os
import shutil
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import etl_drop  # noqa: E402
import run  # noqa: E402


class EtlDropTest(unittest.TestCase):
    def setUp(self):
        os.makedirs(run.WORK, exist_ok=True)
        self.tmp = tempfile.mkdtemp(dir=run.WORK)

    def tearDown(self):
        shutil.rmtree(self.tmp, ignore_errors=True)

    def test_same_seed_same_bytes(self):
        dirs = [os.path.join(self.tmp, d) for d in ("a", "b", "c")]
        etl_drop.generate(dirs[0], 11, 300, 900)
        etl_drop.generate(dirs[1], 11, 300, 900)
        etl_drop.generate(dirs[2], 12, 300, 900)
        names = sorted(os.listdir(dirs[0]))
        self.assertEqual(names, ["manifest.json", "tbl_conducta_diaria.csv",
                                 "tbl_estados_operativos.csv"])
        match, mismatch, errors = filecmp.cmpfiles(dirs[0], dirs[1], names, shallow=False)
        self.assertEqual((mismatch, errors), ([], []))
        _, differ, _ = filecmp.cmpfiles(dirs[0], dirs[2], names, shallow=False)
        self.assertEqual(sorted(differ), names)

    def test_manifest_matches_actual_load(self):
        drop = os.path.join(self.tmp, "drop")
        manifest = etl_drop.generate(drop, 7, 400, 1600)
        for key in ("conducta", "estados"):
            self.assertGreater(manifest[key]["bad_rows"], 0)
        run_dir = os.path.join(self.tmp, "run")
        os.makedirs(run_dir)
        kv = {"workload": "etl_daily", "seed": 7, "seconds": 0, "trace": 0,
              "nproc": 2, "work": run_dir, "drop": drop,
              "out": os.path.join(run_dir, "result.json")}
        res = run.run_harness(run.build(), kv, run_dir)
        errors = [o["error"] for o in res["warm_up"] + res["ops"] if o["error"]]
        self.assertEqual(errors, [])
        problems = run.manifest_compare(res["checks"], manifest)
        self.assertEqual(problems, {"after_load": [], "after_rerun": []})
        # every raw row is read; exactly the deliberately bad ones are dropped
        first = res["warm_up"][0]["op"]
        counts = {}
        for c in res["counts"]:
            if c["op"] == first and c["name"].startswith("conform."):
                counts[c["name"]] = counts.get(c["name"], 0) + c["value"]
        raw = manifest["conducta"]["raw_rows"] + manifest["estados"]["raw_rows"]
        bad = manifest["conducta"]["bad_rows"] + manifest["estados"]["bad_rows"]
        self.assertEqual(counts, {"conform.rows_in": raw, "conform.rows_out": raw - bad})

    def test_manifest_compare_flags_duplicates(self):
        manifest = etl_drop.generate(os.path.join(self.tmp, "d"), 3, 50, 50)
        snap = {r: {d: {"rows": e["rows"], "minutes": dict(e["minutes"])}
                    for d, e in manifest[k]["by_fecha"].items()}
                for r, k in (("conducta", "conducta"), ("estados_operativos", "estados"))}
        doubled = json.loads(json.dumps(snap))
        for e in doubled["conducta"].values():
            e["rows"] *= 2
        problems = run.manifest_compare({"after_load": snap, "after_rerun": doubled}, manifest)
        self.assertEqual(problems["after_load"], [])
        self.assertTrue(problems["after_rerun"])


if __name__ == "__main__":
    unittest.main()
