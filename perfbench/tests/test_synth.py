"""Synthesizer tests: determinism, planted features and derived facts.

    python3 -m unittest discover -s perfbench/tests
"""

import csv
import filecmp
import io
import json
import os
import random
import re
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import synth  # noqa: E402


def parse_log(data):
    lines = data.decode("ascii").splitlines()
    header = lines[0].split(";")
    rows = [line.split(";") for line in lines[1:]]
    return header, rows


def tree(root):
    out = []
    for d, _, names in os.walk(root):
        out += [os.path.relpath(os.path.join(d, n), root) for n in names]
    return sorted(out)


class Determinism(unittest.TestCase):
    def generate(self, workload, seed):
        d = tempfile.mkdtemp(dir=self.tmp.name)
        synth.generate(workload, seed, d)
        return d

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()

    def tearDown(self):
        self.tmp.cleanup()

    def test_same_seed_same_bytes(self):
        a, b = self.generate("ride_upload", 7), self.generate("ride_upload", 7)
        files = tree(a)
        self.assertEqual(files, tree(b))
        for f in files:
            if f == "manifest.json":
                continue   # holds absolute paths
            self.assertTrue(filecmp.cmp(os.path.join(a, f), os.path.join(b, f),
                                        shallow=False), f)
        with open(os.path.join(a, "manifest.json")) as fa, \
                open(os.path.join(b, "manifest.json")) as fb:
            self.assertEqual(fa.read().replace(a, ""), fb.read().replace(b, ""))

    def first_ride(self, d):
        with open(os.path.join(d, "manifest.json")) as f:
            path = json.load(f)["groups"]["rides"]["rides"][0]["path"]
        with open(path, "rb") as f:
            return f.read()

    def test_other_seed_other_bytes(self):
        a, b = self.generate("ride_upload", 7), self.generate("ride_upload", 8)
        self.assertNotEqual(self.first_ride(a), self.first_ride(b))

    def test_manifest_lists_every_group(self):
        d = self.generate("long_ride", 1)
        with open(os.path.join(d, "manifest.json")) as f:
            m = json.load(f)
        self.assertEqual(sorted(m["groups"]), ["probe", "rides"])
        self.assertEqual([r["malformed_cells"] for r in m["groups"]["probe"]["rides"]], [1])
        for r in m["groups"]["rides"]["rides"]:
            self.assertEqual(r["malformed_cells"], 0)
            self.assertTrue(os.path.isfile(r["path"]))
        self.assertTrue(os.path.isfile(m["groups"]["rides"]["annotations"]))


class PlantedFeatures(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.data, cls.facts = synth.ride_log(random.Random(3), 2, malformed=True)
        cls.header, cls.rows = parse_log(cls.data)
        cls.ms = [int(r[0]) for r in cls.rows]

    def test_header_is_the_55_field_layout(self):
        self.assertEqual(self.header[:-1], synth.FIELDS)
        self.assertEqual(self.header[-1], "")          # trailing semicolon
        self.assertTrue(all(len(r) == 56 and r[-1] == "" for r in self.rows))

    def test_file_name_carries_the_ride_date(self):
        name = synth.log_name(__import__("datetime").date(2025, 3, 4), 45_296_000)
        self.assertEqual(name, "2025-03-04_12-34-56.csv")
        self.assertRegex(name, r"^\d{4}-\d{2}-\d{2}_\d{2}-\d{2}-\d{2}\.csv$")

    def test_duplicate_ms_today(self):
        self.assertLess(len(set(self.ms)), len(self.ms))

    def test_out_of_order_row(self):
        self.assertTrue(any(b < a for a, b in zip(self.ms, self.ms[1:])))

    def test_small_and_wide_gaps(self):
        s = sorted(set(self.ms))
        gaps = [b - a for a, b in zip(s, s[1:])]
        self.assertTrue(any(100 < g <= 250 for g in gaps))
        self.assertTrue(any(g > 250 for g in gaps))

    def test_one_malformed_cell_off_the_grid(self):
        col = synth.FIELDS.index("current_motor")
        bad = [r for r in self.rows if r[col] == "1.2.3"]
        self.assertEqual(len(bad), 1)
        self.assertEqual((int(bad[0][0]) - self.facts["first_ms"]) % 100, 50)
        clean, _ = synth.ride_log(random.Random(3), 2)
        self.assertNotIn(b"1.2.3", clean)

    def test_grid_facts(self):
        f = self.facts
        self.assertEqual(f["raw_rows"], len(self.rows))
        self.assertEqual(f["first_ms"], min(self.ms))
        self.assertEqual(f["last_ms"], max(self.ms))
        self.assertEqual(f["grid_rows"], (f["last_ms"] - f["first_ms"]) // 100 + 1)
        self.assertGreater(f["voided_rows"], 0)
        # the wide gap drops some windows, not all
        self.assertLess(f["windows"], f["candidate_windows"])
        self.assertGreater(f["windows"], 0)
        self.assertEqual(f["candidate_windows"], (f["grid_rows"] - 30) // 5 + 1)
        self.assertEqual(f["timeline_rows"], f["windows"])

    def test_window_threshold(self):
        # a window with 9 voided rows of 30 keeps exactly 70 % finite cells
        real = list(range(0, 10_000, 50))
        real = [t for t in real if not 1_000 < t < 2_000]
        f = synth.grid_facts(real)
        self.assertEqual(f["voided_rows"], 9)
        self.assertEqual(f["windows"], f["candidate_windows"])
        f = synth.grid_facts([t for t in real if not 1_000 < t < 2_100])
        self.assertEqual(f["voided_rows"], 10)
        self.assertLess(f["windows"], f["candidate_windows"])


class LabelStudio(unittest.TestCase):
    def test_export_layout_and_range_count(self):
        _, facts = synth.ride_log(random.Random(5), 2)
        facts["name"] = "x.csv"
        data, kept = synth.label_studio(random.Random(5), facts, 20)
        rows = list(csv.reader(io.StringIO(data.decode("utf-8"))))
        header, body = rows[0], rows[1:]
        self.assertEqual(header[:3], ["annotation_id", "annotator", "behaviors"])
        self.assertEqual(header[3:16], ["conf_" + b for b in synth.BEHAVIORS])
        self.assertEqual(len(body), 1)
        items = [it for cell in body[0][3:16] for it in json.loads(cell)]
        self.assertEqual(kept, sum(1 for it in items if "number" in it))
        self.assertEqual(len(items) - kept, 1)       # one range without number
        self.assertEqual(kept, len(synth.BEHAVIORS) + 20 + 7)
        stamp = re.compile(r"^\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}\.\d{3}$")
        for it in items:
            self.assertRegex(it["start"], stamp)
            self.assertLess(it["start"], it["end"])
            self.assertEqual(len(it["timeserieslabels"]), 1)

    def test_same_seed_same_export(self):
        _, facts = synth.ride_log(random.Random(5), 2)
        facts["name"] = "x.csv"
        self.assertEqual(synth.label_studio(random.Random(9), facts, 5),
                         synth.label_studio(random.Random(9), facts, 5))


if __name__ == "__main__":
    unittest.main()
