"""Tests of tools/merge_stress.py against the committed stress artifacts.

Every committed pass set is re-merged into a temp copy of its tier, and
the merged section must equal the committed one field for field. Tier
sections that the committed passes do NOT reproduce are listed in GAPS
with the reason, and must stay unreproduced: a gap that closes belongs
in REPRODUCED.

Run from the checkout root:  python3 tools/test_merge_stress.py
"""
import glob
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import merge_stress  # noqa: E402

TOOL = os.path.join(HERE, "merge_stress.py")

# (section, pass glob under stress_passes/, tier); section None = campaign
REPRODUCED = [
    (None, "s100r15_p*.json", "stress_100x.json"),
    (None, "s30hr15_p*.json", "stress_30x_heavy.json"),
    ("dml", "sdml1_p*.json", "stress_1x.json"),
    ("dml", "sdml10_p*.json", "stress_10x.json"),
    ("dml", "sdml100_p*.json", "stress_100x.json"),
    ("dml", "sdml30_p*.json", "stress_30x_heavy.json"),
    # the _p1/_p2 passes, not the pre-skew-fix ones
    ("probe", "sprobe1_p?.json", "stress_1x.json"),
    ("probe", "sprobe10_p?.json", "stress_10x.json"),
    ("probe", "sprobe30_p?.json", "stress_30x.json"),
    ("probe", "sprobe100_p?.json", "stress_100x.json"),
    ("stream", "sstream1_p*.json", "stress_1x.json"),
    ("stream", "sstream10_p*.json", "stress_10x.json"),
    ("stream", "sstream30_p*.json", "stress_30x_heavy.json"),
]

# the campaign rows that q111 passes later replaced
Q111 = ("queries", "q111_substring_dedup")

# (section, pass glob, tier, why the committed passes do not reproduce it)
GAPS = [
    ("stream", "sstream100_p*.json", "stress_100x.json",
     "the tier records revision 81ff36c; the committed passes ran at "
     "a1ce79c and re-merge to bm25_stream.drain_sec 7.66 s, not 3.56 s"),
    ("q111", "sq111_30_p*.json", "stress_30x_heavy.json",
     "the committed row predates steady_repeats_per_pass"),
    ("q111", "sq111_100_p*.json", "stress_100x.json",
     "the passes span four engine revisions, so the merge refuses them"),
]

# tier sections merged from passes that were never committed
NO_PASSES = {"pq": ("ivf_pq",), "store": ("bm25_store", "lsh_store"),
             "compact": ("index_compaction",)}


def committed(pattern, folder="stress_passes"):
    found = sorted(glob.glob(os.path.join(ROOT, folder, pattern)))
    assert found, f"no committed passes match {folder}/{pattern}"
    return found


def load(path):
    with open(path) as f:
        return json.load(f)


def dig(doc, path):
    for k in path:
        doc = doc[k]
    return doc


def paths_of(section):
    return [path for _, path, _ in merge_stress.SECTIONS[section][1]]


class MergeStressTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp(prefix="merge-stress-")

    def tearDown(self):
        shutil.rmtree(self.tmp, ignore_errors=True)

    def merge(self, section, tier, passes):
        """Runs the tool into a temp copy of the tier; (exit code, result)."""
        out = os.path.join(self.tmp, "tier.json")
        if section:
            shutil.copy(os.path.join(ROOT, tier), out)
            args = ["--section", section, out]
        else:
            args = [out]
        p = subprocess.run([sys.executable, TOOL] + args + passes, cwd=ROOT,
                           capture_output=True, text=True)
        return p.returncode, (load(out) if p.returncode == 0 else p.stderr)

    def test_committed_passes_reproduce_their_tier(self):
        for section, pattern, tier in REPRODUCED:
            with self.subTest(section=section, passes=pattern, tier=tier):
                code, merged = self.merge(section, tier, committed(pattern))
                self.assertEqual(code, 0, merged)
                want = load(os.path.join(ROOT, tier))
                if section is None:
                    for key, value in merged.items():
                        if key == "queries":
                            value = {q: v for q, v in value.items() if q != Q111[1]}
                            self.assertEqual(value, {q: v for q, v in want[key].items()
                                                     if q != Q111[1]})
                        else:
                            self.assertEqual(value, want[key], key)
                else:
                    for path in paths_of(section):
                        self.assertEqual(dig(merged, path), dig(want, path), path)

    def test_listed_gaps_stay_unreproduced(self):
        for section, pattern, tier, why in GAPS:
            with self.subTest(section=section, passes=pattern, why=why):
                code, merged = self.merge(section, tier, committed(pattern))
                if code == 0:
                    want = load(os.path.join(ROOT, tier))
                    self.assertNotEqual([dig(merged, p) for p in paths_of(section)],
                                        [dig(want, p) for p in paths_of(section)])
                else:
                    self.assertEqual(code, 1, merged)
                    self.assertIn("different ENGINES", merged)

    def test_sections_without_committed_passes(self):
        metrics = {load(f).get("metric") for f in glob.glob(
            os.path.join(ROOT, "stress_passes*", "*.json"))}
        for section, keys in NO_PASSES.items():
            self.assertNotIn(merge_stress.SECTIONS[section][0], metrics)
            self.assertEqual([p[-1] for p in paths_of(section)], list(keys))

    def test_champ_passes_land_in_a_tier(self):
        for path in committed("schamp*_p1.json", "stress_passes_r22"):
            with self.subTest(passes=os.path.basename(path)):
                p = load(path)
                tier = f"stress_{p['copies']}x.json"
                code, merged = self.merge("champ", tier, [path])
                self.assertEqual(code, 0, merged)
                row = merged["bm25_probe_after_append"]
                for field, value in p["bm25_probe_after_append"].items():
                    self.assertEqual(row[field], value, field)
                self.assertEqual((row["passes"], row["revision"]), (1, p["revision"]))
                self.assertNotIn("bm25_probe_after_append", load(os.path.join(ROOT, tier)))

    def test_refuses_a_pass_of_another_tier_or_section(self):
        dml10 = committed("sdml10_p*.json")
        code, err = self.merge("dml", "stress_1x.json", dml10)
        self.assertEqual(code, 1)
        self.assertIn("different tier", err)
        code, err = self.merge("probe", "stress_10x.json", dml10)
        self.assertEqual(code, 1)
        self.assertIn("not a stress_probe pass", err)

    def test_median_min_and_per_pass_rule(self):
        rule = merge_stress.Rule(base_by=("t",), spread=("t",), per_pass=("t",),
                                 keep_min=("b",))
        merged = merge_stress.merge(
            [{"t": 3.0, "b": 9, "rows": 1}, None, {"t": 1.0, "b": 4, "rows": 2}],
            rule, "x")
        self.assertEqual(merged, {"t": 2.0, "t_min": 1.0, "t_max": 3.0, "b": 4,
                                  "rows": 1, "t_per_pass": [3.0, None, 1.0]})


if __name__ == "__main__":
    unittest.main()
