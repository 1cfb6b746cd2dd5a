"""Tests of the perfbench input generator: the same seed gives identical
bytes, and the inputs have the shapes the workloads rely on.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import hashlib
import json
import os
import shutil
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402

SCRATCH = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), ".bench_build", "perfbench")


def digests(d):
    out = {}
    for f in sorted(os.listdir(d)):
        with open(os.path.join(d, f), "rb") as fh:
            out[f] = hashlib.sha256(fh.read()).hexdigest()
    return out


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        os.makedirs(SCRATCH, exist_ok=True)
        self.tmp = tempfile.mkdtemp(prefix="gen-test-", dir=SCRATCH)

    def tearDown(self):
        shutil.rmtree(self.tmp, ignore_errors=True)

    def make(self, workload, seed, name):
        d = os.path.join(self.tmp, name)
        os.makedirs(d)
        gen.GENERATORS[workload](seed, d)
        return d

    def test_same_seed_gives_identical_bytes(self):
        for w in sorted(gen.GENERATORS):
            with self.subTest(workload=w):
                a = digests(self.make(w, 7, w + "-a"))
                b = digests(self.make(w, 7, w + "-b"))
                self.assertTrue(a)
                self.assertEqual(a, b)

    def test_other_seed_gives_other_inputs(self):
        for w in sorted(gen.GENERATORS):
            with self.subTest(workload=w):
                a = digests(self.make(w, 7, w + "-a"))
                b = digests(self.make(w, 8, w + "-b"))
                self.assertNotEqual(a, b)

    def test_etl_inputs(self):
        d = self.make("chado-etl", 3, "etl")
        with open(os.path.join(d, "release_v1.gff3")) as f:
            v1 = f.read()
        with open(os.path.join(d, "release_v2.gff3")) as f:
            v2 = f.read()
        for doc in (v1, v2):
            self.assertIn("##sequence-region chr1 1 ", doc)
            self.assertIn("\n##FASTA\n>chr1\n", doc)
            self.assertIn("Target=est_contig", doc)
            self.assertRegex(doc, r"\tCDS\t.*Parent=\w+_T1,\w+_T2")

        def ids(doc):
            body = doc.split("##FASTA")[0]
            return {line.split("\t")[8].split(";")[0]
                    for line in body.splitlines()
                    if line and not line.startswith("#")}
        i1, i2 = ids(v1), ids(v2)
        # v2 overlaps v1 in part: shared features, and new ones on each side
        self.assertTrue(i1 & i2 and i1 - i2 and i2 - i1)
        with open(os.path.join(d, "expected.json")) as f:
            exp = json.load(f)
        self.assertEqual(exp["gff3_v1"]["feature"], len(i1))
        self.assertEqual(exp["gff3_v2"]["feature"], len(i2 - i1))
        self.assertGreater(exp["obo_v2"]["pruned"], 0)
        self.assertGreater(exp["obo_v2"]["updated"], 0)
        self.assertEqual(exp["gaf_export_rows"],
                         exp["gaf_load"]["feature_cvterm"])
        # the v2 header date is later, so the version gate lets v2 load
        dates = []
        for v in ("go_v1.obo", "go_v2.obo"):
            with open(os.path.join(d, v)) as f:
                dates.append([line for line in f if line.startswith("date:")][0])
        key = [(x[12:16], x[9:11], x[6:8]) for x in dates]
        self.assertLess(key[0], key[1])

    def test_ingest_steps_never_reuse_ids_or_append_nothing(self):
        d = self.make("text", 5, "text")
        with open(os.path.join(d, "corpus.tsv")) as f:
            live = {int(line.split("\t")[0]) for line in f}
        seen = set(live)
        with open(os.path.join(d, "steps.tsv")) as f:
            lines = f.read().splitlines()
        i = 0
        while i < len(lines):
            n = int(lines[i].split("\t")[1])
            self.assertGreater(n, 0)
            batch = [int(x.split("\t")[0]) for x in lines[i + 1:i + 1 + n]]
            self.assertFalse(seen & set(batch))
            seen.update(batch)
            live.update(batch)
            dels = [int(x) for x in lines[i + 1 + n].split("\t")[1].split(",")]
            self.assertTrue(set(dels) <= live)
            live -= set(dels)
            self.assertTrue(lines[i + 2 + n].startswith("query\t"))
            i += n + 3


if __name__ == "__main__":
    unittest.main()
