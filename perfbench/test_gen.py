#!/usr/bin/env python3
"""The generator's contract: the same seed gives byte-identical inputs,
another seed gives other inputs.

Run from the repository root: python3 perfbench/test_gen.py
"""
import os
import shutil
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402


class GenTest(unittest.TestCase):
    def setUp(self):
        base = os.path.join(os.path.dirname(HERE), ".bench_build")
        os.makedirs(base, exist_ok=True)
        self.tmp = tempfile.mkdtemp(dir=base)

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def digest(self, name, seed):
        out = os.path.join(self.tmp, name)
        gen.generate(out, seed, "all")
        return gen.digest(out)

    def test_same_seed_same_bytes(self):
        self.assertEqual(self.digest("a", 7), self.digest("b", 7))

    def test_other_seed_other_bytes(self):
        self.assertNotEqual(self.digest("a", 7), self.digest("b", 8))

    def test_requests_name_stored_posts(self):
        import json
        out = os.path.join(self.tmp, "c")
        gen.generate(out, 3, "social")
        with open(os.path.join(out, "social", "requests.json")) as f:
            reqs = json.load(f)
        fields = {r["field"] for r in reqs["pool"]}
        self.assertEqual(fields, set(gen.config()["workloads"]["feed_api"]["mix"]))
        with open(os.path.join(out, "social", "store_blocks.jsonl")) as f:
            blocks = f.read()
        for r in reqs["pool"]:
            if "permlink" in r["args"]:
                self.assertIn('\\"permlink\\":\\"%s\\"' % r["args"]["permlink"],
                              blocks)


if __name__ == "__main__":
    unittest.main()
