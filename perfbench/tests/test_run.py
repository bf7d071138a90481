"""Tests of run.py's oracle and result handling.

Run from the repository root:  python3 -m unittest discover -s perfbench/tests
"""
import os
import random
import shutil
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import run  # noqa: E402


class JaccardOracle(unittest.TestCase):
    def setUp(self):
        import pyarrow as pa
        import pyarrow.parquet as pq
        self.dir = tempfile.mkdtemp(dir=os.path.join(run.HERE, "work")
                                    if os.path.isdir(os.path.join(run.HERE, "work")) else None)
        rng = random.Random(3)
        words = "a the key agg row scan slow fast table value part hash".split()
        texts = [" ".join(rng.choice(words) for _ in range(rng.randint(8, 40)))
                 for _ in range(40)]
        texts += [texts[5] + " x", "  Spaced   OUT  text  ", texts[7]]
        os.makedirs(os.path.join(self.dir, "documents.parquet"))
        pq.write_table(pa.table({"doc_id": list(range(len(texts))), "text": texts}),
                       os.path.join(self.dir, "documents.parquet", "part-0.parquet"))
        self.texts = texts

    def tearDown(self):
        shutil.rmtree(self.dir, ignore_errors=True)

    def brute(self, threshold):
        import re
        from decimal import Decimal, ROUND_HALF_UP
        g = []
        for t in self.texts:
            n = re.sub(r"\s+", " ", t.lower().strip())
            g.append({n[i:i + 5] for i in range(len(n) - 4)})
        rows = []
        for a in range(len(g)):
            for b in range(a + 1, len(g)):
                na, nb, i = len(g[a]), len(g[b]), len(g[a] & g[b])
                if min(na, nb) < 0.4 * max(na, nb):
                    continue
                j = 0.0 if na + nb - i == 0 else i / (na + nb - i)
                if j >= threshold:
                    q = Decimal(repr(j)).quantize(Decimal("0.000001"), ROUND_HALF_UP)
                    rows.append((a, b, float(q)))
        return rows

    def test_matches_brute_force(self):
        for th in (0.4, 0.7):
            cols, rows = run.jaccard_pairs(self.dir, th)
            self.assertEqual(cols, ["id_a", "id_b", "jaccard"])
            self.assertEqual(sorted(rows), sorted(self.brute(th)))
        self.assertIn((7, 42, 1.0), run.jaccard_pairs(self.dir, 0.4)[1])

    def oracle_failures(self, rows):
        """oracle_check over a work directory whose dedup_minhash result
        holds `rows`."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        work = os.path.join(self.dir, "work")
        corpus, odir = os.path.join(work, "corpus"), os.path.join(work, "oracle")
        shutil.copytree(os.path.join(self.dir, "documents.parquet"),
                        os.path.join(corpus, "documents.parquet"))
        os.makedirs(os.path.join(corpus, "lineitem.parquet"))
        pq.write_table(pa.table({"l_orderkey": [0]}),
                       os.path.join(corpus, "lineitem.parquet", "part-0.parquet"))
        os.makedirs(os.path.join(odir, "dedup_minhash"))
        with open(os.path.join(odir, "oracle_sql.json"), "w") as f:
            f.write('{"dedup_minhash": "unused: computed directly"}')
        cols = list(zip(*rows)) if rows else [[], [], []]
        pq.write_table(pa.table({"id_a": pa.array(cols[0], pa.int64()),
                                 "id_b": pa.array(cols[1], pa.int64()),
                                 "jaccard": pa.array(cols[2], pa.float64())}),
                       os.path.join(odir, "dedup_minhash", "part-0.parquet"))
        failures = run.oracle_check(work)
        shutil.rmtree(work)
        return failures

    def test_minhash_result_is_gated_exactly(self):
        rows = self.brute(0.4)
        self.assertTrue(len(rows) >= 2)
        self.assertEqual(self.oracle_failures(rows), [])
        # negative controls: an empty result, a missing pair, a wrong value
        for bad in ([], rows[1:], [rows[0][:2] + (0.5,)] + rows[1:]):
            failures = self.oracle_failures(bad)
            self.assertEqual(len(failures), 1)
            self.assertIn("dedup_minhash: rows/hash", failures[0])


class Digest(unittest.TestCase):
    def test_order_independent_and_sensitive(self):
        cols = ["b", "a"]
        rows = [(1, "x"), (2.5, None), (3, "z")]
        d = run.table_digest(cols, rows)
        self.assertEqual(d, run.table_digest(["a", "b"], [(r[1], r[0]) for r in reversed(rows)]))
        self.assertNotEqual(d, run.table_digest(cols, rows[:2] + [(3, "y")]))
        self.assertNotEqual(d, run.table_digest(cols, rows[:2]))


class Metrics(unittest.TestCase):
    spec = {"end_to_end": [{"name": "latency_p50_ms", "unit": "ms"}],
            "per_layer": [{"name": "codec.decode_s", "unit": "s"}]}

    def test_missing_end_to_end_metric_is_reported(self):
        out, missing = run.select_metrics(self.spec, {}, trace=0)
        self.assertEqual((out, missing), ({}, ["latency_p50_ms"]))

    def test_unexercised_layer_reads_zero(self):
        out, missing = run.select_metrics(self.spec, {}, trace=1)
        self.assertEqual(out, {"codec.decode_s": {"value": 0, "unit": "s"}})
        self.assertEqual(missing, [])


if __name__ == "__main__":
    unittest.main()
