"""Generator determinism: the same seed gives the same input hashes, a
different seed different ones. Uses the smallest fixture set."""
import os
import shutil
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import run  # noqa: E402

# the smallest fixture set, next to the benchmark's default one
FIXTURES = os.environ.get("PERFBENCH_TEST_FIXTURES", os.path.join(
    os.path.dirname(run.DEFAULT_FIXTURES), "sf0.001"))
TMP = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))), ".bench_build", "tmp")


@unittest.skipUnless(os.path.isdir(FIXTURES), f"no fixtures at {FIXTURES}")
class GeneratorTest(unittest.TestCase):
    def setUp(self):
        os.makedirs(TMP, exist_ok=True)
        self.dir = tempfile.mkdtemp(dir=TMP)

    def tearDown(self):
        shutil.rmtree(self.dir, ignore_errors=True)

    def hashes(self, seed, sub):
        _, _, times, recs = gen.generate("corpus_jobs", seed, FIXTURES,
                                         os.path.join(self.dir, sub), 2, 20, 1)
        self.assertEqual(len(times), 1)
        return {r["name"]: r["hash"] for r in recs}

    def test_same_seed_same_hashes(self):
        self.assertEqual(self.hashes(5, "a"), self.hashes(5, "b"))

    def test_other_seed_other_hashes(self):
        a, b = self.hashes(5, "a"), self.hashes(6, "b")
        for t in ("documents", "embeddings", "update_batch"):
            self.assertNotEqual(a[t], b[t], t)
        # copies of the fixture do not depend on the seed
        self.assertEqual(a["lineitem"], b["lineitem"])

    def test_replica_zero_is_the_fixture(self):
        import pyarrow.parquet as pq
        out = os.path.join(self.dir, "r")
        gen.corpus_replica(FIXTURES, out, 2, 9)
        fx = pq.read_table(f"{FIXTURES}/documents.parquet").to_pydict()
        rep = pq.ParquetDataset(f"{out}/documents.parquet").read().to_pydict()
        n = len(fx["doc_id"])
        self.assertEqual(len(rep["doc_id"]), 2 * n)
        self.assertEqual(rep["text"][:n], fx["text"])
        self.assertEqual(rep["doc_id"][n:], [i + gen.ID_STRIDE for i in fx["doc_id"]])
        # replica 1 keeps each document's words, in another order
        self.assertEqual(sorted(rep["text"][n].split()), sorted(fx["text"][0].split()))

    def test_update_batch_is_monotone_with_exact_duplicates(self):
        import pyarrow.parquet as pq
        out = os.path.join(self.dir, "u")
        gen.corpus_replica(FIXTURES, out, 1, 3)
        gen.update_batch(out, f"{out}/batch.parquet", 3, 10)
        corpus = pq.ParquetDataset(f"{out}/documents.parquet").read().to_pydict()
        batch = pq.read_table(f"{out}/batch.parquet").to_pydict()
        self.assertGreater(min(batch["doc_id"]), max(corpus["doc_id"]))
        texts = set(corpus["text"])
        self.assertTrue(all(t in texts for t in batch["text"][0::2]))
        self.assertFalse(any(t in texts for t in batch["text"][1::2]))
        vocab = {w for t in corpus["text"] for w in t.split()}
        self.assertFalse(any(w in vocab for t in batch["text"][1::2]
                             for w in t.split()))


if __name__ == "__main__":
    unittest.main()
