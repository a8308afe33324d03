"""The board check passes a correct answer and fires on corrupted ones.

Run from the repository root: python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import shutil
import sys
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import check_board  # noqa: E402


def vec(*xs):
    return [float(x) for x in xs]


class CheckBoardTest(unittest.TestCase):
    def setUp(self):
        self.dir = tempfile.mkdtemp(prefix="perfbench-check-")
        tables = os.path.join(self.dir, "tables")
        self.write(os.path.join(tables, "lineitem.parquet"), pa.table(
            {"l_returnflag": ["A", "A", "N"], "l_quantity": [1.0, 2.0, 4.0]}))
        # three tight points, one point near them, one far away
        emb = [vec(1, 0, 0), vec(1, 0.1, 0), vec(1, 0, 0.1), vec(1, 0.1, 0.1),
               vec(0.3, 1, 0), vec(-1, 0, 0)]
        self.write(os.path.join(tables, "embeddings.parquet"), pa.table(
            {"vec_id": pa.array(range(len(emb)), pa.int64()),
             "embedding": pa.array(emb, pa.list_(pa.float32()))}))
        self.out = os.path.join(self.dir, "check")
        os.makedirs(self.out)
        open(os.path.join(self.out, "tables"), "w").write(tables)
        self.oracle = {
            "q03_agg_pricing": "SELECT l_returnflag, round(sum(l_quantity), 4) sum_qty "
                               "FROM lineitem GROUP BY 1 ORDER BY 1",
            "q236_dbscan": "SELECT 1",
            # the shape of the oracle's closure: pair CTEs, then the reach
            "q220_cc_augment": "WITH RECURSIVE pairs AS (SELECT * FROM (VALUES "
                               "(1, 2), (2, 5), (7, 9)) t(da, db)), edges AS (SELECT 1) "
                               "SELECT 1",
            "q40_minhash_dedup": "SELECT da, db, CAST(j AS DOUBLE) j FROM (VALUES " + ", ".join(
                f"({i}, {i + 1}, 0.7)" for i in range(1, 41)) + ") t(da, db, j)"}
        json.dump(self.oracle, open(os.path.join(self.out, "oracle_sql.json"), "w"))
        self.answers = {
            "q03_agg_pricing": pa.table({"l_returnflag": ["A", "N"], "sum_qty": [3.0, 4.0]}),
            "q236_dbscan": pa.table({
                "vec_id": pa.array(range(6), pa.int64()),
                "role": ["core"] * 4 + ["border", "noise"],
                "cluster": pa.array([0, 0, 0, 0, 0, None], pa.int64())}),
            "q220_cc_augment": pa.table({"doc_id": pa.array([1, 2, 5, 7, 9], pa.int64()),
                                         "cluster": pa.array([1, 1, 1, 7, 7], pa.int64())}),
            "q40_minhash_dedup": self.pairs(range(1, 41)),
            "q40b_minhash_probe": self.pairs(range(1, 41)),
            "q75_simhash_neardup": pa.table({"da": [1], "db": [3]}),
            "q75b_neardup_probe": pa.table({"da": [1], "db": [3]}),
            "q214_ivfpq_recall": pa.table({"probe_id": [0, 0, 0], "rn": [1, 2, 3],
                                           "nn_id": [0, 5, 9], "sim": [1.0, 0.9, 0.8],
                                           "ok": [True] * 3}),
            "q214b_ivfpq_probe": pa.table({"probe_id": [0, 0, 0], "nn_id": [0, 5, 7],
                                           "sim": [1.0, 0.9, 0.7], "rn": [1, 2, 3]}),
        }

    def tearDown(self):
        shutil.rmtree(self.dir)

    @staticmethod
    def pairs(ids):
        ids = list(ids)
        return pa.table({"da": pa.array(ids, pa.int32()),
                         "db": pa.array([i + 1 for i in ids], pa.int32()),
                         "j": [0.7] * len(ids)})

    @staticmethod
    def write(path, table):
        os.makedirs(path, exist_ok=True)
        pq.write_table(table, os.path.join(path, "part-0.parquet"))

    def run_check(self, **corrupt):
        for name, table in {**self.answers, **corrupt}.items():
            shutil.rmtree(os.path.join(self.out, name), ignore_errors=True)
            self.write(os.path.join(self.out, name), table)
        return check_board.check(self.out)[0]

    def test_correct_answers_pass(self):
        self.assertEqual(self.run_check(), [])

    def test_oracle_mismatch_fires(self):
        bad = pa.table({"l_returnflag": ["A", "N"], "sum_qty": [3.0, 4.5]})
        self.assertTrue(any("q03" in p for p in self.run_check(q03_agg_pricing=bad)))
        short = pa.table({"l_returnflag": ["A"], "sum_qty": [3.0]})
        self.assertTrue(any("q03" in p for p in self.run_check(q03_agg_pricing=short)))

    def test_dbscan_mismatch_fires(self):
        bad = self.answers["q236_dbscan"].set_column(
            1, "role", pa.array(["core"] * 5 + ["noise"]))
        self.assertTrue(any("q236" in p for p in self.run_check(q236_dbscan=bad)))

    def test_closure_mismatch_fires(self):
        bad = pa.table({"doc_id": pa.array([1, 2, 5, 7, 9], pa.int64()),
                        "cluster": pa.array([1, 1, 2, 7, 7], pa.int64())})
        self.assertTrue(any("q220" in p for p in self.run_check(q220_cc_augment=bad)))

    def test_probe_differing_from_its_twin_fires(self):
        bad = self.pairs(range(2, 41))
        self.assertTrue(any("q40b" in p for p in self.run_check(q40b_minhash_probe=bad)))

    def test_lsh_entry_may_miss_few_pairs_but_never_invent_one(self):
        few = self.pairs(range(2, 41))  # one of 40 missed: a note, no failure
        problems = self.run_check(q40_minhash_dedup=few, q40b_minhash_probe=few)
        self.assertEqual(problems, [])
        many = self.pairs(range(5, 41))  # four of 40 missed: below the floor
        self.assertTrue(any("q40_" in p for p in self.run_check(
            q40_minhash_dedup=many, q40b_minhash_probe=many)))
        wrong = self.pairs(list(range(1, 40)) + [50])
        self.assertTrue(any("q40_" in p for p in self.run_check(
            q40_minhash_dedup=wrong, q40b_minhash_probe=wrong)))

    def test_ann_probe_missing_the_exact_neighbours_fires(self):
        bad = pa.table({"probe_id": [0, 0, 0], "nn_id": [0, 6, 7],
                        "sim": [1.0, 0.9, 0.7], "rn": [1, 2, 3]})
        self.assertTrue(any("q214b" in p for p in self.run_check(q214b_ivfpq_probe=bad)))


if __name__ == "__main__":
    unittest.main()
