"""Determinism and size bounds of the benchmark's input generator.

    python3 -m unittest discover -s perfbench/tests
"""
import hashlib
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402

SF = 0.001
BATCHES = 12


def digest_dir(d):
    h = hashlib.sha256()
    for root, _, files in sorted(os.walk(d)):
        for f in sorted(files):
            p = os.path.join(root, f)
            h.update(os.path.relpath(p, d).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(seed, d):
    tabs = gen.tables(seed, SF, docs=120)
    gen.write_tables(d, tabs)
    gen.warehouse_batches(seed, os.path.join(d, "batches"), tabs, BATCHES,
                          months_per_batch=4, orders_per_month=5,
                          customer_changes=3)
    return tabs


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            build(7, a)
            build(7, b)
            self.assertEqual(digest_dir(a), digest_dir(b))
        self.assertEqual(gen.mart_rotation(7, 50), gen.mart_rotation(7, 50))

    def test_other_seed_other_inputs(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            build(7, a)
            build(8, b)
            for f in ["orders.parquet", "documents.parquet",
                      os.path.join("batches", "orders_0003.csv"),
                      os.path.join("batches", "customers_0003.csv")]:
                with open(os.path.join(a, f), "rb") as x, \
                        open(os.path.join(b, f), "rb") as y:
                    self.assertNotEqual(x.read(), y.read(), f)
        self.assertNotEqual(gen.mart_rotation(7, 50), gen.mart_rotation(8, 50))

    def test_rotation_is_whole_rounds(self):
        r = gen.mart_rotation(3, 5 * len(gen.MART_QUERIES))
        n = len(gen.MART_QUERIES)
        for k in range(5):
            self.assertEqual(sorted(r[k * n:(k + 1) * n]), sorted(gen.MART_QUERIES))

    def test_sizes_stay_bounded_over_the_run(self):
        """With the benchmark's own warehouse settings, every batch rewrites
        existing orders only (the fact table keeps its size), touches the
        same share of mart groups, and adds at most 1% of the dimension as
        SCD2 versions."""
        import pyarrow.csv as pacsv
        import run
        cfg = run.WORKLOADS["warehouse_load"]
        with tempfile.TemporaryDirectory() as d:
            run.make_inputs("warehouse_load", cfg, 5, d)
            n_orders = gen.sizes(cfg["sf"])["orders"]
            n_cust = gen.sizes(cfg["sf"])["customer"]
            full = pacsv.read_csv(os.path.join(d, "batches", "orders_0000.csv"))
            self.assertEqual(full.num_rows, n_orders)
            for i in range(1, cfg["batches"] + 1):
                o = pacsv.read_csv(os.path.join(d, "batches", f"orders_{i:04d}.csv"))
                keys = o["O_ORDERKEY"].to_pylist()
                self.assertEqual(len(keys), len(set(keys)))
                self.assertTrue(all(0 <= k < n_orders for k in keys))
                months = {str(x)[:7] for x in o["O_ORDERDATE"].to_pylist()}
                self.assertEqual(len(months), cfg["months_per_batch"])
                self.assertEqual(len(keys), cfg["months_per_batch"]
                                 * cfg["orders_per_month"])
                c = pacsv.read_csv(os.path.join(d, "batches", f"customers_{i:04d}.csv"))
                ck = c["C_CUSTKEY"].to_pylist()
                self.assertEqual(len(ck), len(set(ck)))
                self.assertTrue(all(0 <= k < n_cust for k in ck))
                self.assertLessEqual(len(ck), n_cust // 100)
                self.assertEqual(set(c["CHG_OP"].to_pylist()), {"U"})

    def test_table_sizes_follow_scale(self):
        tabs = gen.tables(1, SF, docs=120)
        want = gen.sizes(SF)
        for t in ["customer", "orders", "lineitem", "events"]:
            self.assertEqual(tabs[t].num_rows, want[t])
        self.assertEqual(tabs["documents"].num_rows, 120)
        self.assertEqual(set(tabs), set(gen.TABLES))


if __name__ == "__main__":
    unittest.main()
