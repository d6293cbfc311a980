#!/usr/bin/env python3
"""Tests of the output checker: it must reject an output with one row
dropped or one cell changed, and accept a correct output whose rows come
in another order where the order is not part of the result.

    python3 perfbench/test_oracle.py
"""
import json
import os
import tempfile
import unittest

import duckdb

import oracle

SQL = "SELECT id, name, score FROM t ORDER BY id"


class OracleTest(unittest.TestCase):

    def setUp(self):
        self.dir = tempfile.TemporaryDirectory()
        d = self.dir.name
        con = duckdb.connect()
        con.sql("CREATE TABLE t AS SELECT i AS id, 'n' || i AS name, "
                "i * 0.5 AS score FROM range(20) r(i)")
        con.sql(f"COPY t TO '{d}/t.parquet' (FORMAT parquet)")
        self.con = con
        self.orc = oracle.Oracle(d, "digest", os.path.join(d, "cache"))
        self.orc.con.sql(f"CREATE VIEW t AS SELECT * FROM '{d}/t.parquet'")

    def tearDown(self):
        self.dir.cleanup()

    def dump(self, select):
        path = os.path.join(self.dir.name, "dump")
        os.makedirs(path, exist_ok=True)
        self.con.sql(f"COPY ({select}) TO '{path}/part-0.parquet' "
                     "(FORMAT parquet)")
        return path

    def test_gate_accepts_the_same_rows(self):
        self.assertIsNone(oracle.check_gate(self.orc, SQL, self.dump(SQL)))

    def test_gate_rejects_a_dropped_row(self):
        dump = self.dump("SELECT * FROM t WHERE id <> 7 ORDER BY id")
        self.assertIn("row count", oracle.check_gate(self.orc, SQL, dump))

    def test_gate_rejects_a_changed_cell(self):
        dump = self.dump("SELECT id, name, CASE WHEN id = 3 THEN 99.0 "
                         "ELSE score END AS score FROM t ORDER BY id")
        self.assertIn("row 3", oracle.check_gate(self.orc, SQL, dump))

    def test_gate_rejects_a_changed_type(self):
        dump = self.dump("SELECT id, name, CAST(score AS FLOAT) AS score "
                         "FROM t ORDER BY id")
        self.assertIn("types", oracle.check_gate(self.orc, SQL, dump))

    def test_ordered_result_rejects_permuted_rows(self):
        dump = self.dump("SELECT * FROM t ORDER BY id DESC")
        self.assertIsNotNone(oracle.check_gate(self.orc, SQL, dump))

    def served(self, rows):
        want = self.orc.result(SQL)
        return oracle.Table.of_json_rows(json.loads(json.dumps(rows)),
                                         want.cols), want

    def rows(self):
        return [{"id": i, "name": f"n{i}", "score": i * 0.5}
                for i in range(20)]

    def test_json_accepts_permuted_rows(self):
        got, want = self.served(list(reversed(self.rows())))
        self.assertIsNone(oracle.compare(got, want, ordered=False,
                                         check_types=False))

    def test_json_in_order_rejects_permuted_rows(self):
        got, want = self.served(list(reversed(self.rows())))
        self.assertIn("row 0", oracle.compare(got, want, check_types=False))

    def test_json_list_and_bool_cells_read_as_duckdb_does(self):
        sql = "SELECT [1, 2] AS ids, true AS flag"
        want = self.orc.result(sql)
        got = oracle.Table.of_json_rows([{"ids": [1, 2], "flag": True}],
                                        want.cols)
        self.assertIsNone(oracle.compare(got, want, check_types=False))

    def test_json_rejects_a_dropped_row(self):
        rows = self.rows()
        del rows[5]
        got, want = self.served(rows)
        self.assertIn("row count", oracle.compare(got, want, ordered=False,
                                                  check_types=False))

    def test_json_rejects_a_changed_cell(self):
        rows = self.rows()
        rows[11]["name"] = "other"
        got, want = self.served(rows)
        self.assertIsNotNone(oracle.compare(got, want, ordered=False,
                                            check_types=False))

    def test_json_missing_key_is_null_and_extra_key_fails(self):
        rows = self.rows()
        del rows[2]["score"]
        got, want = self.served(rows)
        self.assertIsNotNone(oracle.compare(got, want, ordered=False,
                                            check_types=False))
        rows = self.rows()
        rows[0]["extra"] = 1
        got, want = self.served(rows)
        self.assertIn("columns", oracle.compare(got, want, ordered=False,
                                                check_types=False))

    def test_results_are_cached_by_digest_and_sql(self):
        self.orc.result(SQL)
        self.assertEqual(len(os.listdir(self.orc.cache_dir)), 1)
        self.orc.result(SQL + " ")
        self.assertEqual(len(os.listdir(self.orc.cache_dir)), 2)


if __name__ == "__main__":
    unittest.main()
