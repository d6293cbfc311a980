"""Output checker shared by the benchmark's workloads.

Every output is compared with a result computed apart from the program:
DuckDB runs the gate's `SparkEntry.oracleSql` (or a served
configuration's own SQL) over the same parquet inputs. The comparison is
the one of `scripts/oracle_check.py`, whose cell normalization and row
reader it uses: column names sorted, row count, and normalized cells, in
order where the output's order is defined and as a multiset where it is
not. Served JSON rows go through the same normalization, so a JSON list
or boolean reads as DuckDB's does.

Oracle results are cached under `<cache>/<key>.json`, keyed by the input
digest, the SQL text and the checker's own sources, so they are made anew
whenever any of them changes.
"""
import hashlib
import json
import os
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
SCRIPTS = os.path.join(os.path.dirname(HERE), "scripts")
sys.path.insert(0, SCRIPTS)
from oracle_check import TABLES, norm_cell, rows_of  # noqa: E402


def _sources_digest():
    h = hashlib.sha256()
    for p in (__file__, os.path.join(SCRIPTS, "oracle_check.py")):
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


class Table:
    """Column names in sorted order, their types (when known) and rows
    of normalized cells in the same column order."""

    def __init__(self, cols, types, rows):
        self.cols, self.types, self.rows = cols, types, rows

    @classmethod
    def of_relation(cls, rel):
        return cls(*rows_of(rel))

    @classmethod
    def of_json_rows(cls, objs, cols):
        """JSON row objects; Spark's `toJSON` leaves out null fields, so a
        missing key is a null, and `cols` names the expected columns."""
        cols = sorted(cols)
        extra = sorted({k for o in objs for k in o} - set(cols))
        return cls(cols + extra, None,
                   [tuple(norm_cell(o.get(c)) for c in cols + extra)
                    for o in objs])

    def to_json(self):
        return {"cols": self.cols, "types": self.types, "rows": self.rows}

    @classmethod
    def from_json(cls, d):
        return cls(d["cols"], d["types"], [tuple(r) for r in d["rows"]])


def _row_key(row):
    return tuple((v is None, v or "") for v in row)


def compare(got, want, ordered=True, check_types=True):
    """None when `got` matches `want`, else a one-line reason."""
    if got.cols != want.cols:
        return f"columns {got.cols} != {want.cols}"
    if check_types and got.types and want.types and got.types != want.types:
        diffs = [f"{c}: {g} vs {w}" for c, g, w in
                 zip(got.cols, got.types, want.types) if g != w]
        return "types " + "; ".join(diffs)
    if len(got.rows) != len(want.rows):
        return f"row count {len(got.rows)} != {len(want.rows)}"
    g, w = got.rows, want.rows
    if not ordered:
        g, w = sorted(g, key=_row_key), sorted(w, key=_row_key)
    for i, (a, b) in enumerate(zip(g, w)):
        if a != b:
            return f"row {i}: {a} != {b}"
    return None


class Oracle:
    """DuckDB over one input directory, with a result cache."""

    def __init__(self, data_dir, data_digest, cache_dir):
        self.data_dir, self.digest, self.cache_dir = \
            data_dir, data_digest, cache_dir
        self._con = None

    @property
    def con(self):
        if self._con is None:
            self._con = duckdb.connect()
            self._con.sql("SET threads=2")
            for t in TABLES:
                p = os.path.join(self.data_dir, f"{t}.parquet")
                if os.path.exists(p):
                    self._con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
        return self._con

    def result(self, sql):
        key = hashlib.sha256("\0".join(
            (self.digest, _sources_digest(), sql)).encode()).hexdigest()
        path = os.path.join(self.cache_dir, key + ".json")
        if os.path.exists(path):
            with open(path) as f:
                return Table.from_json(json.load(f))
        t = Table.of_relation(self.con.sql(sql))
        os.makedirs(self.cache_dir, exist_ok=True)
        with open(path + ".tmp", "w") as f:
            json.dump(t.to_json(), f)
        os.replace(path + ".tmp", path)
        return t

    def parquet(self, path):
        return Table.of_relation(self.con.sql(
            f"SELECT * FROM '{path}/*.parquet'"))


def check_gate(o, sql, dump):
    """None when a gate's dumped output matches its oracle. Every gate
    the benchmark runs has one."""
    if not os.path.isdir(dump):
        return "no output written"
    if sql is None:
        return "gate has no oracle"
    return compare(o.parquet(dump), o.result(sql), ordered=True)
