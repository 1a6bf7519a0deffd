"""Output checks against the gates' DuckDB oracles.

An output matches when it has the oracle's column names and the same
multiset of rows, values compared exactly: DuckDB's EXCEPT ALL in both
directions, with the columns in name order. Where DuckDB cannot compare
two columns' types, the engine's own gate rule decides: `norm` from
scripts/check.py (columns sorted by name, rows sorted by every column),
then pandas equality.
"""
import glob
import os
import re
import sys

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
sys.path.insert(0, os.path.join(ROOT, "scripts"))

CORPUS_TABLES = ["documents", "embeddings", "events"]
# a CSV scan in an oracle; the star oracles repeat the same twelve scans
CSV_SCAN = re.compile(r"read_csv\('[^']*'[^)]*\)")


def same(a, b):
    """None when the frames agree, else why they differ."""
    from check import norm  # scripts/check.py: needs the engine's tree
    a, b = norm(a), norm(b)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} != {list(b.columns)}"
    if len(a) != len(b):
        return f"rows {len(a)} != {len(b)}"
    if not a.equals(b):
        neq = (a != b) & ~(a.isna() & b.isna())
        return f"values differ in {[c for c in a.columns if neq[c].any()]}"
    return None


class Oracles:
    """One DuckDB connection per run; each gate's oracle runs once and is
    compared with the output of every call of that gate."""

    def __init__(self, data_dir=None):
        self.con = duckdb.connect()
        self.scans = {}
        if data_dir:
            for t in CORPUS_TABLES:
                path = os.path.join(data_dir, f"{t}.parquet")
                self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                 f"read_parquet('{path}')")
        self.cache = {}

    def scanned_once(self, sql):
        """`sql` with each CSV scan replaced by a table loaded by that same
        scan, once per run."""
        def table(m):
            if m.group(0) not in self.scans:
                name = f"csv_scan_{len(self.scans)}"
                self.con.execute(f"CREATE TEMP TABLE {name} AS "
                                 f"SELECT * FROM {m.group(0)}")
                self.scans[m.group(0)] = name
            return self.scans[m.group(0)]
        return CSV_SCAN.sub(table, sql)

    def expected(self, gate, sql):
        """Name of a temp table holding the gate's oracle result."""
        if gate not in self.cache:
            name = f"oracle_{len(self.cache)}"
            self.con.execute(f"CREATE TEMP TABLE {name} AS "
                             f"{self.scanned_once(sql)}")
            self.cache[gate] = name
        return self.cache[gate]

    def check(self, gate, sql, out_path):
        """None when the output at `out_path` equals the oracle's, else
        why not."""
        if not glob.glob(os.path.join(out_path, "*.parquet")):
            return "no output"
        got = f"read_parquet('{out_path}/*.parquet')"
        try:
            want = self.expected(gate, sql)
            a = sorted(self.con.sql(f"SELECT * FROM {got} LIMIT 0").columns)
            b = sorted(self.con.sql(f"SELECT * FROM {want} LIMIT 0").columns)
            if a != b:
                return f"columns {a} != {b}"
            cols = ", ".join(f'"{c}"' for c in a)
            n_got, n_want = (self.con.sql(f"SELECT count(*) FROM {t}")
                             .fetchone()[0] for t in (got, want))
            if n_got != n_want:
                return f"rows {n_got} != {n_want}"
            try:
                diff = self.con.sql(
                    f"SELECT count(*) FROM (SELECT {cols} FROM {got} "
                    f"EXCEPT ALL SELECT {cols} FROM {want})").fetchone()[0]
            except duckdb.Error:
                return same(self.con.sql(f"SELECT * FROM {got}").df(),
                            self.con.sql(f"SELECT * FROM {want}").df())
            return f"{diff} rows differ" if diff else None
        except duckdb.Error as e:
            return f"oracle error: {e}"
