"""Output check: compare an op's parquet dump with its oracle SQL run by
DuckDB over the same tables, with the compare rules of tools/check.py
(schema by name, row count, sorted exact values with strict dtypes, and
float sign bits).

An oracle DuckDB cannot evaluate within the memory bound (q604's) is
replaced by its expected rows, stored under expected/ by the SHA-256 of the
oracle SQL and the data scale; a changed oracle finds no stored rows and is
run live. See NOTES.md for how the stored rows were made.
"""
import glob
import hashlib
import os

EXPECTED = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected")

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def expected_path(sql, scale):
    key = hashlib.sha256(f"{scale}\n{sql}".encode()).hexdigest()[:20]
    return os.path.join(EXPECTED, f"{key}.parquet")


class Oracle:
    def __init__(self, data_dir):
        import duckdb
        self.scale = os.path.basename(os.path.normpath(data_dir))
        self.con = duckdb.connect()
        # bounded, so a runaway oracle fails the op instead of the host
        self.con.execute("SET memory_limit='2GB'")
        self.con.execute("SET threads=4")
        for t in TABLES:
            path = os.path.join(data_dir, f"{t}.parquet")
            if os.path.exists(path):
                self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        self._expected = {}

    def check(self, out_dir, sql):
        """Return (error or None, output row count)."""
        import numpy as np
        import pandas as pd
        files = glob.glob(os.path.join(out_dir, "*.parquet"))
        if not files:
            return "no parquet written", 0
        got = self.con.execute(f"SELECT * FROM read_parquet({files!r})").df()
        if not sql:
            return None, len(got)
        if sql not in self._expected:
            stored = expected_path(sql, self.scale)
            try:
                self._expected[sql] = (
                    self.con.execute(f"SELECT * FROM '{stored}'").df()
                    if os.path.exists(stored) else self.con.execute(sql).df())
            except Exception as ex:  # an oracle that cannot run is a failure
                return f"oracle error {str(ex)[:200]}", len(got)
        exp = self._expected[sql]
        gcols, ecols = sorted(got.columns), sorted(exp.columns)
        if gcols != ecols:
            return f"schema {gcols} != {ecols}", len(got)
        if len(got) != len(exp):
            return f"rows {len(got)} != {len(exp)}", len(got)
        gs = got[gcols].sort_values(gcols, na_position="first").reset_index(drop=True)
        es = exp[ecols].sort_values(ecols, na_position="first").reset_index(drop=True)
        try:
            pd.testing.assert_frame_equal(gs, es, check_dtype=True,
                                          check_exact=True)
            for c in gcols:
                if gs[c].dtype.kind == "f":
                    ga, ea = gs[c].to_numpy(), es[c].to_numpy()
                    ok = np.isnan(ga) | (np.signbit(ga) == np.signbit(ea))
                    if not ok.all():
                        return f"signbit mismatch in {c}", len(got)
        except AssertionError as ex:
            return "value mismatch: " + " ".join(str(ex).split())[:200], len(got)
        return None, len(got)
