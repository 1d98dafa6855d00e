"""Self-test of tools/verify_diff.py on tiny parquet directories.

Run: python3 -m unittest discover -s tools -p 'test_*.py'
"""
import contextlib
import io
import os
import tempfile
import unittest

import duckdb

import verify_diff


def write_out(root, tables, oracle_sql='{"g": "SELECT 1 FROM \'__OUTDIR__/.aux/m\'"}'):
    """A Verify-shaped output: one parquet part per table directory,
    oracle_sql.json with the placeholder replaced by `root`."""
    con = duckdb.connect()
    for name, sql in tables.items():
        d = os.path.join(root, name)
        os.makedirs(d)
        con.execute(f"COPY ({sql}) TO '{d}/part-00000.parquet' (FORMAT PARQUET)")
    with open(os.path.join(root, "oracle_sql.json"), "w") as f:
        f.write(oracle_sql.replace("__OUTDIR__", root))


BASE = {
    "g": "SELECT * FROM (VALUES (1, 'a'), (2, 'b')) t(id, s)",
    ".aux/m": "SELECT 7::BIGINT AS cost",
}


class VerifyDiffTest(unittest.TestCase):

    def run_diff(self, a, b):
        out = io.StringIO()
        with contextlib.redirect_stdout(out), \
                contextlib.redirect_stderr(io.StringIO()):
            code = verify_diff.main(["verify_diff.py", a, b])
        return code, out.getvalue().splitlines()

    def test_equal_pair(self):
        with tempfile.TemporaryDirectory() as tmp:
            a, b = os.path.join(tmp, "a"), os.path.join(tmp, "bb")
            write_out(a, BASE)
            # same rows in another order, under another output path
            write_out(b, dict(BASE, g="SELECT * FROM (VALUES (2, 'b'), (1, 'a')) t(id, s)"))
            self.assertEqual(self.run_diff(a, b), (0, []))

    def test_unequal_pair(self):
        with tempfile.TemporaryDirectory() as tmp:
            a, b = os.path.join(tmp, "a"), os.path.join(tmp, "b")
            write_out(a, dict(BASE, only_a="SELECT 1 AS x"))
            write_out(b, {
                "g": "SELECT * FROM (VALUES (1, 'a'), (2, 'c')) t(id, s)",
                ".aux/m": "SELECT 7::INTEGER AS cost",
            }, oracle_sql='{"g": "SELECT 2"}')
            code, lines = self.run_diff(a, b)
            self.assertEqual(code, 1)
            kinds = {(l.split()[0], l.split()[1].rstrip(":")) for l in lines}
            self.assertEqual(kinds, {
                ("HASH", "g"), ("SCHEMA", ".aux/m"), ("ONLY_A", "only_a"),
                ("ORACLE", "oracle_sql.json")})


if __name__ == "__main__":
    unittest.main()
