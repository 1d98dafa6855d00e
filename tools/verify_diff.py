#!/usr/bin/env python3
"""Compare two `graft.Verify` output directories.

A gate whose oracle reads an `.aux` table moves together with it: when a
change alters an aux producer (for example the unigram model costs in
`.aux/unigram_vocab_em`), the gate and its oracle shift in lockstep and
`tools/oracle_check.py` still passes. This tool compares the engine's
outputs directly, run against run.

For every gate directory and every `.aux/<name>` directory found in
either output it compares
  - the column names and types,
  - the row count,
  - an order-insensitive row hash (md5 over the sorted rows, each row
    rendered as text by duckdb),
and it compares `oracle_sql.json` byte for byte, after each side's own
output path (which Verify substitutes for `__OUTDIR__`) is mapped back
to the placeholder.

It prints one line per difference and exits 1 if there is any, else 0.

Usage: python3 tools/verify_diff.py <outA> <outB>
"""
import glob
import os
import sys

import duckdb


def table_dirs(out):
    """Relative names of the gate and `.aux/<name>` directories."""
    names = set()
    for base, prefix in ((out, ""), (os.path.join(out, ".aux"), ".aux/")):
        if os.path.isdir(base):
            for e in os.listdir(base):
                if not e.startswith(".") and os.path.isdir(os.path.join(base, e)):
                    names.add(prefix + e)
    return names


def summarize(con, path):
    """(schema, rows, row hash) of the parquet files under `path`, or
    None when it holds none."""
    files = sorted(glob.glob(f"{path}/**/*.parquet", recursive=True))
    if not files:
        return None
    src = "read_parquet([" + ", ".join(
        "'" + f.replace("'", "''") + "'" for f in files) + "])"
    schema = [tuple(r[:2]) for r in con.execute(f"DESCRIBE SELECT * FROM {src}").fetchall()]
    rows, digest = con.execute(
        f"SELECT count(*), md5(coalesce(string_agg(r, chr(10) ORDER BY r), '')) "
        f"FROM (SELECT CAST(t AS VARCHAR) AS r FROM {src} t)").fetchone()
    return schema, rows, digest


def oracle_json(out):
    path = os.path.join(out, "oracle_sql.json")
    if not os.path.isfile(path):
        return None
    with open(path, "rb") as f:
        data = f.read()
    # longest spelling first, so a prefix never shadows the full path
    for spelling in sorted({out, out.rstrip("/"), os.path.abspath(out)},
                           key=len, reverse=True):
        data = data.replace(spelling.encode(), b"__OUTDIR__")
    return data


def diff(out_a, out_b):
    """Lines describing every difference between the two outputs."""
    lines = []
    con = duckdb.connect()
    names_a, names_b = table_dirs(out_a), table_dirs(out_b)
    for name in sorted(names_a | names_b):
        if name not in names_b:
            lines.append(f"ONLY_A   {name}")
            continue
        if name not in names_a:
            lines.append(f"ONLY_B   {name}")
            continue
        a = summarize(con, os.path.join(out_a, name))
        b = summarize(con, os.path.join(out_b, name))
        if a is None or b is None:
            if (a is None) != (b is None):
                side = "A" if a is None else "B"
                lines.append(f"NOFILES  {name}: no parquet files in {side}")
            continue
        if a[0] != b[0]:
            lines.append(f"SCHEMA   {name}: {a[0]} != {b[0]}")
        if a[1] != b[1]:
            lines.append(f"ROWS     {name}: {a[1]} != {b[1]}")
        elif a[2] != b[2]:
            lines.append(f"HASH     {name}: {a[2]} != {b[2]}")
    ja, jb = oracle_json(out_a), oracle_json(out_b)
    if ja != jb:
        lines.append("ORACLE   oracle_sql.json differs"
                     + ("" if ja is not None and jb is not None
                        else " (missing on one side)"))
    return lines, len(names_a | names_b)


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip().splitlines()[-1], file=sys.stderr)
        return 2
    lines, n = diff(argv[1], argv[2])
    for line in lines:
        print(line)
    print(f"[verify_diff] {n} directories, {len(lines)} difference(s)",
          file=sys.stderr)
    return 1 if lines else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
