"""Seeded benchmark inputs: the transforms of graft.FuzzGen and
graft.CanaryGen, done with DuckDB and pyarrow.

The library's generators produce the same tables, but each costs a
Spark session and tens of small jobs per call (about 24 s at factor 1
and 41 s at factor 10 on a 4-core host), which a benchmark that draws
a fresh seed every run cannot afford. This module follows them step
for step: the same rotation amounts, the same salt selection (Spark's
xxhash64) and the same replica offsets.

    fuzz(tables, seed)       -> graft.FuzzGen.fuzzAll(..., seed)
    scale(tables, factor)    -> graft.CanaryGen.scaleAll(..., factor), events only

`tables` maps a table name to a pyarrow.Table. write() lands each
table as one plain `<table>.parquet` file, the layout the library and
tools/oracle_check.py read.
"""
import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

MASK = (1 << 64) - 1
P1, P2, P3, P4, P5 = (0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9,
                      0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5)
STRIDE = 1_000_000_000  # graft.CanaryGen's key stride per replica
TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings")


def _signed(x):
    x &= MASK
    return x - (1 << 64) if x >> 63 else x


def _rotl(x, r):
    return ((x << r) | (x >> (64 - r))) & MASK


def java_hash(s):
    """java.lang.String.hashCode of a BMP string, sign-extended to a long."""
    h = 0
    for ch in s:
        h = (31 * h + ord(ch)) & 0xFFFFFFFF
    return h - (1 << 32) if h >> 31 else h


def rotation(seed, space, n):
    """graft.FuzzGen.rotation: the seeded, never-zero rotation of a key space."""
    h = (seed * 0x9E3779B97F4A7C15 + java_hash(space)) & MASK
    h ^= h >> 33
    h = (h * 0xFF51AFD7ED558CCD) & MASK
    h ^= h >> 33
    r = _signed(h) % n
    return r if r else 1


def xxhash64_long(value, seed):
    """Spark's XxHash64Function.hashLong."""
    h = (seed + P5 + 8) & MASK
    h ^= (_rotl((value * P2) & MASK, 31) * P1) & MASK
    h = (_rotl(h, 27) * P1 + P4) & MASK
    h ^= h >> 33
    h = (h * P2) & MASK
    h ^= h >> 29
    h = (h * P3) & MASK
    h ^= h >> 32
    return _signed(h)


def spark_xxhash64(*longs):
    """Spark SQL `xxhash64(a, b, ...)` over long columns (seed 42)."""
    h = 42
    for v in longs:
        h = xxhash64_long(v, h)
    return h


def read(base_dir):
    return {t: pq.read_table(os.path.join(base_dir, f"{t}.parquet")) for t in TABLES}


def write(tables, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


def _sql(query, **tables):
    con = duckdb.connect()
    for name, t in tables.items():
        con.register(name, t)
    out = con.execute(query).arrow()
    con.close()
    return out


def _with_column(t, name, values):
    i = t.schema.get_field_index(name)
    return t.set_column(i, t.schema.field(i), pa.array(values, t.schema.field(i).type))


def fuzz(tables, seed):
    """graft.FuzzGen.fuzzAll without the skew arm: rotate every key space
    by a seeded amount (one rotation per space, shared by its foreign
    keys), salt about 10% of documents with one token, keep events in
    arrival order."""
    def space(t, c):
        return _sql(f"SELECT max({c}) + 1 AS n FROM t", t=tables[t]).column(0)[0].as_py()

    n = {"cust": space("customer", "c_custkey"), "ord": space("orders", "o_orderkey"),
         "supp": space("supplier", "s_suppkey"), "part": space("part", "p_partkey"),
         "evt": space("events", "event_id"), "doc": space("documents", "doc_id")}
    r = {k: rotation(seed, k, v) for k, v in n.items()}

    def rot(c, k):
        return f"({c} + {r[k]}) % {n[k]} AS {c}"

    def relabel(t, cols, order):
        keyed = {c: rot(c, k) for c, k in cols.items()}
        select = ", ".join(keyed.get(f.name, f.name) for f in tables[t].schema)
        return _sql(f"SELECT {select} FROM t ORDER BY {order}", t=tables[t])

    out = {"region": tables["region"], "nation": tables["nation"]}
    out["customer"] = relabel("customer", {"c_custkey": "cust"}, "c_custkey")
    out["supplier"] = relabel("supplier", {"s_suppkey": "supp"}, "s_suppkey")
    out["part"] = relabel("part", {"p_partkey": "part"}, "p_partkey")
    out["orders"] = relabel("orders", {"o_orderkey": "ord", "o_custkey": "cust"}, "o_orderkey")
    out["lineitem"] = relabel("lineitem", {"l_orderkey": "ord", "l_partkey": "part",
                                           "l_suppkey": "supp"}, "l_orderkey, l_linenumber")
    # events keep their row order; user_id joins customer, so it moves
    # with the customer key space
    ev = tables["events"]
    select = ", ".join({"event_id": rot("event_id", "evt"),
                        "user_id": rot("user_id", "cust")}.get(f.name, f.name)
                       for f in ev.schema)
    out["events"] = _sql(f"SELECT {select} FROM t ORDER BY rn", t=_numbered(ev))
    # the salt is chosen by the rotated id, as in FuzzGen
    docs = tables["documents"]
    ids = [(d + r["doc"]) % n["doc"] for d in docs.column("doc_id").to_pylist()]
    text = [t if spark_xxhash64(d, seed) % 10 != 0 else
            f"{t} fz{spark_xxhash64(d, seed + 1) % 100}"
            for d, t in zip(ids, docs.column("text").to_pylist())]
    docs = _with_column(_with_column(docs, "text", text), "n_chars", [len(t) for t in text])
    docs = _with_column(docs, "doc_id", ids)
    out["documents"] = _sql("SELECT * FROM t ORDER BY doc_id", t=docs)
    out["embeddings"] = relabel("embeddings", {"vec_id": "doc"}, "vec_id")
    return out


def scale(tables, factor):
    """graft.CanaryGen.scaleAll's events table: `factor` replicas, with
    event and user ids offset by replica x STRIDE and timestamps kept
    (more traffic in the same window). The other tables keep their
    size; the workload that scales reads only events."""
    ev = tables["events"]
    select = ", ".join(f"{f.name} + r * {STRIDE} AS {f.name}"
                       if f.name in ("event_id", "user_id") else f.name for f in ev.schema)
    return dict(tables, events=_sql(
        f"SELECT {select} FROM t, range({factor}) AS g(r) ORDER BY r, rn", t=_numbered(ev)))


def _numbered(t):
    """`t` with its row numbers in `rn`, to keep source order in a sort."""
    return t.append_column("rn", pa.array(range(t.num_rows), pa.int64()))


def make(base_dir, out_dir, seed, factor):
    tables = fuzz(read(base_dir), seed)
    if factor > 1:
        tables = scale(tables, factor)
    write(tables, out_dir)
