"""Seeded input generator for the benchmark workloads.

Inputs derive from the sf0.01 tables kept in `perfbench/data/base` by
a seeded 5% sample and a seeded row order:

  * orders are sampled by a seeded hash of the order key, and lineitem
    follows its orders, so every foreign key still resolves;
  * events are sampled by user, so each kept user keeps whole sessions;
  * documents are sampled by document id;
  * every table is written in an order given by a seeded hash of its
    row key, single-threaded, so the same seed gives byte-identical
    files.

A workload that ingests (`etl_batch`) also gets the raw dumps (CSV for
the TPC-H-like tables, JSON lines for events, documents and embeddings)
and one seeded change batch for the sink's `mergeByKey` upsert.

Output is cached per seed (and raw or not) under the build directory;
a completed set carries a `_SUCCESS` marker, and only the most recently
used `KEEP` sets are kept.
"""
import hashlib
import json
import os
import shutil
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
# unique row key per table: the seeded row order hashes it
ROW_KEY = {
    "region": "r_regionkey", "nation": "n_nationkey",
    "customer": "c_custkey", "supplier": "s_suppkey", "part": "p_partkey",
    "orders": "o_orderkey", "lineitem": "l_orderkey, l_linenumber",
    "events": "event_id", "documents": "doc_id", "embeddings": "vec_id",
}
CSV_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem"]
JSON_TABLES = ["events", "documents", "embeddings"]

KEEP = 12
SAMPLE_PCT = 5  # share of orders, events and documents left out
HERE = os.path.dirname(os.path.abspath(__file__))
BASE = os.path.join(HERE, "data", "base")


def _q(path):
    return "'" + path.replace("'", "''") + "'"


def generate(cache_dir, seed, raw):
    """Build (or reuse) the input set for `seed`, with the raw dumps if
    `raw`; returns the directory holding `<table>.parquet`."""
    out = os.path.join(cache_dir, f"s{seed}{'-raw' if raw else ''}")
    if os.path.exists(os.path.join(out, "_SUCCESS")):
        os.utime(out)
        return out
    _evict(cache_dir)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)

    con = duckdb.connect()
    con.execute("SET threads TO 1")
    con.execute("SET preserve_insertion_order TO true")
    for t in TABLES:
        con.execute(f"CREATE VIEW src_{t} AS SELECT * FROM "
                    f"read_parquet({_q(os.path.join(BASE, t + '.parquet'))})")
    keep = 100 - SAMPLE_PCT
    s = int(seed)
    filters = {
        "orders": f"hash({s}, o_orderkey) % 100 < {keep}",
        "lineitem": (f"l_orderkey IN (SELECT o_orderkey FROM src_orders "
                     f"WHERE hash({s}, o_orderkey) % 100 < {keep})"),
        "events": f"hash({s}, user_id) % 100 < {keep}",
        "documents": f"hash({s}, doc_id) % 100 < {keep}",
    }
    for t in TABLES:
        where = f"WHERE {filters[t]}" if t in filters else ""
        con.execute(
            f"COPY (SELECT * FROM src_{t} {where} "
            f"ORDER BY hash({s}, {ROW_KEY[t]}), {ROW_KEY[t]}) "
            f"TO {_q(os.path.join(out, t + '.parquet'))} (FORMAT PARQUET)")

    if raw:
        _raw_dumps(con, out, s)
    sizes = {t: con.execute(
        f"SELECT count(*) FROM read_parquet("
        f"{_q(os.path.join(out, t + '.parquet'))})").fetchone()[0]
        for t in TABLES}
    con.close()
    with open(os.path.join(out, "_rows.json"), "w") as f:
        json.dump(sizes, f, sort_keys=True)
    open(os.path.join(out, "_SUCCESS"), "w").close()
    return out


def _evict(cache_dir):
    if not os.path.isdir(cache_dir):
        return
    sets = sorted((os.path.getmtime(p), p) for p in
                  (os.path.join(cache_dir, d) for d in os.listdir(cache_dir)))
    for _, p in sets[:max(0, len(sets) - KEEP + 1)]:
        shutil.rmtree(p, ignore_errors=True)


def _raw_dumps(con, out, s):
    """The nightly drop `etl_batch` ingests: raw CSV/JSON dumps of the
    generated tables, plus an orders change batch (about 2% updates, 1%
    deletes, 1% inserts of new keys, with a sequence column giving the
    apply order; some keys change twice)."""
    raw = os.path.join(out, "raw")
    os.makedirs(raw)
    for t in TABLES:
        con.execute(f"CREATE OR REPLACE VIEW g_{t} AS SELECT * FROM "
                    f"read_parquet({_q(os.path.join(out, t + '.parquet'))})")
    for t in CSV_TABLES:
        con.execute(f"COPY (SELECT * FROM g_{t}) TO "
                    f"{_q(os.path.join(raw, t + '.csv'))} (HEADER, DELIMITER ',')")
    for t in JSON_TABLES:
        con.execute(f"COPY (SELECT * FROM g_{t}) TO "
                    f"{_q(os.path.join(raw, t + '.json'))} (FORMAT JSON)")
    con.execute(f"""
        COPY (
          SELECT o_orderkey, o_custkey, 'F' AS o_orderstatus,
                 round(o_totalprice * 1.01, 2) AS o_totalprice,
                 o_orderdate, o_orderpriority, 'U' AS op,
                 hash({s}, o_orderkey, 1) % 1000000 AS seq
          FROM g_orders WHERE hash({s}, o_orderkey, 7) % 100 < 3
          UNION ALL
          SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                 o_orderdate, o_orderpriority, 'D' AS op,
                 1000000 + hash({s}, o_orderkey, 2) % 1000000 AS seq
          FROM g_orders WHERE hash({s}, o_orderkey, 7) % 100 IN (2, 3)
          UNION ALL
          SELECT o_orderkey + 900000000, o_custkey, 'O', o_totalprice,
                 o_orderdate, o_orderpriority, 'I' AS op,
                 hash({s}, o_orderkey, 3) % 1000000 AS seq
          FROM g_orders WHERE hash({s}, o_orderkey, 9) % 100 = 0
          ORDER BY seq, o_orderkey)
        TO {_q(os.path.join(raw, 'orders_changes.json'))} (FORMAT JSON)""")


def digest(out):
    """sha256 over the generated files, for the byte-identity check."""
    h = hashlib.sha256()
    for dirpath, _, files in sorted(os.walk(out)):
        for name in sorted(files):
            p = os.path.join(dirpath, name)
            h.update(os.path.relpath(p, out).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


if __name__ == "__main__":
    # python3 perfbench/gen.py <workload> <seed>: generate the set twice
    # in a temporary cache and compare digests (byte identity per seed)
    import tempfile
    with open(os.path.join(HERE, "workloads.json")) as f:
        raw = bool(json.load(f)[sys.argv[1]].get("ingest"))
    scratch = os.path.join(os.path.dirname(HERE), ".bench_build")
    os.makedirs(scratch, exist_ok=True)
    digests = []
    for _ in range(2):
        with tempfile.TemporaryDirectory(dir=scratch) as d:
            digests.append(digest(generate(d, int(sys.argv[2]), raw)))
    print(digests[0], "identical" if digests[0] == digests[1] else "DIFFERENT")
    sys.exit(0 if digests[0] == digests[1] else 1)
