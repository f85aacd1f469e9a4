"""Deterministic synthetic corpus for the benchmark.

The corpus has the engine's test-table schema (a TPC-H-like star schema
plus `documents` and `embeddings`), generated from fixed integer hash
formulas so that the same scale always yields the same rows on any
machine. `base()` builds it once per checkout; `for_seed()` writes a
per-seed copy whose row order and file split are permuted by the seed.
Engine outputs must not depend on that permutation.
"""
import hashlib
import os
import random
import shutil

import duckdb
import pyarrow as pa

GENERATOR_VERSION = 1
PARTS = 4  # files per table in a seed's copy

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "documents", "embeddings"]

DOC_WORDS = ("spark window merge table column vector stream value data small "
             "join filter big group hash customer sort order slow line part "
             "fast row the agg key query a scan batch").split()
PART_ADJ = "red blue hot cold old new small large".split()
PART_NOUN = "widget bolt gear ring rod plate gizmo anvil".split()
LANGS = ["en"] * 41 + ["zh"] * 15 + ["de"] * 14 + ["fr"] * 15 + ["es"] * 15


def sizes(sf):
    """Row counts per table at scale factor `sf` (sf 0.1 = 600k lineitem)."""
    n = lambda k: max(1, int(round(k * sf)))
    return {"customer": n(150000), "supplier": n(10000), "part": n(200000),
            "orders": n(1500000), "lineitem": n(6000000),
            "documents": n(50000), "embeddings": n(20000)}


# mix(x): a 32-bit integer hash (xorshift-multiply rounds), identical in
# every DuckDB build because it is plain BIGINT arithmetic; inputs stay
# below 2^37 so no product overflows.
MACROS = """
CREATE MACRO mix1(x) AS (xor(CAST(x AS BIGINT), CAST(x AS BIGINT) >> 16) * 73244475) % 4294967296;
CREATE MACRO mix(x) AS xor(mix1(mix1(x)), mix1(mix1(x)) >> 16);
CREATE MACRO rnd(i, salt) AS mix(mix(i * 64 + salt) + salt);
"""


def _generate(con, sf, out):
    s = sizes(sf)
    con.execute(MACROS)
    q = lambda sql, t: con.execute(
        f"COPY ({sql}) TO '{out}/{t}.parquet' (FORMAT parquet)")
    q("SELECT CAST(i AS INTEGER) AS r_regionkey, 'REGION_' || i AS r_name "
      "FROM range(5) t(i)", "region")
    q("SELECT CAST(i AS INTEGER) AS n_nationkey, 'NATION_' || i AS n_name, "
      "CAST(i % 5 AS INTEGER) AS n_regionkey FROM range(25) t(i)", "nation")
    seg = "['AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY']"
    q(f"SELECT i AS c_custkey, 'Customer#' || lpad(CAST(i AS VARCHAR), 9, '0') AS c_name, "
      f"CAST(rnd(i, 1) % 25 AS INTEGER) AS c_nationkey, "
      f"round(-999.99 + rnd(i, 2) % 1100000 / 100.0, 2) AS c_acctbal, "
      f"{seg}[1 + rnd(i, 3) % 5] AS c_mktsegment "
      f"FROM range({s['customer']}) t(i)", "customer")
    q(f"SELECT i AS s_suppkey, 'Supplier#' || lpad(CAST(i AS VARCHAR), 9, '0') AS s_name, "
      f"CAST(rnd(i, 4) % 25 AS INTEGER) AS s_nationkey, "
      f"round(-999.99 + rnd(i, 5) % 1100000 / 100.0, 2) AS s_acctbal "
      f"FROM range({s['supplier']}) t(i)", "supplier")
    adj = "[" + ",".join(f"'{a}'" for a in PART_ADJ) + "]"
    noun = "[" + ",".join(f"'{a}'" for a in PART_NOUN) + "]"
    ptype = "['ECONOMY','LARGE','MEDIUM','PROMO','SMALL','STANDARD']"
    q(f"SELECT i AS p_partkey, {adj}[1 + rnd(i, 6) % 8] || ' ' || {noun}[1 + rnd(i, 7) % 8] AS p_name, "
      f"'Brand#' || (1 + rnd(i, 8) % 25) AS p_brand, {ptype}[1 + rnd(i, 9) % 6] AS p_type, "
      f"CAST(1 + rnd(i, 10) % 50 AS INTEGER) AS p_size, "
      f"round(900.0 + (i % 1000) / 10.0, 2) AS p_retailprice "
      f"FROM range({s['part']}) t(i)", "part")
    status = "['F','O','P']"
    prio = "['1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW']"
    q(f"SELECT i AS o_orderkey, CAST(rnd(i, 11) % {s['customer']} AS BIGINT) AS o_custkey, "
      f"{status}[1 + rnd(i, 12) % 3] AS o_orderstatus, "
      f"round(1000.0 + rnd(i, 13) % 49900000 / 100.0, 2) AS o_totalprice, "
      f"TIMESTAMP '1995-01-01' + to_days(CAST(rnd(i, 14) % 2400 AS INTEGER)) AS o_orderdate, "
      f"{prio}[1 + rnd(i, 15) % 5] AS o_orderpriority "
      f"FROM range({s['orders']}) t(i)", "orders")
    q(f"SELECT CAST(rnd(i, 16) % {s['orders']} AS BIGINT) AS l_orderkey, "
      f"CAST(rnd(i, 17) % {s['part']} AS BIGINT) AS l_partkey, "
      f"CAST(rnd(i, 18) % {s['supplier']} AS BIGINT) AS l_suppkey, "
      f"CAST(1 + i % 7 AS INTEGER) AS l_linenumber, "
      f"CAST(1 + rnd(i, 19) % 50 AS DOUBLE) AS l_quantity, "
      f"round(900.0 + rnd(i, 20) % 10410000 / 100.0, 2) AS l_extendedprice, "
      f"(rnd(i, 21) % 11) / 100.0 AS l_discount, (rnd(i, 22) % 9) / 100.0 AS l_tax, "
      f"['A','N','R'][1 + rnd(i, 23) % 3] AS l_returnflag, "
      f"['F','O'][1 + rnd(i, 24) % 2] AS l_linestatus, "
      f"TIMESTAMP '1995-01-02' + to_days(CAST(rnd(i, 25) % 2500 AS INTEGER)) AS l_shipdate "
      f"FROM range({s['lineitem']}) t(i)", "lineitem")
    _documents(con, s["documents"], out)
    _embeddings(con, s["embeddings"], out)


def _documents(con, n, out):
    """Word-salad documents over a 30-word vocabulary: ~5% near-duplicates
    (another document plus the word 'dup') and a few exact duplicates."""
    rng = random.Random(20260101)
    texts = []
    for i in range(n):
        if i % 20 == 11 and i > 100:
            texts.append(texts[rng.randrange(i - 100)] + " dup")
        elif i % 600 == 17 and i > 100:
            texts.append(texts[rng.randrange(i - 100)])
        else:
            texts.append(" ".join(rng.choice(DOC_WORDS)
                                  for _ in range(rng.randint(10, 100))))
    docs_gen = pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[rng.randrange(len(LANGS))] for _ in range(n)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    con.register("docs_gen", docs_gen)
    con.execute(f"COPY (SELECT * FROM docs_gen) TO '{out}/documents.parquet' (FORMAT parquet)")


def _embeddings(con, n, out):
    """64-dim vectors around ten label centroids (per-dim noise ~0.12)."""
    rng = random.Random(20260102)
    centers = [[rng.gauss(0.0, 0.05) for _ in range(64)] for _ in range(10)]
    labels = [rng.randrange(10) for _ in range(n)]
    vecs = [[c + rng.gauss(0.0, 0.12) for c in centers[lb]] for lb in labels]
    emb_gen = pa.table({
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    con.register("emb_gen", emb_gen)
    con.execute(f"COPY (SELECT * FROM emb_gen) TO '{out}/embeddings.parquet' (FORMAT parquet)")


def content_id(con, glob_of):
    """Order-independent digest of every row of every table."""
    h = hashlib.sha256()
    for t in TABLES:
        n, s = con.execute(
            f"SELECT count(*), sum(hash(t::VARCHAR) % 1000000007)::HUGEINT "
            f"FROM read_parquet('{glob_of(t)}') t").fetchone()
        h.update(f"{t}:{n}:{s};".encode())
    return h.hexdigest()[:16]


def base(root, sf):
    """Build (once) the seed-independent corpus; return (dir, corpus id)."""
    out = os.path.join(root, f"base-sf{sf}-g{GENERATOR_VERSION}")
    stamp = os.path.join(out, "CORPUS_ID")
    if os.path.exists(stamp):
        return out, open(stamp).read().strip()
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    _generate(con, sf, out)
    cid = content_id(con, lambda t: f"{out}/{t}.parquet")
    con.close()
    with open(stamp + ".tmp", "w") as f:
        f.write(cid + "\n")
    os.replace(stamp + ".tmp", stamp)
    return out, cid


def for_seed(root, base_dir, seed):
    """Copy of the base corpus whose row order, and the assignment of rows
    to the PARTS files of each table, are permuted by the seed;
    `<table>.parquet` is a directory of parts. The file count is fixed so
    that scan parallelism does not vary with the seed."""
    out = os.path.join(root, f"seed-{seed}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    con = duckdb.connect()
    con.execute("SET preserve_insertion_order TO true")
    con.execute(MACROS)
    salt = seed % 1000003
    for t in TABLES:
        os.makedirs(f"{out}/{t}.parquet")
        src = f"{base_dir}/{t}.parquet"
        con.execute("SET threads TO 4")
        con.execute(
            f"CREATE OR REPLACE TEMP TABLE perm AS SELECT * EXCLUDE (file_row_number), "
            f"rnd(file_row_number, {salt}) AS _o "
            f"FROM read_parquet('{src}', file_row_number = true) "
            f"ORDER BY _o, file_row_number")
        # one writer thread: the parallel writer's row-group layout varies
        con.execute("SET threads TO 1")
        for p in range(PARTS):
            con.execute(
                f"COPY (SELECT * EXCLUDE (_o) FROM perm WHERE _o % {PARTS} = {p}) "
                f"TO '{out}/{t}.parquet/part-{p}.parquet' (FORMAT parquet)")
    con.close()
    return out
