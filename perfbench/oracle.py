"""Correctness gate: engine outputs against DuckDB oracles.

Both sides are reduced to the same order-independent digest here, from
typed values, so the check does not depend on how either engine renders
numbers. Oracle digests are cached per (corpus id, key, SQL) because some
oracles (the build chain's recursive CTE) take tens of seconds: first in
`expected.json` next to this file (committed, for the default corpus),
then in a cache file under the build directory.
"""
import datetime
import decimal
import hashlib
import json
import os

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
COMMITTED = os.path.join(HERE, "expected.json")


def _canon(v):
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, decimal.Decimal):
        return repr(float(v))
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    return repr(v)


def digest(con, sql):
    """(digest, rows) of a query result: sorted column names plus the
    sorted canonical rows, hashed."""
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted("\x01".join(_canon(r[i]) for i in order) for r in cur.fetchall())
    h = hashlib.sha256(",".join(sorted(cols)).encode())
    for r in rows:
        h.update(r.encode())
        h.update(b"\x00")
    return h.hexdigest()[:24], len(rows)


def _load(path):
    try:
        with open(path) as f:
            return json.load(f)
    except (OSError, ValueError):
        return {}


def connect(data_dir, tables):
    con = duckdb.connect()
    con.execute(f"SET threads TO {max(1, min(4, os.cpu_count() or 1))}")
    con.execute("SET memory_limit = '1GB'")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet/*.parquet')")
    return con


def check(outputs, outputs_dir, data_dir, tables, corpus_id, cache_path):
    """Compare each engine output with its oracle. Returns a list of
    (key, ok, detail)."""
    committed = _load(COMMITTED)
    cache = _load(cache_path)
    con = connect(data_dir, tables)
    results = []
    dirty = False
    for o in outputs:
        key = o["key"]
        got, n_got = digest(con, "SELECT * FROM read_parquet("
                                 f"'{outputs_dir}/{key}/*.parquet')")
        ck = f"{corpus_id}|{key}|{hashlib.sha256(o['sql'].encode()).hexdigest()[:16]}"
        want = committed.get(ck) or cache.get(ck)
        if want is None:
            want, _ = digest(con, o["sql"])
            cache[ck] = want
            dirty = True
        ok = got == want
        results.append((key, ok, f"rows={n_got} digest={got}" +
                        ("" if ok else f" oracle={want}")))
    con.close()
    if dirty:
        tmp = cache_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(cache, f, indent=1, sort_keys=True)
        os.replace(tmp, cache_path)
    return results
