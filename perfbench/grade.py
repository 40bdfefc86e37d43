"""Correctness gate, run after the timed passes.

Query outputs are graded against their DuckDB oracle with the rules of
`scripts/check.py`: same column set, same row count, then values row by row
in oracle order, exact first and then within relative tolerance 1e-9.

The migrate destinations are graded against closed forms of what the copy,
merge and upsert must leave, written in DuckDB SQL over the base tables and
the seeded deltas.
"""
import hashlib
import math
import os
import pickle

import inputs


def _null(v):
    return v is None or (isinstance(v, float) and math.isnan(v))


def fetch(con, sql):
    cur = con.execute(sql)
    return [d[0] for d in cur.description], cur.fetchall()


def compare(got, exp):
    """None when two fetched relations agree, else the first difference."""
    (gcols, got_rows), (ecols, exp_rows) = got, exp
    if sorted(gcols) != sorted(ecols):
        return f"columns differ: got {sorted(gcols)} expected {sorted(ecols)}"
    if len(got_rows) != len(exp_rows):
        return f"row count: got {len(got_rows)} expected {len(exp_rows)}"
    gi = [gcols.index(c) for c in sorted(gcols)]
    ei = [ecols.index(c) for c in sorted(ecols)]
    for r, (g, e) in enumerate(zip(got_rows, exp_rows)):
        for c, a, b in zip(sorted(gcols), (g[i] for i in gi), (e[i] for i in ei)):
            if _null(a) and _null(b):
                continue
            if isinstance(a, float) and isinstance(b, float) and not (_null(a) or _null(b)):
                if a == b or abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b)):
                    continue
            elif str(a) == str(b):
                continue
            return f"row {r} column {c}: got {a!r} expected {b!r}"
    return None


def oracle_rows(con, sql, cache):
    """The oracle's result, computed once per (SQL, input tables): some
    oracles (q474's DTW) take longer in DuckDB than the timed run."""
    key = hashlib.sha256(sql.encode())
    for t in sorted(inputs.TABLES):
        key.update(f"{t}:{os.path.getsize(f'{inputs.DATA}/{t}.parquet')}".encode())
    path = os.path.join(cache, key.hexdigest() + ".pickle")
    if os.path.exists(path):
        with open(path, "rb") as f:
            return pickle.load(f)
    rel = fetch(con, sql)
    os.makedirs(cache, exist_ok=True)
    with open(path + ".tmp", "wb") as f:
        pickle.dump(rel, f)
    os.replace(path + ".tmp", path)
    return rel


def queries(con, outputs, cache):
    """Grade {op id: (query name, output dir, oracle SQL)}; returns the
    failing op ids with their reason."""
    failed = {}
    for op, (name, path, oracle) in outputs.items():
        try:
            diff = compare(fetch(con, f"SELECT * FROM '{path}/*.parquet'"),
                           oracle_rows(con, oracle, cache))
        except Exception as e:  # noqa: BLE001 - any error fails the op
            diff = f"{type(e).__name__}: {e}"
        if diff:
            failed[op] = f"{name}: {diff}"
    return failed


def migrate_pass(con, dest):
    """Grade one migrate pass destination; returns {step: reason}."""
    failed = {}

    def check(step, got_sql, exp_sql):
        try:
            diff = compare(fetch(con, got_sql), fetch(con, exp_sql))
        except Exception as e:  # noqa: BLE001
            diff = f"{type(e).__name__}: {e}"
        if diff:
            failed[step] = diff

    def one_per_key(step, got, src, keys, cols):
        # a copy keeps one row per key: as many rows as the source has
        # distinct keys, no key twice, and every row one of the source's
        # (the writer may reorder columns, so they are named)
        check(f"{step}.rows",
              f"SELECT count(*) AS n, count(DISTINCT ({keys})) AS k FROM {got}",
              f"SELECT count(DISTINCT ({keys})) AS n, n AS k FROM {src}")
        check(f"{step}.values",
              f"SELECT count(*) AS stray FROM (SELECT {cols} FROM {got} EXCEPT"
              f" SELECT {cols} FROM {src})",
              "SELECT 0 AS stray")

    for t, (keys, _) in inputs.TABLES.items():
        keys = ", ".join(keys)
        cols = ", ".join(r[0] for r in con.execute(f"DESCRIBE {t}").fetchall())
        got = f"'{dest}/db/{t}.parquet/*.parquet'"
        if t not in inputs.DELTA:
            one_per_key(t, got, t, keys, cols)
            continue
        flags = f"SELECT * EXCLUDE (__null, __new) FROM delta_{t}"
        one_per_key(t, got,
                    f"(SELECT * FROM {t} UNION ALL {flags} WHERE __new AND NOT __null)",
                    keys, cols)
        if con.execute(f"SELECT count(*) FROM delta_{t} WHERE __null").fetchone()[0]:
            one_per_key(f"{t}.quarantine",
                        f"'{dest}/db/{t}.parquet_quarantine/*.parquet'",
                        f"({flags} WHERE __null)", keys, cols)
    check("events_merge",
          f"SELECT * EXCLUDE (p_date), p_date = CAST(ts AS DATE) AS in_day"
          f" FROM read_parquet('{dest}/events_by_day/*/*.parquet',"
          f" hive_partitioning = true) ORDER BY event_id",
          "SELECT *, true AS in_day FROM (SELECT * FROM events WHERE event_id NOT IN"
          " (SELECT event_id FROM merge_events) UNION ALL"
          " SELECT * FROM merge_events) ORDER BY event_id")
    check("customer_upsert",
          f"SELECT * FROM '{dest}/customer_upserted/*.parquet' ORDER BY c_custkey",
          "SELECT * FROM (SELECT * FROM customer"
          " WHERE c_custkey NOT IN (SELECT c_custkey FROM upsert_customer)"
          " UNION ALL SELECT * FROM upsert_customer) ORDER BY c_custkey")
    return failed
