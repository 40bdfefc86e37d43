"""Seeded inputs of the `migrate` workload, written with DuckDB + pyarrow.

Every delta row is picked from the base tables by hashing its key with the
seed, so the same seed gives the same files. Each file keeps its base
table's exact parquet schema, so the program reads a delta the way it
reads the base.

  delta/<table>    for the fact tables: ~5% re-sent keys with a changed value (skipped as
                   duplicates) and ~5% new keys, of which one in fifty has
                   its changed column NULL (quarantined)
  merge/events     ~5% re-sent events with a changed value, a fifth of them
                   moved to the next day, and ~5% new events
  upsert/customer  ~5% re-sent customers with a changed balance, ~5% new
"""
import os

import duckdb
import pyarrow.parquet as pq

# the base tables: the sf0.01 test data, kept with the benchmark
DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")

# key columns, and the non-key column a delta row changes
TABLES = {
    "region": (["r_regionkey"], "r_name"),
    "nation": (["n_nationkey"], "n_name"),
    "customer": (["c_custkey"], "c_acctbal"),
    "supplier": (["s_suppkey"], "s_acctbal"),
    "part": (["p_partkey"], "p_retailprice"),
    "orders": (["o_orderkey"], "o_totalprice"),
    "lineitem": (["l_orderkey", "l_linenumber"], "l_quantity"),
    "events": (["event_id"], "value"),
    "documents": (["doc_id"], "source"),
    "embeddings": (["vec_id"], "label"),
}

# the tables the delta pass carries (the fact tables)
DELTA = ("orders", "lineitem", "events")

# New keys are shifted by this many times the key's max, which keeps the
# new keys of the three deltas apart from the base and from each other.
SHIFT = {"delta": 1, "merge": 2, "upsert": 3}


def connect(data):
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    return con


def delta_sql(con, table, seed, kind):
    """The delta rows of one table; `__null` marks the rows to quarantine,
    `__new` the rows with a new key."""
    keys, col = TABLES[table]
    types = dict((r[0], r[1]) for r in con.execute(f"DESCRIBE {table}").fetchall())
    new_val = f"{col} || '*'" if types[col] == "VARCHAR" else f"{col} + 1"
    h = f"hash({', '.join(keys)}, {int(seed)}, '{kind}')"
    k0 = keys[0]
    moved = (f", CASE WHEN {h} % 100 = 0 THEN ts + INTERVAL 1 DAY ELSE ts END AS ts"
             if kind == "merge" else "")
    null = f"{h} % 1000 = 1" if kind == "delta" else "false"
    return f"""
        SELECT * REPLACE ({new_val} AS {col}{moved}), false AS __null,
               false AS __new
        FROM {table} WHERE {h} % 20 = 0
        UNION ALL
        SELECT * REPLACE ({k0} + (SELECT max({k0}) + 1 FROM {table}) * {SHIFT[kind]} AS {k0},
                          CASE WHEN {null} THEN NULL ELSE {new_val} END AS {col}),
               {null} AS __null, true AS __new
        FROM {table} WHERE {h} % 20 = 1"""


def write(con, sql, data, table, path):
    schema = pq.read_schema(f"{data}/{table}.parquet")
    rows = con.execute(f"SELECT * EXCLUDE (__null, __new) FROM ({sql})").arrow()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(rows.select(schema.names).cast(schema), path)


def views(con, seed):
    """The deltas as views (`delta_<table>` with the flags, `merge_events`,
    `upsert_customer`), for the grader's closed forms."""
    for t in DELTA:
        con.execute(f"CREATE VIEW delta_{t} AS {delta_sql(con, t, seed, 'delta')}")
    for kind, t in (("merge", "events"), ("upsert", "customer")):
        con.execute(f"CREATE VIEW {kind}_{t} AS SELECT * EXCLUDE (__null, __new)"
                    f" FROM ({delta_sql(con, t, seed, kind)})")


def make(data, out, seed):
    """Write all migrate inputs for `seed` under `out`."""
    con = connect(data)
    for t in DELTA:
        write(con, delta_sql(con, t, seed, "delta"), data, t,
              f"{out}/delta/{t}.parquet")
    write(con, delta_sql(con, "events", seed, "merge"), data, "events",
          f"{out}/merge/events.parquet")
    write(con, delta_sql(con, "customer", seed, "upsert"), data, "customer",
          f"{out}/upsert/customer.parquet")
    con.close()
