"""DuckDB oracle check for the queries workload.

Each mix query's Spark result (written as Parquet by the JVM) is
compared with its oracle SQL run in DuckDB over the same generated
corpus: column names, row counts and an order-insensitive canonical hash
of all values, the same canonicalisation tools/oracle_check.py applies.
Queries without an oracle must return rows.
"""

import hashlib
import json
import math
import os

TABLES = ["documents", "events", "embeddings"]


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def fingerprint(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    h = hashlib.sha256()
    for line in sorted("|".join(canon(r[i]) for i in order) for r in rows):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def check(corpus_dir, out_dir, names):
    """Failure messages; empty when every query passes."""
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{corpus_dir}/{t}.parquet/*.parquet')")
    oracles = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    failures = []
    for name in names:
        path = os.path.join(out_dir, "q", name)
        rel = con.sql(f"SELECT * FROM read_parquet('{path}/*.parquet')")
        cols, rows = rel.columns, rel.fetchall()
        if name not in oracles:
            if not rows:
                failures.append(f"{name}: rows-only query returned no rows")
            continue
        try:
            orel = con.sql(oracles[name])
            ocols, orows = orel.columns, orel.fetchall()
        except duckdb.Error as e:
            failures.append(f"{name}: oracle failed in DuckDB: {e}")
            continue
        if sorted(cols) != sorted(ocols):
            failures.append(f"{name}: columns {sorted(cols)} != oracle {sorted(ocols)}")
        elif len(rows) != len(orows):
            failures.append(f"{name}: {len(rows)} rows != oracle {len(orows)}")
        elif not rows:
            failures.append(f"{name}: no rows (the corpus must give every query rows)")
        elif fingerprint(rows, cols) != fingerprint(orows, ocols):
            failures.append(f"{name}: hash mismatch against the DuckDB oracle")
    con.close()
    return failures
