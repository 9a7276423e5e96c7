"""Order-insensitive comparison of the analytics results against the
DuckDB oracle twins (``SparkEntry.oracleSql``) over the same parquet.

The JVM writes ``manifest.json``: the fixture tables and, per (query,
parameters) key, the Spark result directory and the oracle SQL. Both sides
are read through DuckDB, columns ordered by name, rows rendered and sorted;
the fingerprint is the SHA-256 of that sorted list.
"""
import hashlib
import json
import os


def _fingerprint(cur):
    names = [d[0] for d in cur.description]
    order = sorted(range(len(names)), key=lambda i: names[i])
    rows = sorted("|".join(repr(r[i]) for i in order) for r in cur.fetchall())
    return [names[i] for i in order], len(rows), hashlib.sha256("\n".join(rows).encode()).hexdigest()


def check(oracle_dir):
    import duckdb
    with open(os.path.join(oracle_dir, "manifest.json")) as f:
        m = json.load(f)
    con = duckdb.connect()
    for t, path in m["tables"].items():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    problems = []
    for k in m["keys"]:
        with open(k["sql"]) as f:
            sql = f.read()
        try:
            want = _fingerprint(con.execute(sql))
            got = _fingerprint(con.execute(f"SELECT * FROM read_parquet('{k['result']}/*.parquet')"))
        except Exception as e:  # an oracle that cannot run is a failed check
            problems.append(f"{k['key']}: {e}")
            continue
        if got != want:
            problems.append(f"{k['key']}: spark {got[:2]} {got[2][:12]} != oracle {want[:2]} {want[2][:12]}")
    return problems
