"""DuckDB replay of the program's oracle SQL on generated inputs.

The offline workloads force every result through an order-independent
digest (perfbench/jvm/.../RowHash.scala); this module computes the same
digest over DuckDB's answer to the matching `SparkEntry.oracleSql` entry:
rows become `|`-joined canonical strings (NULL as N, integers in decimal,
floating values as round(x * 1e6), strings verbatim) whose md5's first 8
bytes are summed modulo 2^64.

Replays are cached next to the inputs, keyed by the SQL text.
"""
import hashlib
import json
import os

import duckdb

INT_TYPES = ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT",
             "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT")
FLOAT_TYPES = ("FLOAT", "DOUBLE", "REAL")


def _canonical(col, typ):
    q = '"' + col.replace('"', '""') + '"'
    if typ in INT_TYPES:
        e = f"CAST({q} AS VARCHAR)"
    elif typ in FLOAT_TYPES or typ.startswith("DECIMAL"):
        e = f"CAST(CAST(round(CAST({q} AS DOUBLE) * 1000000) AS BIGINT) AS VARCHAR)"
    elif typ == "VARCHAR":
        e = q
    elif typ == "BOOLEAN":
        e = f"CASE WHEN {q} THEN 'true' ELSE 'false' END"
    else:
        raise ValueError(f"no canonical form for column {col}: {typ}")
    return f"COALESCE({e}, 'N')"


def digest(con, sql):
    """'rows:sum' digest of a query's result (RowHash.hex's format)."""
    cols = con.execute(f"DESCRIBE {sql}").fetchall()
    canon = ", ".join(_canonical(c[0], c[1]) for c in cols)
    n, s = con.execute(
        f"SELECT count(*), sum(('0x' || substr(md5(concat_ws('|', {canon})), 1, 16))"
        f"::UBIGINT::HUGEINT) FROM ({sql}) q").fetchone()
    return f"{n}:{int(s or 0) % (1 << 64)}"


def hex_threshold(test_size):
    """Split.hexThreshold: md5 prefix cut-off for a test share."""
    return format(min(int(test_size * 4294967296.0), 4294967295), "08x")


def queries(workload, sql, seed):
    """(output name, setup statements, query) per digest the workload (or,
    for "corpus_dedup", the dedup journey of traced training_set runs)
    checks. `sql` maps oracle entry names to the program's SQL text."""
    if workload == "training_set":
        ev_all = "CREATE OR REPLACE VIEW events AS SELECT * FROM events_file"
        ev_click = ("CREATE OR REPLACE VIEW events AS SELECT * FROM events_file "
                    "WHERE event_type = 'click'")
        train = (f"SELECT p.*, c.c_acctbal AS f_bal FROM ({sql['pit_lag']}) p "
                 "LEFT JOIN customer c ON p.user_id = c.c_custkey")
        split = (f"SELECT t.*, CAST(substr(md5(concat_ws('|', CAST(user_id AS VARCHAR), "
                 f"CAST(ts_ms AS VARCHAR), '{seed}')), 1, 8) < '{hex_threshold(0.2)}' "
                 f"AS INTEGER) AS is_test FROM ({train}) t")
        return [
            ("feat_latest_ts", [ev_click], sql["feat_latest_ts"]),
            ("training_set", [ev_all], train),
            ("pit_window_agg", [ev_all], sql["pit_window_agg"]),
            ("training_split", [ev_all], split),
        ]
    if workload == "corpus_dedup":
        return [("minhash_near_dups", [], sql["minhash_near_dups"])]
    return []


def replay(workload, data_dir, sql_dir, seed, threads):
    """{output name: digest} for the workload's checked outputs."""
    sql = {}
    for f in sorted(os.listdir(sql_dir)):
        if f.endswith(".sql"):
            with open(os.path.join(sql_dir, f)) as fh:
                sql[f[:-4]] = fh.read()
    qs = queries(workload, sql, seed)
    if not qs:
        return {}
    key = hashlib.sha1(json.dumps([workload, seed, qs]).encode()).hexdigest()[:16]
    cache = os.path.join(data_dir, f"oracle-{workload}-{key}.json")
    if os.path.exists(cache):
        with open(cache) as f:
            return json.load(f)
    con = duckdb.connect()
    con.execute(f"SET threads = {threads}")
    con.execute(f"SET temp_directory = '{os.path.join(data_dir, 'duckdb_tmp')}'")
    for t in ("events", "customer", "documents"):
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            name = "events_file" if t == "events" else t
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    out = {}
    for name, setup, q in qs:
        for s in setup:
            con.execute(s)
        out[name] = digest(con, q)
    con.close()
    with open(cache + ".tmp", "w") as f:
        json.dump(out, f)
    os.replace(cache + ".tmp", cache)
    return out
