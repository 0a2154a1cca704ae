"""Correctness checks: an independent DuckDB replay of the ingest batches,
and order-independent content hashes of tables and query outputs.

The replay folds the same committed batch sequence the engine applied,
with the SCD rules written out in SQL:

  SCD1 (lineitem)  the newest change per key wins; a delete removes the row
  SCD4 (orders)    an active change snapshots the current row into history,
                   then replaces it; a delete sets deleted_flag only
  SCD2 (customer)  every change closes the current version (expiry = the
                   change's updated_at) and opens a new one

Engine-internal hash columns (hashed_jk, grouping_jk) are left out of the
comparison; every other column, PII outputs included, is compared.
"""
import hashlib
import re

import duckdb
import pyarrow as pa

import gen

SKIP = {"hashed_jk", "grouping_jk"}
OMITTED = {"lineitem": "l_comment", "orders": "o_comment", "customer": "c_comment"}


def _canon(name, typ):
    t = typ.upper()
    q = f'"{name}"'
    if "TIMESTAMP" in t:
        return f"epoch_us({q})"
    if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT", "UTINYINT",
             "USMALLINT", "UINTEGER", "UBIGINT"):
        return f"CAST({q} AS BIGINT)"
    if t in ("FLOAT", "REAL", "DOUBLE"):
        return f"CAST({q} AS DOUBLE)"
    if t == "BOOLEAN":
        return q
    return f"CAST({q} AS VARCHAR)"


def content_hash(con, relation, skip=()):
    """(row count, order-independent hash, column names) of a relation."""
    cols = [(r[0], r[1]) for r in con.execute(f"DESCRIBE SELECT * FROM {relation}").fetchall()
            if r[0] not in skip]
    cols.sort()
    exprs = ", ".join(_canon(n, t) for n, t in cols)
    n, h = con.execute(
        f"SELECT count(*), coalesce(sum(hash({exprs})::HUGEINT), 0)::VARCHAR FROM {relation}"
    ).fetchone()
    return int(n), h, [c for c, _ in cols]


def _connect():
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute("SET threads = 2")
    return con


def _processed(name, rows):
    """What CdcProcessor makes of demuxed rows: source columns added, the
    omitted column dropped, the PII rules applied."""
    out = []
    for r in rows:
        p = {k: v for k, v in r.items() if k != OMITTED[name]}
        p["src_db"], p["src_server_id"] = "erp", 1
        if name == "customer":
            p["c_name_hash"] = hashlib.sha256(p["c_name"].encode()).hexdigest()
            p["c_phone"] = re.sub(r"[0-9]{4}$", "####", p["c_phone"])
        out.append(p)
    return out


def _schema(name):
    fields = [(n, t) for n, t in gen.PAYLOAD[name] if n != OMITTED[name]]
    fields += [("row_active", pa.bool_()), ("deleted_flag", pa.bool_()),
               ("src_db", pa.string()), ("src_server_id", pa.int64())]
    if name == "customer":
        fields.append(("c_name_hash", pa.string()))
    return pa.schema(fields)


def replay(base, batches, committed):
    """Fold the committed batches over the snapshot; return a connection
    holding lineitem, orders, orders_history and customer."""
    con = _connect()
    cols = {}
    for name in gen.TABLES:
        sch = _schema(name)
        cols[name] = ", ".join(f'"{f}"' for f in sch.names)
        con.register("snap", pa.Table.from_pylist(_processed(name, base[name]), schema=sch))
        if name == "customer":
            con.execute("CREATE TABLE customer AS SELECT *, true AS current_flag, "
                        "updated_at AS eff_date, CAST(NULL AS BIGINT) AS expiry_date FROM snap")
        else:
            con.execute(f"CREATE TABLE {name} AS SELECT * FROM snap")
        con.unregister("snap")
    con.execute("CREATE TABLE orders_history AS SELECT *, "
                "to_timestamp(updated_at) AS history_created_at FROM orders WHERE false")
    for name in gen.TABLES:
        sch, c = _schema(name), cols[name]
        on = " AND ".join(f"t.{k} = l.{k}" for k in gen.KEYS[name])
        for b in committed.get(name, []):
            con.register("ev", pa.Table.from_pylist(_processed(name, batches[name][b]), schema=sch))
            con.execute("CREATE OR REPLACE TEMP TABLE last AS SELECT * FROM ev QUALIFY "
                        f"row_number() OVER (PARTITION BY {', '.join(gen.KEYS[name])} "
                        "ORDER BY updated_at DESC) = 1")
            if name == "lineitem":
                con.execute(f"DELETE FROM lineitem t USING last l WHERE {on}")
                con.execute(f"INSERT INTO lineitem ({c}) SELECT {c} FROM last WHERE row_active")
            elif name == "orders":
                con.execute("INSERT INTO orders_history SELECT t.*, to_timestamp(l.updated_at) "
                            f"FROM orders t JOIN last l ON {on} WHERE l.row_active")
                con.execute(f"UPDATE orders t SET deleted_flag = true FROM last l "
                            f"WHERE {on} AND NOT l.row_active")
                con.execute(f"DELETE FROM orders t USING last l WHERE {on} AND l.row_active")
                con.execute(f"INSERT INTO orders ({c}) SELECT {c} FROM last WHERE row_active")
            else:
                con.execute("UPDATE customer t SET current_flag = false, expiry_date = l.updated_at "
                            f"FROM last l WHERE {on} AND t.current_flag")
                con.execute(f"INSERT INTO customer ({c}, current_flag, eff_date, expiry_date) "
                            f"SELECT {c}, true, updated_at, NULL FROM last")
            con.unregister("ev")
    return con


def check_ingest(base, batches, committed, exports):
    """Compare each exported final target with the replay. Returns a list of
    mismatch descriptions (empty when everything matches)."""
    con = replay(base, batches, committed)
    problems = []
    for name in ("lineitem", "orders", "orders_history", "customer"):
        want = content_hash(con, name, SKIP)
        if name in exports:
            got = content_hash(con, f"read_parquet('{exports[name]}/*.parquet')", SKIP)
        else:
            got = (0, "0", want[2])
        if got != want:
            problems.append(f"{name}: engine rows={got[0]} hash={got[1]} cols={got[2]}; "
                            f"replay rows={want[0]} hash={want[1]} cols={want[2]}")
    return problems


def output_hash(path):
    """(rows, hash) of a query output directory."""
    n, h, _ = content_hash(_connect(), f"read_parquet('{path}/*.parquet')")
    return n, h
