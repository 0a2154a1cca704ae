"""Seeded input generator for the benchmark.

Everything the engine reads in a run is written here, before the engine
starts: the program receives only these staged files. The same seed and
parameters always give byte-identical inputs.

Ingest workloads (stream_hot, batch_scattered) get three TPC-H-shaped tables
as an all-insert CDC snapshot plus a sequence of Debezium-envelope change
batches:

  lineitem  SCD1, partitioned by ship month   key (l_orderkey, l_linenumber)
  orders    SCD4, current partitioned by order month, history unpartitioned
  customer  SCD2, partitioned by market segment

analytics_heavy gets TPC-H-ish tables plus the documents and embeddings
corpora the analytics queries read. Those inputs are fixed (their own
constant seed) so that each query's output can be pinned in
expected_analytics.json; the run seed does not change them.
"""
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

MONTHS = [f"2023-{m:02d}" for m in range(1, 13)]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
FLAGS = ["A", "N", "R"]
T0 = 1_700_000_000  # epoch seconds of the snapshot; events count up from here

PAYLOAD = {
    "lineitem": [
        ("l_orderkey", pa.int64()), ("l_linenumber", pa.int32()),
        ("l_partkey", pa.int64()), ("l_quantity", pa.float64()),
        ("l_extendedprice", pa.float64()), ("l_discount", pa.float64()),
        ("l_returnflag", pa.string()), ("l_shipdate", pa.string()),
        ("l_shipmonth", pa.string()), ("l_comment", pa.string()),
        ("updated_at", pa.int64())],
    "orders": [
        ("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
        ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
        ("o_orderdate", pa.string()), ("o_month", pa.string()),
        ("o_orderpriority", pa.string()), ("o_comment", pa.string()),
        ("updated_at", pa.int64())],
    "customer": [
        ("c_custkey", pa.int64()), ("c_name", pa.string()),
        ("c_phone", pa.string()), ("c_nationkey", pa.int32()),
        ("c_acctbal", pa.float64()), ("c_mktsegment", pa.string()),
        ("c_comment", pa.string()), ("updated_at", pa.int64())],
}
KEYS = {"lineitem": ("l_orderkey", "l_linenumber"), "orders": ("o_orderkey",),
        "customer": ("c_custkey",)}
# The column each table is partitioned by; updates never change it.
PART_COL = {"lineitem": "l_shipmonth", "orders": "o_month", "customer": "c_mktsegment"}
TABLES = ("lineitem", "orders", "customer")

# Workload shapes. Shares are of the events in one batch.
INGEST = {
    "stream_hot": dict(customers=1000, orders=8000, lines_per_order=4,
                       batches_per_second=2, min_batches=24,
                       events=dict(lineitem=600, orders=200, customer=80),
                       hot_months=2, insert_share=0.35, delete_share=0.10,
                       reinsert_share=0.0, dup_share=0.08),
    "batch_scattered": dict(customers=1000, orders=8000, lines_per_order=4,
                            batches_per_second=1, min_batches=16,
                            churn_share=0.01, hot_months=len(MONTHS),
                            insert_share=0.05, delete_share=0.10,
                            reinsert_share=0.10, dup_share=0.08),
}
WARMUP_BATCHES = 2


def _money(x):
    return round(x, 2)


class _Table:
    """Live state of one source table: what the CDC stream describes."""

    def __init__(self, name):
        self.name = name
        self.rows = {}      # key -> row dict (alive)
        self.dead = {}      # key -> last row before its delete
        self.parts = {}     # partition value -> {key: None} (alive, ordered)

    def put(self, k, row):
        self.rows[k] = row
        self.parts.setdefault(row[PART_COL[self.name]], {})[k] = None

    def kill(self, k):
        row = self.dead[k] = self.rows.pop(k)
        del self.parts[row[PART_COL[self.name]]][k]

    def keys_in(self, months):
        return [k for m in months for k in self.parts.get(m, ())]


def _base_tables(rng, p):
    cust, orders, lines = _Table("customer"), _Table("orders"), _Table("lineitem")
    nc, no = p["customers"], p["orders"]
    for k in range(nc):
        cust.put((k,), _customer(rng, k, T0 - 1))
    for k in range(no):
        _new_order(rng, orders, lines, k, rng.choice(MONTHS), nc, p["lines_per_order"], T0 - 1)
    return {"customer": cust, "orders": orders, "lineitem": lines}


def _customer(rng, k, ts):
    return dict(c_custkey=k, c_name=f"Customer#{k:09d}",
                c_phone=f"{10 + k % 25:02d}-{rng.randrange(100, 1000)}-"
                        f"{rng.randrange(100, 1000)}-{rng.randrange(1000, 10000)}",
                c_nationkey=k % 25, c_acctbal=_money(rng.uniform(-999, 9999)),
                c_mktsegment=rng.choice(SEGMENTS), c_comment=f"c{rng.getrandbits(30)}",
                updated_at=ts)


def _new_order(rng, orders, lines, k, month, nc, lpo, ts):
    """An order and its lines, all in `month`; returns the new line keys."""
    day = rng.randrange(1, 29)
    orders.put((k,), dict(
        o_orderkey=k, o_custkey=rng.randrange(nc), o_orderstatus=rng.choice(STATUSES),
        o_totalprice=_money(rng.uniform(1000, 400000)), o_orderdate=f"{month}-{day:02d}",
        o_month=month, o_orderpriority=rng.choice(PRIORITIES),
        o_comment=f"o{rng.getrandbits(30)}", updated_at=ts))
    keys = []
    for ln in range(1, rng.randrange(1, 2 * lpo) + 1):
        lines.put((k, ln), dict(
            l_orderkey=k, l_linenumber=ln, l_partkey=rng.randrange(20000),
            l_quantity=float(rng.randrange(1, 51)),
            l_extendedprice=_money(rng.uniform(900, 100000)),
            l_discount=rng.randrange(11) / 100.0, l_returnflag=rng.choice(FLAGS),
            l_shipdate=f"{month}-{day:02d}", l_shipmonth=month,
            l_comment=f"l{rng.getrandbits(30)}", updated_at=ts))
        keys.append((k, ln))
    return keys


def _mutate(rng, name, row, ts):
    """A plausible update: business values change, keys and partition stay."""
    r = dict(row, updated_at=ts)
    if name == "lineitem":
        r["l_quantity"] = float(rng.randrange(1, 51))
        r["l_extendedprice"] = _money(rng.uniform(900, 100000))
        r["l_returnflag"] = rng.choice(FLAGS)
    elif name == "orders":
        r["o_orderstatus"] = rng.choice(STATUSES)
        r["o_totalprice"] = _money(rng.uniform(1000, 400000))
    else:
        r["c_acctbal"] = _money(rng.uniform(-999, 9999))
        r["c_phone"] = r["c_phone"][:-4] + f"{rng.randrange(1000, 10000)}"
    return r


class _Clock:
    """Event time: unique, increasing; a late duplicate takes ts - 1."""

    def __init__(self):
        self.t = T0

    def next(self):
        self.t += 10
        return self.t


def _batch(rng, tables, name, n_events, p, clock, next_key):
    """One change batch for `name`: inserts, updates, deletes, re-inserts,
    and late in-batch duplicates. Each key has one primary event; a late
    duplicate is an older update of the same key written after it, which
    the dedup key (updated_at) must discard. Delete images carry the delete
    time in updated_at so the dedup key orders them too."""
    t = tables[name]
    n_ins = round(n_events * p["insert_share"])
    n_del = round(n_events * p["delete_share"])
    n_rein = min(round(n_events * p["reinsert_share"]), len(t.dead))
    n_upd = max(0, n_events - n_ins - n_del - n_rein)
    events, used = [], set()
    candidates = t.keys_in(MONTHS[-p["hot_months"]:]) if name != "customer" else list(t.rows)
    for j, k in enumerate(rng.sample(candidates, min(len(candidates), n_upd + n_del))):
        used.add(k)
        ts = clock.next()
        old = t.rows[k]
        if j < n_del:
            events.append(("d", dict(old, updated_at=ts), None))
            t.kill(k)
        else:
            new = _mutate(rng, name, old, ts)
            events.append(("u", old, new))
            t.put(k, new)
    if n_rein:
        for k in rng.sample([k for k in t.dead if k not in used], n_rein):
            row = _mutate(rng, name, t.dead.pop(k), clock.next())
            events.append(("c", None, row))
            t.put(k, row)
    newest = MONTHS[-1]
    inserted = 0
    while inserted < n_ins:
        key = next_key[name]
        next_key[name] += 1
        if name == "customer":
            t.put((key,), _customer(rng, key, clock.next()))
            new_keys = [(key,)]
        elif name == "orders":
            new_keys = [(key,)]
            _new_order(rng, t, _Table("lineitem"), key, newest, p["customers"], 1, clock.next())
        else:
            new_keys = _new_order(rng, _Table("orders"), t, key, newest, p["customers"], 2, 0)
            for k in new_keys:
                t.rows[k]["updated_at"] = clock.next()
        for k in new_keys:
            events.append(("c", None, t.rows[k]))
        inserted += len(new_keys)
    for i in rng.sample(range(len(events)), round(len(events) * p["dup_share"])):
        op, before, after = events[i]
        img = after if after is not None else before
        events.append(("u", img, _mutate(rng, name, img, img["updated_at"] - 1)))
    return events


def _envelope_type(name):
    payload = pa.struct(PAYLOAD[name])
    return pa.struct([("value", pa.struct([
        ("op", pa.string()), ("before", payload), ("after", payload),
        ("source", pa.struct([("db", pa.string()), ("server_id", pa.int64())]))]))])


def _envelopes(events):
    return [{"value": {"op": op, "before": b, "after": a,
                       "source": {"db": "erp", "server_id": 1}}}
            for op, b, a in events]


def _write_envelope_parquet(path, name, events):
    tbl = pa.Table.from_pylist(_envelopes(events), schema=pa.schema(
        [("value", _envelope_type(name).field("value").type)]))
    pq.write_table(tbl, path)


def _demuxed(events):
    """The change rows a CDC demux yields: upserts take `after`, deletes take
    `before` with row_active = false."""
    return [dict(a, row_active=True, deleted_flag=False) if op in ("c", "u")
            else dict(b, row_active=False, deleted_flag=True)
            for op, b, a in events]


def ingest(workload, seed, seconds, out):
    """Write base snapshots, change batches and a manifest; return the
    manifest plus the demuxed change rows the correctness replay folds."""
    p = INGEST[workload]
    rng = random.Random(f"{workload}:{seed}")
    tables = _base_tables(rng, p)
    next_key = {"customer": p["customers"], "orders": p["orders"],
                "lineitem": p["orders"]}
    clock = _Clock()
    n_batches = WARMUP_BATCHES + max(p["min_batches"], p["batches_per_second"] * seconds)
    os.makedirs(f"{out}/base", exist_ok=True)
    base = {}
    for name in TABLES:
        rows = list(tables[name].rows.values())
        base[name] = [dict(r, row_active=True, deleted_flag=False) for r in rows]
        _write_envelope_parquet(f"{out}/base/{name}.parquet", name,
                                [("c", None, r) for r in rows])
    batches = {n: [] for n in TABLES}
    sizes = {n: [] for n in TABLES}
    for b in range(n_batches):
        for name in TABLES:
            if workload == "stream_hot":
                # the same size every batch, so a run's row rate does not
                # depend on how many rounds fit in the window
                n_ev = p["events"][name]
            else:
                n_ev = max(1, int(round(len(tables[name].rows) * p["churn_share"])))
            events = _batch(rng, tables, name, n_ev, p, clock, next_key)
            batches[name].append(_demuxed(events))
            sizes[name].append(len(events))
            d = f"{out}/batches/{name}"
            os.makedirs(d, exist_ok=True)
            if workload == "stream_hot":
                with open(f"{d}/{b:05d}.json", "w") as f:
                    for env in _envelopes(events):
                        f.write(json.dumps(env, separators=(",", ":")) + "\n")
            else:
                _write_envelope_parquet(f"{d}/{b:05d}.parquet", name, events)
    params = {k: v for k, v in p.items()}
    params.update(seed=seed, batch_count=n_batches, warmup_batches=WARMUP_BATCHES)
    manifest = {"workload": workload, "params": params, "sizes": sizes,
                "tables": list(TABLES)}
    with open(f"{out}/manifest.json", "w") as f:
        json.dump(manifest, f)
    return manifest, base, batches


# --------------------------------------------------------------------------
# analytics_heavy inputs
# --------------------------------------------------------------------------

ANALYTICS_SEED = 20250601
ANALYTICS_SIZE = dict(documents=400, embeddings=400, customers=300, orders=3000,
                      parts=400, lines_per_order=4)
VOCAB = ("a the data table row column key value hash join merge batch stream "
         "query filter group sort window scan agg part line order customer "
         "small big fast slow spark vector").split()
LANGS = ["de", "en", "es", "fr", "zh"]


def analytics(out):
    """The analytics corpus: shapes of the repository's synthetic test data
    (31-word vocabulary, 64-d unit embeddings in 10 labelled clusters) at a
    size where every query is dominated by its job structure."""
    s = ANALYTICS_SIZE
    rng = np.random.default_rng(ANALYTICS_SEED)
    # numpy below: vectorized draws for whole columns
    os.makedirs(out, exist_ok=True)
    n = s["documents"]
    texts = []
    for i in range(n):
        if i > 10 and rng.uniform() < 0.02:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(rng.choice(VOCAB, size=int(rng.integers(10, 100)))))
    pq.write_table(pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[int(x)] for x in rng.integers(0, 5, n)], pa.string()),
        "source": pa.array([f"src{int(x)}" for x in rng.integers(0, 20, n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}),
        f"{out}/documents.parquet")
    m = s["embeddings"]
    centers = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, m)
    vecs = centers[labels] + 0.6 * rng.normal(size=(m, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    pq.write_table(pa.table({
        "vec_id": pa.array(range(m), pa.int64()),
        "embedding": pa.array([list(map(float, v.astype(np.float32))) for v in vecs],
                              pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())}), f"{out}/embeddings.parquet")
    nc, no, nparts = s["customers"], s["orders"], s["parts"]
    pq.write_table(pa.table({
        "c_custkey": pa.array(range(nc), pa.int64()),
        "c_name": pa.array([f"Customer#{k:09d}" for k in range(nc)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, nc), 2), pa.float64()),
        "c_mktsegment": pa.array([SEGMENTS[int(x)] for x in rng.integers(0, 5, nc)], pa.string())}),
        f"{out}/customer.parquet")
    pq.write_table(pa.table({
        "p_partkey": pa.array(range(nparts), pa.int64()),
        "p_name": pa.array([f"part {k}" for k in range(nparts)], pa.string()),
        "p_brand": pa.array([f"Brand#{int(x)}" for x in rng.integers(1, 26, nparts)], pa.string()),
        "p_type": pa.array([["ECONOMY", "STANDARD", "PROMO"][int(x)]
                            for x in rng.integers(0, 3, nparts)], pa.string()),
        "p_size": pa.array(rng.integers(1, 51, nparts), pa.int32()),
        "p_retailprice": pa.array(np.round(rng.uniform(900, 2000, nparts), 1), pa.float64())}),
        f"{out}/part.parquet")
    day0 = np.datetime64("1995-01-01")
    odays = rng.integers(0, 2400, no)
    pq.write_table(pa.table({
        "o_orderkey": pa.array(range(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": pa.array([STATUSES[int(x)] for x in rng.integers(0, 3, no)], pa.string()),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 400000, no), 2), pa.float64()),
        "o_orderdate": pa.array((day0 + odays).astype("datetime64[us]"), pa.timestamp("us")),
        "o_orderpriority": pa.array([PRIORITIES[int(x)] for x in rng.integers(0, 5, no)], pa.string())}),
        f"{out}/orders.parquet")
    per = rng.integers(1, 2 * s["lines_per_order"], no)
    lok = np.repeat(np.arange(no), per)
    nl = len(lok)
    lnum = np.concatenate([np.arange(1, c + 1) for c in per])
    pq.write_table(pa.table({
        "l_orderkey": pa.array(lok, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, nparts, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 100, nl), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(float), pa.float64()),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 100000, nl), 2), pa.float64()),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0, pa.float64()),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0, pa.float64()),
        "l_returnflag": pa.array([FLAGS[int(x)] for x in rng.integers(0, 3, nl)], pa.string()),
        "l_linestatus": pa.array([["F", "O"][int(x)] for x in rng.integers(0, 2, nl)], pa.string()),
        "l_shipdate": pa.array((day0 + odays[lok] + rng.integers(1, 60, nl)).astype("datetime64[us]"),
                               pa.timestamp("us"))}), f"{out}/lineitem.parquet")
