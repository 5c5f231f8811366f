"""Seeded input generation for the benchmark.

`tables(seed, out_dir)` writes the ten sf0.1 parquet tables the engine's
queries read (one `<name>.parquet` file each, same schemas, row counts and
value domains as the engine's TPC-H-like test data). `upload_plan` writes
the upload files and `dialect_plan` builds the front-end session around
them, together with the model its answers are checked against. The same
seed always gives byte-identical inputs.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

ROWS = {"region": 5, "nation": 25, "customer": 15000, "supplier": 1000,
        "part": 20000, "orders": 150000, "lineitem": 600000,
        "events": 100000, "documents": 5000, "embeddings": 2000}

WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "dup",
         "fast", "filter", "group", "hash", "join", "key", "line", "merge",
         "order", "part", "query", "row", "scan", "slow", "small", "sort",
         "spark", "stream", "table", "the", "value", "vector", "window"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)


def _ts(us):
    return pa.array(np.asarray(us, dtype=np.int64), type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _region(rng, n):
    return {"r_regionkey": pa.array(np.arange(n), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}


def _nation(rng, n):
    return {"n_nationkey": pa.array(np.arange(n), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(n)],
            "n_regionkey": pa.array(np.arange(n) % 5, pa.int32())}


def _customer(rng, n):
    return {"c_custkey": pa.array(np.arange(n), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n)],
            "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n)].tolist()}


def _supplier(rng, n):
    return {"s_suppkey": pa.array(np.arange(n), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n)],
            "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n)}


def _part(rng, n):
    adj = ["red", "new", "hot", "small", "cold", "large", "old", "blue"]
    noun = ["bolt", "anvil", "ring", "rod", "plate", "gear", "widget", "gizmo"]
    types = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
    return {"p_partkey": pa.array(np.arange(n), pa.int64()),
            "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                       zip(rng.integers(0, 8, n), rng.integers(0, 8, n))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
            "p_type": np.array(types)[rng.integers(0, 6, n)].tolist(),
            "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(n) % 1000) / 10.0, 2)}


def _orders(rng, n):
    return {"o_orderkey": pa.array(np.arange(n), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, ROWS["customer"], n), pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n)].tolist(),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n),
            "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, 2405, n) * DAY_US),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n)].tolist()}


def _lineitem(rng, n):
    return {"l_orderkey": pa.array(rng.integers(0, ROWS["orders"], n), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, ROWS["part"], n), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ROWS["supplier"], n), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)].tolist(),
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)].tolist(),
            "l_shipdate": _ts(EPOCH_1995 + rng.integers(1, 2499, n) * DAY_US)}


def _events(rng, n):
    ts = np.sort(rng.integers(0, 30 * DAY_US, n)) + \
        np.datetime64("2024-01-01", "us").astype(np.int64)
    return {"event_id": pa.array(np.arange(n), pa.int64()),
            "ts": _ts(ts),
            "user_id": pa.array(rng.integers(0, 1500, n), pa.int64()),
            "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
                rng.integers(0, 5, n)].tolist(),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]}


def _documents(rng, n):
    texts = []
    for i in range(n):
        if i > 20 and rng.random() < 0.05:  # planted near-duplicate
            words = texts[int(rng.integers(0, i))].split(" ")
            words[int(rng.integers(0, len(words)))] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(words))
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), k)]))
    langs = np.array(["en", "en", "en", "de", "es", "fr", "zh"])[rng.integers(0, 7, n)]
    return {"doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": langs.tolist(),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64())}


def _embeddings(rng, n):
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] * 0.6 + rng.normal(0, 1, (n, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return {"vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32())}


BUILDERS = {"region": _region, "nation": _nation, "customer": _customer,
            "supplier": _supplier, "part": _part, "orders": _orders,
            "lineitem": _lineitem, "events": _events, "documents": _documents,
            "embeddings": _embeddings}


def tables(seed, out_dir, names=tuple(ROWS)):
    """Write the named tables (default: all ten); returns {name: (rows,
    bytes)}. Each table draws from its own seeded stream, so a subset is
    identical to the same tables of the full set."""
    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    for t in names:
        rng = np.random.default_rng([seed, 1, list(ROWS).index(t)])
        path = os.path.join(out_dir, f"{t}.parquet")
        pq.write_table(pa.table(BUILDERS[t](rng, ROWS[t])), path)
        sizes[t] = (ROWS[t], os.path.getsize(path))
    return sizes


# ---- dialect_rw: statement session + model ---------------------------------

ACC = "accounts"  # customer-sized table that DML writes and reads hit
DML_KINDS = ("insert", "update", "delete")


def dialect_plan(seed, data_dir, uploads, n_blocks=40):
    """A session of `n_blocks` blocks of twelve operations: 7 SELECT, 1 NL,
    2 DML, and one of `uploads` (see `upload_plan`) with a SELECT reading
    its table back. Each DML is directly followed by one of the SELECTs, a
    read of the row, count or segment counts it changed.
    Returns a list of {sql, kind, check} where `check` is either
    {"oracle": duckdb_sql} (immutable `orders`/`lineitem`, answered from
    the source parquet) or {"expect": rows} / {"message": text} from the
    model of `accounts` the generator keeps while emitting DML and of the
    uploaded tables' counts and sums. Upload entries carry their file and
    {"rows": n} instead of `sql`."""
    rng = np.random.default_rng([seed, 2])
    cust = pq.read_table(os.path.join(data_dir, "customer.parquet")).to_pylist()
    model = {r["c_custkey"]: dict(r) for r in cust}
    next_key = len(cust)
    stmts = []

    def acc_row(k):
        r = model[k]
        return {"c_custkey": k, "c_name": r["c_name"],
                "c_nationkey": r["c_nationkey"], "c_acctbal": r["c_acctbal"],
                "c_mktsegment": r["c_mktsegment"]}

    def read_point(k):
        rows = [acc_row(k)] if k in model else []
        stmts.append({"kind": "select", "sql": f"SELECT * FROM {ACC} WHERE c_custkey = {k}",
                      "check": {"expect": rows}})

    def read_count():
        stmts.append({"kind": "select", "sql": f"SELECT COUNT(*) FROM {ACC}",
                      "check": {"expect": [{"count": len(model)}]}})

    def live_key():
        keys = list(model)
        return keys[int(rng.integers(0, len(keys)))]

    def orders_select(t):
        lo = round(float(rng.uniform(1000, 490000)), 2)
        k = int(rng.integers(0, 149000))
        keys = sorted({int(x) for x in rng.integers(0, 150000, 8)})
        ym = f"{int(rng.integers(1995, 2001))}-{int(rng.integers(1, 13)):02d}"
        o = ("SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
             "CAST(o_orderdate AS VARCHAR) AS o_orderdate, o_orderpriority FROM orders")
        if t == 0:  # point lookup
            return (f"SELECT * FROM orders WHERE o_orderkey = {k}",
                    f"{o} WHERE o_orderkey = {k}")
        if t == 1:  # range, ORDER BY + LIMIT + OFFSET on the key
            return (f"SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice "
                    f"BETWEEN {lo} AND {lo + 20000} ORDER BY o_orderkey LIMIT 50 OFFSET 10",
                    f"SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice "
                    f"BETWEEN {lo} AND {lo + 20000} ORDER BY o_orderkey LIMIT 50 OFFSET 10")
        if t == 2:  # IN list
            ks = ", ".join(map(str, keys))
            return (f"SELECT * FROM orders WHERE o_orderkey IN ({ks})",
                    f"{o} WHERE o_orderkey IN ({ks})")
        if t == 3:  # LIKE on the date text
            return (f"SELECT COUNT(*) FROM orders WHERE o_orderdate LIKE '{ym}%'",
                    f"SELECT COUNT(*) AS count FROM orders "
                    f"WHERE CAST(o_orderdate AS VARCHAR) LIKE '{ym}%'")
        if t == 4:  # GROUP BY + HAVING + ORDER BY
            return (f"SELECT o_orderpriority, COUNT(*), SUM(o_totalprice) FROM orders "
                    f"WHERE o_totalprice > {lo} GROUP BY o_orderpriority "
                    f"HAVING count > 10 ORDER BY o_orderpriority",
                    f"SELECT o_orderpriority, COUNT(*) AS count, "
                    f"SUM(o_totalprice) AS sum_o_totalprice FROM orders "
                    f"WHERE o_totalprice > {lo} GROUP BY o_orderpriority "
                    f"HAVING COUNT(*) > 10 ORDER BY o_orderpriority")
        # DISTINCT
        return (f"SELECT DISTINCT o_orderstatus FROM orders WHERE o_totalprice > {lo}",
                f"SELECT DISTINCT o_orderstatus FROM orders WHERE o_totalprice > {lo}")

    def lineitem_select(t):
        keys = sorted({int(x) for x in rng.integers(0, 150000, 4)})
        q = int(rng.integers(1, 48))
        if t == 0:
            ks = ", ".join(map(str, keys))
            return (f"SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice "
                    f"FROM lineitem WHERE l_orderkey IN ({ks})",
                    f"SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice "
                    f"FROM lineitem WHERE l_orderkey IN ({ks})")
        return (f"SELECT l_returnflag, COUNT(*), AVG(l_extendedprice) FROM lineitem "
                f"WHERE l_quantity >= {q} AND l_quantity <= {q + 2} "
                f"GROUP BY l_returnflag ORDER BY l_returnflag",
                f"SELECT l_returnflag, COUNT(*) AS count, "
                f"AVG(l_extendedprice) AS avg_l_extendedprice FROM lineitem "
                f"WHERE l_quantity >= {q} AND l_quantity <= {q + 2} "
                f"GROUP BY l_returnflag ORDER BY l_returnflag")

    def account_group():
        counts = {}
        for r in model.values():
            counts[r["c_mktsegment"]] = counts.get(r["c_mktsegment"], 0) + 1
        stmts.append({"kind": "select",
                      "sql": f"SELECT c_mktsegment, COUNT(*) FROM {ACC} "
                             f"GROUP BY c_mktsegment ORDER BY c_mktsegment",
                      "check": {"expect": [{"c_mktsegment": s, "count": counts[s]}
                                           for s in sorted(counts)]}})

    def nl(i):
        if i % 3 == 0:
            bal = int(rng.integers(0, 9000))
            n = sum(1 for r in model.values() if r["c_acctbal"] > bal)
            stmts.append({"kind": "nl",
                          "sql": f"how many {ACC} with c_acctbal greater than {bal}?",
                          "check": {"expect": [{"count": n}]}})
        elif i % 3 == 1:
            seg = SEGMENTS[int(rng.integers(0, 5))]
            n = sum(1 for r in model.values() if r["c_mktsegment"] == seg)
            stmts.append({"kind": "nl", "sql": f"how many {ACC} in {seg.lower()}?",
                          "check": {"expect": [{"count": n}]}})
        else:
            lo = int(rng.integers(0, 499))
            stmts.append({"kind": "nl",
                          "sql": f"list orders with o_totalprice above {499000 + lo}",
                          "check": {"oracle":
                                    "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
                                    "CAST(o_orderdate AS VARCHAR) AS o_orderdate, "
                                    f"o_orderpriority FROM orders WHERE o_totalprice > {499000 + lo}"}})

    def dml(i):
        nonlocal next_key
        kind = DML_KINDS[i % 3]
        if kind == "insert":
            k = next_key
            next_key += 1
            row = {"c_custkey": k, "c_name": f"Customer#{k:09d}",
                   "c_nationkey": int(rng.integers(0, 25)),
                   "c_acctbal": round(float(rng.uniform(-999.99, 9999.99)), 2),
                   "c_mktsegment": SEGMENTS[int(rng.integers(0, 5))]}
            model[k] = row
            stmts.append({"kind": "insert",
                          "sql": f"INSERT INTO {ACC} (c_custkey, c_name, c_nationkey, c_acctbal, "
                                 f"c_mktsegment) VALUES ({k}, '{row['c_name']}', "
                                 f"{row['c_nationkey']}, {row['c_acctbal']}, '{row['c_mktsegment']}')",
                          "check": {"message": "1 row inserted"}})
        elif kind == "update":
            # one in four targets a deleted or never-present key
            k = live_key() if rng.random() < 0.75 else int(next_key + 1000 + i)
            bal = round(float(rng.uniform(-999.99, 9999.99)), 2)
            hit = k in model
            if hit:
                model[k]["c_acctbal"] = bal
            stmts.append({"kind": "update",
                          "sql": f"UPDATE {ACC} SET c_acctbal = {bal} WHERE c_custkey = {k}",
                          "check": {"message": f"{int(hit)} rows updated"}})
        else:
            k = live_key()
            del model[k]
            stmts.append({"kind": "delete", "sql": f"DELETE FROM {ACC} WHERE c_custkey = {k}",
                          "check": {"message": "1 rows deleted"}})
        return kind, k

    # fixed block shape, so every window sees the same mix: the seed
    # draws the parameters, the orders templates cycle through all six
    n_orders = n_dml = 0
    for b in range(n_blocks):
        for what in ("o", "d", "o", "l", "o", "n", "d", "o"):
            if what == "o":
                sql, oracle = orders_select(n_orders % 6)
                n_orders += 1
                stmts.append({"kind": "select", "sql": sql, "check": {"oracle": oracle}})
            elif what == "l":
                sql, oracle = lineitem_select(b % 2)
                stmts.append({"kind": "select", "sql": sql, "check": {"oracle": oracle}})
            elif what == "n":
                nl(b)
            else:
                kind, k = dml(n_dml)
                n_dml += 1
                # the read that follows each DML prices the new layout
                if kind == "delete":
                    read_count()
                elif kind == "update" and b % 2:
                    account_group()
                else:
                    read_point(k)
        if b < len(uploads):
            u = uploads[b]
            stmts.append({"kind": "upload", "sql": u["path"], "check": {"rows": u["rows"]},
                          **{k: u[k] for k in ("path", "format", "table", "rows", "bytes")}})
            stmts.append({"kind": "select", "sql": u["readback"], "check": {"expect": [
                {"count": u["expect_count"], u["sum_col"]: u["expect_sum"]}]}})
    return stmts


# ---- upload: seeded files + expected answers --------------------------------

# (format, source table, rows, target): "new" makes a fresh table, anything
# else appends to that table, which setup creates with a 10k-row import.
UPLOAD_CYCLE = [("csv", "orders", 2000, "new"),
                ("parquet", "lineitem", 20000, "lineitem_up"),
                ("csv", "lineitem", 5000, "lineitem_up"),
                ("parquet", "orders", 10000, "new"),
                ("csv", "orders", 10000, "orders_up"),
                ("parquet", "orders", 1000, "orders_up"),
                ("csv", "lineitem", 20000, "new"),
                ("parquet", "lineitem", 50000, "lineitem_up")]
SUM_COL = {"orders": "o_totalprice", "lineitem": "l_extendedprice"}


def _slice(tbl, rng, rows):
    start = int(rng.integers(0, tbl.num_rows - rows))
    return tbl.slice(start, rows)


def _write_upload(t, fmt, path):
    if fmt == "parquet":
        pq.write_table(t, path)
    else:
        # timestamps as the text Spark's own cast would render
        cols = [pc.strftime(c, "%Y-%m-%d %H:%M:%S")
                if pa.types.is_timestamp(c.type) else c for c in t.columns]
        pacsv.write_csv(pa.table(cols, names=t.column_names), path)


def upload_plan(seed, data_dir, out_dir, n_uploads=40):
    """Write the base-table files and `n_uploads` upload files; returns
    (base, uploads). Each upload carries its expected rowsImported and the
    expected COUNT/SUM of its target table after it lands."""
    rng = np.random.default_rng([seed, 3])
    os.makedirs(out_dir, exist_ok=True)
    src = {t: pq.read_table(os.path.join(data_dir, f"{t}.parquet")) for t in SUM_COL}
    totals, base = {}, []
    for target, t in (("orders_up", "orders"), ("lineitem_up", "lineitem")):
        part = _slice(src[t], rng, 10000)
        path = os.path.join(out_dir, f"base_{target}.parquet")
        pq.write_table(part, path)
        base.append({"table": target, "path": path})
        totals[target] = [part.num_rows, float(np.sum(part[SUM_COL[t]]))]
    uploads = []
    for i in range(n_uploads):
        fmt, t, rows, target = UPLOAD_CYCLE[i % len(UPLOAD_CYCLE)]
        if target == "new":
            target = f"up_{t}_{i}"
            totals[target] = [0, 0.0]
        part = _slice(src[t], rng, rows)
        path = os.path.join(out_dir, f"u{i:03d}.{fmt}")
        _write_upload(part, fmt, path)
        totals[target][0] += rows
        totals[target][1] += float(np.sum(part[SUM_COL[t]]))
        col = SUM_COL[t]
        uploads.append({"path": path, "format": fmt, "table": target, "rows": rows,
                        "bytes": os.path.getsize(path),
                        "readback": f"SELECT COUNT(*), SUM({col}) FROM {target}",
                        "expect_count": totals[target][0],
                        "expect_sum": totals[target][1], "sum_col": f"sum_{col}"})
    return base, uploads


def save_json(obj, path):
    with open(path, "w") as f:
        json.dump(obj, f)
