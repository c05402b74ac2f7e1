"""Seeded input generators for the benchmark workloads.

Every generator takes a numpy Generator built from the run's --seed, so the
same seed always yields byte-identical inputs. The catalog tables mirror the
schemas, physical parquet types and value distributions of the TPC-H-ish
tables the catalog queries were written against (one single-row-group
snappy parquet file per table); the ETL batches mirror the reference's
grocery_sales.csv / extra_data.parquet pair, null rates included.
"""
import csv
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CATALOG_TABLES = ["region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "events", "documents", "embeddings"]

WORDS = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]


def _write(table, path):
    pq.write_table(table, path, compression="snappy",
                   row_group_size=max(1, table.num_rows))


def _choice(rng, values, n):
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)],
                    type=pa.string())


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, span_days, n):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]")


def catalog(rng, sf, out_dir):
    """Write every catalog table at scale factor `sf` into `out_dir`.

    Returns {table: rows}.
    """
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(50, int(1_500_000 * sf))
    n_line = max(200, int(6_000_000 * sf))
    n_evt = max(100, int(1_000_000 * sf))
    n_doc = max(50, int(50_000 * sf))
    n_emb = max(40, int(20_000 * sf))
    gen = {}

    gen["region"] = lambda: pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])})
    gen["nation"] = lambda: pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    gen["customer"] = lambda: pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": _choice(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                      "HOUSEHOLD", "MACHINERY"], n_cust)})
    gen["supplier"] = lambda: pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp))})

    def part():
        adj = ["large", "hot", "blue", "old", "cold", "red", "small", "green"]
        noun = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "nut"]
        names = np.char.add(np.char.add(
            np.asarray(adj)[rng.integers(0, 8, n_part)], " "),
            np.asarray(noun)[rng.integers(0, 8, n_part)])
        return pa.table({
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": pa.array(names.astype(object), type=pa.string()),
            "p_brand": _choice(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
            "p_type": _choice(rng, ["SMALL", "MEDIUM", "LARGE", "ECONOMY",
                                    "STANDARD", "PROMO"], n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
            "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2))})
    gen["part"] = part

    order_dates = _days(rng, "1995-01-01", 2404, n_ord)
    gen["orders"] = lambda: pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": _choice(rng, ["O", "F", "P"], n_ord),
        "o_totalprice": pa.array(_money(rng, 1000, 500_000, n_ord)),
        "o_orderdate": pa.array(order_dates, type=pa.timestamp("us")),
        "o_orderpriority": _choice(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                         "4-NOT SPECIFIED", "5-LOW"], n_ord)})

    def lineitem():
        okey = rng.integers(0, n_ord, n_line, dtype=np.int64)
        ship = order_dates[okey] + rng.integers(-90, 121, n_line).astype("timedelta64[D]")
        return pa.table({
            "l_orderkey": pa.array(okey),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line, dtype=np.int64)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line, dtype=np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line, dtype=np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900, 105_000, n_line)),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
            "l_returnflag": _choice(rng, ["A", "N", "R"], n_line),
            "l_linestatus": _choice(rng, ["F", "O"], n_line),
            "l_shipdate": pa.array(ship, type=pa.timestamp("us"))})
    gen["lineitem"] = lineitem

    def events():
        start = np.datetime64("2024-01-01T00:00:00", "us")
        offs = np.sort(rng.integers(0, 30 * 86_400_000_000, n_evt))
        return pa.table({
            "event_id": pa.array(np.arange(n_evt, dtype=np.int64)),
            "ts": pa.array(start + offs.astype("timedelta64[us]"), type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, max(10, n_evt // 66), n_evt, dtype=np.int64)),
            "event_type": _choice(rng, ["error", "signup", "purchase", "view", "click"], n_evt),
            "value": pa.array(np.round(rng.exponential(60.0, n_evt), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)])})
    gen["events"] = events

    def documents():
        texts = []
        for i in range(n_doc):
            if i > 20 and rng.random() < 0.05:
                # near-duplicate of an earlier document: one word replaced
                w = texts[int(rng.integers(0, i))].split(" ")
                w[int(rng.integers(0, len(w)))] = "dup"
                texts.append(" ".join(w))
            else:
                n = int(rng.integers(10, 101))
                texts.append(" ".join(np.asarray(WORDS)[rng.integers(0, len(WORDS), n)]))
        langs = np.asarray(["en", "en", "en", "es", "de", "fr", "zh"])[
            rng.integers(0, 7, n_doc)]
        return pa.table({
            "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(langs.astype(object), type=pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))})
    gen["documents"] = documents

    def embeddings():
        labels = rng.integers(0, 10, n_emb, dtype=np.int32)
        centroids = rng.normal(0, 1, (10, 64))
        v = centroids[labels] * 0.5 + rng.normal(0, 1, (n_emb, 64))
        v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
        offsets = pa.array(np.arange(0, (n_emb + 1) * 64, 64, dtype=np.int32))
        return pa.table({
            "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
            "embedding": pa.ListArray.from_arrays(offsets, pa.array(v.ravel())),
            "label": pa.array(labels)})
    gen["embeddings"] = embeddings

    rows = {}
    for t in CATALOG_TABLES:
        table = gen[t]()
        _write(table, os.path.join(out_dir, f"{t}.parquet"))
        rows[t] = table.num_rows
    return rows


REFERENCE_SALES_ROWS = 20_000
EXTRA_ROWS_PER_SALES_ROW = 231_522 / REFERENCE_SALES_ROWS


def etl_batch(rng, n_sales, out_dir, name):
    """One grocery_sales CSV + extra_data parquet pair (FIXTURES.md §1 shapes).

    The parquet side holds every CSV `index` plus unmatched keys in the
    reference pair's ratio (231,522 extra_data rows to 20,000 grocery_sales
    rows). Returns (csv_path, parquet_path, bytes).
    """
    os.makedirs(out_dir, exist_ok=True)
    n_extra = round(n_sales * EXTRA_ROWS_PER_SALES_ROW)
    keys = rng.permutation(n_extra).astype(np.int64)
    sales_idx = np.sort(keys[:n_sales])
    dates = _days(rng, "2010-02-05", 995, n_sales).astype("datetime64[s]")
    date_s = np.datetime_as_string(dates, unit="s")
    date_null = rng.random(n_sales) < 0.002
    sales = np.round(rng.gamma(1.2, 14_000.0, n_sales), 2)
    sales_null = rng.random(n_sales) < 0.002
    store = rng.integers(1, 3, n_sales)
    dept = rng.integers(1, 99, n_sales)
    csv_path = os.path.join(out_dir, f"{name}_grocery_sales.csv")
    with open(csv_path, "w", encoding="utf-8-sig", newline="") as f:
        w = csv.writer(f, quoting=csv.QUOTE_ALL)
        w.writerow(["level_0", "index", "Store_ID", "Date", "Dept", "Weekly_Sales"])
        for i in range(n_sales):
            w.writerow([i, int(sales_idx[i]), int(store[i]),
                        "" if date_null[i] else date_s[i] + ".000",
                        int(dept[i]), "" if sales_null[i] else repr(float(sales[i]))])

    def nullable(values, rate):
        mask = rng.random(n_extra) < rate
        return pa.array(values, mask=mask)
    extra = pa.table({
        "index": pa.array(np.arange(n_extra, dtype=np.int64)),
        "IsHoliday": pa.array(rng.integers(0, 2, n_extra, dtype=np.int64)),
        "Temperature": pa.array(np.round(rng.normal(60, 18, n_extra), 2)),
        "Fuel_Price": pa.array(np.round(rng.uniform(2.4, 4.5, n_extra), 3)),
        **{f"MarkDown{i}": pa.array(np.round(rng.exponential(5000, n_extra), 2))
           for i in range(1, 6)},
        "CPI": nullable(np.round(rng.uniform(126, 228, n_extra), 4), 0.0002),
        "Unemployment": nullable(np.round(rng.uniform(3.8, 14.3, n_extra), 3), 0.00016),
        "Type": nullable(rng.integers(1, 4, n_extra).astype(np.float64), 0.00001),
        "Size": nullable(rng.integers(34_000, 220_000, n_extra).astype(np.float64), 0.00001)})
    pq_path = os.path.join(out_dir, f"{name}_extra_data.parquet")
    _write(extra, pq_path)
    return csv_path, pq_path, os.path.getsize(csv_path) + os.path.getsize(pq_path)


# ---- table_commits -------------------------------------------------------

TABLE_BLOCK = ["append", "append", "merge", "delete", "snapshot", "snapshot",
               "time_travel", "changes", "compact"]


def _cust_rows(rng, keys):
    bal = rng.integers(-99_999, 999_999, len(keys)) / 100.0
    return {"c_custkey": [int(k) for k in keys],
            "c_name": [f"Customer#{int(k):09d}" for k in keys],
            "c_acctbal": [float(b) for b in bal]}


def _cust_table(cols):
    return pa.table({"c_custkey": pa.array(cols["c_custkey"], type=pa.int64()),
                     "c_name": pa.array(cols["c_name"], type=pa.string()),
                     "c_acctbal": pa.array(cols["c_acctbal"], type=pa.float64())})


def table_plan(rng, out_dir, initial_rows, batch_rows, n_blocks):
    """A seeded stream of VersionedTable operations plus the expected state.

    Each block runs every TABLE_BLOCK operation once in a seeded order, so
    any whole number of blocks has the same operation mix. Returns
    (ops, history) where `ops` is the JVM's op list and
    `history[v]` is the expected {key: (name, balance)} of version v. Read
    ops carry their expected digest (rows, sum key, sum cents, sum name
    length); `changes` ops their expected per-type counts and key sums.
    """
    os.makedirs(out_dir, exist_ok=True)

    def dump(name, cols):
        path = os.path.join(out_dir, name + ".parquet")
        _write(_cust_table(cols), path)
        return path

    next_key = initial_rows
    state = {}
    init = _cust_rows(rng, range(initial_rows))
    for k, n, b in zip(init["c_custkey"], init["c_name"], init["c_acctbal"]):
        state[k] = (n, b)
    ops = [{"op": "create", "input": dump("create", init), "version": 0}]
    history = [dict(state)]

    def digest(st):
        return [len(st), sum(st), sum(int(round(b * 100)) for _, b in st.values()),
                sum(len(n) for n, _ in st.values())]

    for blk in range(n_blocks):
        order = [TABLE_BLOCK[i] for i in rng.permutation(len(TABLE_BLOCK))]
        if blk == 0:  # the first read of the change feed needs a version to diff
            order.remove("append")
            order.insert(0, "append")
        for kind in order:
            v = len(history) - 1
            op = {"op": kind}
            if kind == "append":
                keys = range(next_key, next_key + batch_rows)
                next_key += batch_rows
                cols = _cust_rows(rng, keys)
                op["input"] = dump(f"b{blk}_{len(ops)}", cols)
                for k, n, b in zip(cols["c_custkey"], cols["c_name"], cols["c_acctbal"]):
                    state[k] = (n, b)
            elif kind == "merge":
                live = np.fromiter(state.keys(), dtype=np.int64)
                touched = rng.choice(live, size=min(len(live), batch_rows), replace=False)
                n_ins = batch_rows // 4
                keys = list(touched) + list(range(next_key, next_key + n_ins))
                next_key += n_ins
                kinds = ["U" if i % 3 else "D" for i in range(len(touched))] + ["I"] * n_ins
                new = _cust_rows(rng, keys)
                cols = {"c_custkey": [], "op": [], "new_name": [], "new_bal": []}
                for i, (k, o) in enumerate(zip(keys, kinds)):
                    k = int(k)
                    name = None if o == "D" or (o == "U" and i % 2) else new["c_name"][i] + "x"
                    bal = None if o == "D" else new["c_acctbal"][i]
                    cols["c_custkey"].append(k)
                    cols["op"].append(o)
                    cols["new_name"].append(name)
                    cols["new_bal"].append(bal)
                    if o == "D":
                        state.pop(k, None)
                    else:
                        old = state.get(k, (None, None))
                        state[k] = (name if name is not None else old[0],
                                    bal if bal is not None else old[1])
                path = os.path.join(out_dir, f"m{blk}_{len(ops)}.parquet")
                _write(pa.table({"c_custkey": pa.array(cols["c_custkey"], type=pa.int64()),
                                 "op": pa.array(cols["op"], type=pa.string()),
                                 "new_name": pa.array(cols["new_name"], type=pa.string()),
                                 "new_bal": pa.array(cols["new_bal"], type=pa.float64())}), path)
                op["input"] = path
            elif kind == "delete":
                live = sorted(state)
                lo = live[int(rng.integers(0, len(live)))]
                hi = lo + batch_rows // 2
                op["predicate"] = f"c_custkey BETWEEN {lo} AND {hi}"
                for k in [k for k in state if lo <= k <= hi]:
                    del state[k]
            elif kind in ("snapshot", "compact"):
                pass
            elif kind == "time_travel":
                op["version"] = int(rng.integers(0, v + 1))
            elif kind == "changes":
                frm = int(rng.integers(max(0, v - 6), v))
                op["from"], op["to"] = frm, v
                a, b = history[frm], history[v]
                counts = {"insert": 0, "delete": 0, "update": 0}
                sums = {"insert": 0, "delete": 0, "update": 0}
                for k in b.keys() - a.keys():
                    counts["insert"] += 1
                    sums["insert"] += k
                for k in a.keys() - b.keys():
                    counts["delete"] += 1
                    sums["delete"] += k
                for k in a.keys() & b.keys():
                    if a[k] != b[k]:
                        counts["update"] += 1
                        sums["update"] += k
                op["expect"] = [counts["insert"], sums["insert"], counts["delete"],
                                sums["delete"], counts["update"], sums["update"]]
            if kind in ("append", "merge", "delete", "compact"):
                history.append(dict(state))
                op["version"] = len(history) - 1
            elif kind == "snapshot":
                op["version"] = v
            if kind in ("snapshot", "time_travel"):
                op["expect"] = digest(history[op["version"]])
            ops.append(op)
    return ops, history
