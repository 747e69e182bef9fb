"""Seeded input generator for the benchmark.

Everything the engine sees in a run comes from here: the TPC-H-ish star
schema plus the `events`, `documents` and `embeddings` tables (same column
names and parquet types as the engine's test data), the raw CSV files of the
incremental warehouse loads, and the query rotation of the read workload.
The same seed gives byte-identical files; nothing reads the clock.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# nine, an odd number: the median of whole rotations then falls inside one
# query's own latencies instead of in the gap between two queries
MART_QUERIES = ["mart_dashboard", "mart_entreprises", "mart_logement",
                "sec_rls_visibility", "sec_rbac_scope", "sec_connexion_history",
                "sec_active_sessions", "j_star_join", "w_latest_per_key"]

WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part fast "
         "row the agg key query a scan batch").split()

ORDER_DAY0 = np.datetime64("1995-01-01")
ORDER_DAYS = int((np.datetime64("2001-08-01") - ORDER_DAY0).astype(np.int64)) + 1
MONTHS = 12 * 6 + 8  # order months 1995-01 .. 2001-08: the mart groups


def _rng(seed, stream):
    # one independent stream per table, so resizing one table leaves the
    # others' values unchanged
    return np.random.default_rng([seed, stream])


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def sizes(sf):
    """Row counts at scale factor `sf` (sf 0.1 = 150k orders, 600k lines)."""
    return {
        "customer": int(150_000 * sf), "supplier": int(10_000 * sf),
        "part": int(200_000 * sf), "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf), "events": int(1_000_000 * sf),
        "documents": int(50_000 * sf), "embeddings": int(20_000 * sf),
    }


def tables(seed, sf, docs=None):
    """All ten tables as pyarrow Tables. `docs` overrides the corpus size."""
    n = sizes(sf)
    if docs is not None:
        n["documents"] = docs
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    r = _rng(seed, 1)
    c = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(r.integers(0, 25, c), pa.int32()),
        "c_acctbal": _money(r, -999.99, 9999.99, c),
        "c_mktsegment": _pick(r, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                  "HOUSEHOLD", "MACHINERY"], c)})

    r = _rng(seed, 2)
    s = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(s), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(r.integers(0, 25, s), pa.int32()),
        "s_acctbal": _money(r, -999.99, 9999.99, s)})

    r = _rng(seed, 3)
    p = n["part"]
    adj = ["large", "hot", "blue", "old", "cold", "small", "red", "new"]
    noun = ["ring", "bolt", "plate", "gear", "nut", "pipe", "valve", "spring"]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(p), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(_pick(r, adj, p),
                                              _pick(r, noun, p))],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, p)],
        "p_type": _pick(r, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                            "STANDARD"], p),
        "p_size": pa.array(r.integers(1, 51, p), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) / 10.0, 1)})

    out["orders"] = orders(seed, n["orders"], c)

    r = _rng(seed, 5)
    li = n["lineitem"]
    o = n["orders"]
    ship = ORDER_DAY0 + r.integers(1, ORDER_DAYS + 95, li).astype("timedelta64[D]")
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, o, li), pa.int64()),
        "l_partkey": pa.array(r.integers(0, p, li), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, s, li), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, li), pa.int32()),
        "l_quantity": r.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _money(r, 900.0, 105000.0, li),
        "l_discount": r.integers(0, 11, li) / 100.0,
        "l_tax": r.integers(0, 9, li) / 100.0,
        "l_returnflag": _pick(r, ["A", "N", "R"], li),
        "l_linestatus": _pick(r, ["F", "O"], li),
        "l_shipdate": pa.array(ship.astype("datetime64[us]"), pa.timestamp("us"))})

    r = _rng(seed, 6)
    e = n["events"]
    gaps = r.exponential(30 * 86400e6 / max(e, 1), e)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + \
        np.cumsum(gaps).astype("timedelta64[us]")
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(e), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, max(c // 10, 1), e), pa.int64()),
        "event_type": _pick(r, ["click", "error", "purchase", "signup",
                                "view"], e),
        "value": np.round(r.exponential(60.0, e), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, e)]})

    out["documents"] = documents(seed, n["documents"])

    r = _rng(seed, 8)
    v = n["embeddings"]
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(v), pa.int64()),
        "embedding": pa.array(list(r.normal(0, 0.12, (v, 64)).astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, v), pa.int32())})
    return out


def orders(seed, o, customers):
    r = _rng(seed, 4)
    day = r.integers(0, ORDER_DAYS, o)
    return pa.table({
        "o_orderkey": pa.array(np.arange(o), pa.int64()),
        "o_custkey": pa.array(r.integers(0, customers, o), pa.int64()),
        "o_orderstatus": _pick(r, ["F", "O", "P"], o),
        "o_totalprice": _money(r, 1000.0, 500000.0, o),
        "o_orderdate": pa.array((ORDER_DAY0 + day.astype("timedelta64[D]"))
                                .astype("datetime64[us]"), pa.timestamp("us")),
        "o_orderpriority": _pick(r, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"], o)})


def documents(seed, d):
    """A corpus with the shapes curation acts on: ~10% too short for the
    quality filter, ~5% near-duplicates (an earlier document plus a marker
    word), some of which copy the held-out benchmark documents."""
    r = _rng(seed, 7)
    lens = r.integers(10, 101, d)
    words = _pick(r, WORDS, int(lens.sum()))
    ends = np.cumsum(lens)
    texts = [" ".join(words[e - k:e]) for e, k in zip(ends, lens)]
    dup = r.random(d) < 0.05
    src = r.integers(0, np.maximum(np.arange(d), 1))
    for i in np.flatnonzero(dup):
        if i > 0:
            texts[i] = texts[src[i]] + " dup"
    lang = _pick(r, ["en", "es", "zh", "de", "fr"], d,
                 p=[0.4, 0.15, 0.15, 0.15, 0.15])
    return pa.table({
        "doc_id": pa.array(np.arange(d), pa.int64()),
        "text": texts,
        "lang": lang,
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def write_tables(data_dir, tabs):
    os.makedirs(data_dir, exist_ok=True)
    for name in TABLES:
        pq.write_table(tabs[name], os.path.join(data_dir, f"{name}.parquet"))


def mart_rotation(seed, n_ops):
    """Query names in seeded order: back-to-back shuffled rounds of all
    nine, so every round runs each query once."""
    r = _rng(seed, 20)
    rounds = -(-n_ops // len(MART_QUERIES))
    seq = [q for _ in range(rounds) for q in r.permutation(MART_QUERIES)]
    return [str(q) for q in seq[:n_ops]]


def _csv(path, cols):
    pacsv.write_csv(pa.table(cols), path)


def _day_str(days):
    return np.datetime_as_string(ORDER_DAY0 + days.astype("timedelta64[D]"),
                                 unit="D")


def warehouse_batches(seed, batch_dir, tabs, n_batches, months_per_batch,
                      orders_per_month, customer_changes):
    """Raw CSV files of the nightly loads. Batch 0 is the initial full load
    (every order, every customer as an insert); batch i >= 1 rewrites
    `orders_per_month` existing orders in each of `months_per_batch`
    seeded months (so it touches a fixed share of the mart groups) and
    updates `customer_changes` existing customers (SCD2 history grows by
    that many versions per batch)."""
    os.makedirs(batch_dir, exist_ok=True)
    od = tabs["orders"]
    cu = tabs["customer"]
    o_key = od["o_orderkey"].to_numpy()
    o_day = ((od["o_orderdate"].to_numpy().astype("datetime64[D]") - ORDER_DAY0)
             .astype(np.int64))
    o_month = ((ORDER_DAY0 + o_day.astype("timedelta64[D]"))
               .astype("datetime64[M]").astype(np.int64)
               - np.datetime64("1995-01", "M").astype(np.int64))
    by_month = [np.flatnonzero(o_month == m) for m in range(MONTHS)]
    n_cust = cu.num_rows

    def orders_csv(i, idx, version, status, price):
        _csv(os.path.join(batch_dir, f"orders_{i:04d}.csv"), {
            "O_ORDERKEY": o_key[idx],
            "O_CUSTKEY": od["o_custkey"].to_numpy()[idx],
            "O_ORDERSTATUS": status,
            "O Total Price": [f"{x:.2f}" for x in price],
            "O_ORDERDATE": _day_str(o_day[idx]),
            "O_ORDERPRIORITY": od["o_orderpriority"].to_numpy(zero_copy_only=False)[idx],
            "O_VERSION": np.full(len(idx), version, np.int64)})

    def customers_csv(i, idx, op, seq, seg, bal):
        _csv(os.path.join(batch_dir, f"customers_{i:04d}.csv"), {
            "C_CUSTKEY": idx.astype(np.int64),
            "C_NAME": [f"Customer#{k:09d}" for k in idx],
            "C_NATIONKEY": cu["c_nationkey"].to_numpy()[idx],
            "C Acct Bal": [f"{x:.2f}" for x in bal],
            "C_MKTSEGMENT": seg,
            "CHG_OP": np.full(len(idx), op, object),
            "CHG_SEQ": seq.astype(np.int64),
            "CHG_DATE": np.full(len(idx), str(np.datetime64("2024-01-01")
                                              + np.timedelta64(i, "D")), object)})

    all_o = np.arange(od.num_rows)
    orders_csv(0, all_o, 0,
               od["o_orderstatus"].to_numpy(zero_copy_only=False),
               od["o_totalprice"].to_numpy())
    all_c = np.arange(n_cust)
    customers_csv(0, all_c, "I", all_c,
                  cu["c_mktsegment"].to_numpy(zero_copy_only=False),
                  cu["c_acctbal"].to_numpy())

    # months with enough orders for a full batch slice (the last month of
    # the order range holds a single day)
    full_months = [m for m in range(MONTHS) if len(by_month[m]) >= orders_per_month]
    r = _rng(seed, 30)
    for i in range(1, n_batches + 1):
        months = r.choice(full_months, months_per_batch, replace=False)
        idx = np.sort(np.concatenate([
            r.choice(by_month[m], orders_per_month, replace=False)
            for m in months]))
        orders_csv(i, idx, i, _pick(r, ["F", "O", "P"], len(idx)),
                   _money(r, 1000.0, 500000.0, len(idx)))
        cidx = np.sort(r.choice(n_cust, customer_changes, replace=False))
        customers_csv(i, cidx, "U", i * 100_000 + np.arange(len(cidx)),
                      _pick(r, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                "HOUSEHOLD", "MACHINERY"], len(cidx)),
                      _money(r, -999.99, 9999.99, len(cidx)))
