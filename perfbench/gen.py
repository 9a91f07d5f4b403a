"""Seeded input generation for the benchmark.

Two kinds of input:

* Base tables (`write_tables`): the TPC-H-shaped star schema plus the
  `events`, `documents` and `embeddings` tables every query reads, with
  the same schemas, row counts and value distributions as the project's
  test fixtures. They come from one fixed seed, so every run of every
  workload reads identical tables and they can be cached on disk.
* Workload inputs (`bulk_source`, `sync_plan`, `query_sample` +
  `run_order`): drawn from a seed. The same seed always yields the same
  key-gap set, the same append sizes and rows, and the same query sample
  and order.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Bump when the table generator changes: cached tables are keyed by it.
TABLES_VERSION = 1
TABLES_SEED = 42

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
WORDS = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()

DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)
ORDER_DAYS = 2404     # 1995-01-01 .. 2001-08-01
SHIP_DAYS = 2499      # 1995-01-02 .. 2001-11-04
EVENT_SPAN_US = 30 * DAY_US


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _cents(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def orders_table(rng, n, n_cust, first_key=0):
    """`n` orders with keys first_key.. and uniformly drawn attributes."""
    return pa.table({
        "o_orderkey": pa.array(np.arange(first_key, first_key + n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n, dtype=np.int64)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
        "o_totalprice": pa.array(_cents(rng, 1000.0, 500000.0, n)),
        "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, ORDER_DAYS + 1, n) * DAY_US),
        "o_orderpriority": _pick(rng, PRIORITIES, n),
    })


def tables(sf):
    """All ten base tables at scale factor `sf`, as {name: pyarrow.Table}."""
    rng = np.random.default_rng([TABLES_SEED, int(round(sf * 1000))])
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    n_users = max(10, int(15_000 * sf))
    out = {
        "region": pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": REGIONS}),
        "nation": pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": pa.array(_cents(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust)}),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": pa.array(_cents(rng, -999.99, 9999.99, n_supp))}),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                       zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": _pick(rng, PTYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1))}),
        "orders": orders_table(rng, n_ord, n_cust),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line, dtype=np.int64)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line, dtype=np.int64)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line, dtype=np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
            "l_extendedprice": pa.array(_cents(rng, 900.0, 105000.0, n_line)),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
            "l_linestatus": _pick(rng, ["F", "O"], n_line),
            "l_shipdate": _ts(EPOCH_1995 + (1 + rng.integers(0, SHIP_DAYS + 1, n_line)) * DAY_US)}),
    }
    gaps = rng.exponential(EVENT_SPAN_US / n_ev, n_ev).astype(np.int64)
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": _ts(EPOCH_2024 + np.cumsum(gaps)),
        "user_id": pa.array(rng.integers(0, n_users, n_ev, dtype=np.int64)),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    words = np.asarray(WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(WORDS), k)])
             for k in rng.integers(10, 101, n_doc)]
    # A few exact duplicate texts, as in the fixtures (8 per 5000 docs).
    for _ in range(n_doc // 625):
        a, b = rng.integers(0, n_doc, 2)
        texts[b] = texts[a]
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": texts,
        "lang": _pick(rng, LANGS, n_doc, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    vecs = rng.standard_normal((n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})
    return out


def write_tables(sf, out_dir):
    """Writes the base tables once per generator version; returns the dir."""
    done = os.path.join(out_dir, "_DONE")
    if os.path.exists(done):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(sf).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    open(done, "w").close()
    return out_dir


# ---------------------------------------------------------------- workloads

def bulk_keep_mask(seed, n_keys):
    """Key-gap set of `migrate_bulk`: a scattered ~10% of keys dropped plus
    three contiguous holes of 1.3-8% of the key space each (2,000-12,000
    keys of 150,000), so some 5,000-key ranges come out thin or empty. The
    first and last keys stay, so the range count depends only on `n_keys`.
    Returns a boolean keep mask over 0..n_keys-1."""
    rng = np.random.default_rng([seed, 1])
    keep = rng.random(n_keys) >= 0.10
    for _ in range(3):
        length = int(rng.integers(n_keys // 75, n_keys * 2 // 25 + 1))
        start = int(rng.integers(1, n_keys - 1 - length))
        keep[start:start + length] = False
    keep[0] = keep[-1] = True
    return keep


def bulk_source(seed, base_orders, n_keys):
    """The seed-perturbed copy of the first `n_keys` keys of `orders` that
    `migrate_bulk` stages."""
    head = base_orders.slice(0, n_keys)
    return head.filter(pa.array(bulk_keep_mask(seed, head.num_rows)))


def sync_plan(seed, n_polls, base_rows, n_cust):
    """`migrate_sync` inputs: the base table (the first `base_rows` keys of
    the bulk source for this seed) and a list of `n_polls` append batches.
    About a third of the appends are empty; the rest hold 1-3,000 rows with
    keys past the current maximum, with occasional key jumps. Returns
    (base table, appends table with an extra `batch` column, sizes)."""
    rng = np.random.default_rng([seed, 2])
    base = orders_table(np.random.default_rng([seed, 3]), base_rows, n_cust)
    keep = bulk_keep_mask(seed, base_rows)
    base = base.filter(pa.array(keep))
    sizes = [0 if rng.random() < 0.35 else int(rng.integers(1, 3001))
             for _ in range(n_polls)]
    keys, batches = [], []
    next_key = base_rows
    for i, k in enumerate(sizes):
        if k == 0:
            continue
        next_key += int(rng.integers(0, 50)) if rng.random() < 0.3 else 0
        keys.append(np.arange(next_key, next_key + k, dtype=np.int64))
        batches.append(np.full(k, i, dtype=np.int32))
        next_key += k
    total = sum(sizes)
    rows = orders_table(rng, total, n_cust)
    if total:
        rows = rows.set_column(0, "o_orderkey", pa.array(np.concatenate(keys)))
        rows = rows.append_column("batch", pa.array(np.concatenate(batches)))
    else:
        rows = rows.append_column("batch", pa.array([], pa.int32()))
    return base, rows, sizes


def run_order(seed, items):
    """The seed's run order of `items`."""
    rng = np.random.default_rng([seed, 5])
    return [items[i] for i in rng.permutation(len(items))]


def query_sample(seed, packs, costs, n):
    """Stratified query sample for `query_mix`, in stratum order.

    `packs` maps pack name -> query names; `costs` maps query name -> a
    reference wall in seconds (queries without one count as the median).
    The inventory is sorted by cost and cut into `n` consecutive strata;
    one query is drawn from each, so every sample carries about the same
    total work. So that every pack contributes, each pack is first given a
    stratum of its own that holds one of its queries (a bipartite matching,
    explored in seeded order), and that stratum draws among the pack's
    queries."""
    rng = np.random.default_rng([seed, 4])
    pack_of = {q: p for p, qs in packs.items() for q in qs}
    names = sorted(pack_of)
    known = sorted(costs[q] for q in names if q in costs)
    mid = known[len(known) // 2] if known else 0.0
    ranked = sorted(names, key=lambda q: (costs.get(q, mid), q))
    n = max(1, min(n, len(ranked)))
    strata = [ranked[len(ranked) * i // n: len(ranked) * (i + 1) // n] for i in range(n)]
    options = {p: [] for p in packs}
    for i, s in enumerate(strata):
        for p in sorted({pack_of[q] for q in s}):
            options[p].append(i)
    options = {p: [opts[j] for j in rng.permutation(len(opts))] for p, opts in options.items()}
    owner = {}

    def place(pack, seen):
        for i in options[pack]:
            if i not in seen:
                seen.add(i)
                if i not in owner or place(owner[i], seen):
                    owner[i] = pack
                    return True
        return False

    for j in rng.permutation(len(packs)):
        place(sorted(packs)[j], set())
    picks = []
    for i, s in enumerate(strata):
        cands = [q for q in s if pack_of[q] == owner[i]] if i in owner else s
        picks.append(cands[int(rng.integers(0, len(cands)))])
    return picks


def load_json(path, default=None):
    try:
        with open(path) as f:
            return json.load(f)
    except FileNotFoundError:
        return default
