"""Seeded inputs for the four workloads.

Everything a run reads is made here from ``--seed``: the tables (written as
plain parquet files with pyarrow), and the op plan the JVM side executes and
the checker replays (``plan.jsonl``, one JSON object per op).  The same seed
gives byte-identical inputs.
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Scale of the TPC-H-like tables relative to the project's sf1
# (lineitem = 6M rows at 1.0).  Chosen so that one round of each workload
# takes a few seconds on 4 cores: see README.md "Inputs".
SCALE = {"read_sql": 0.02, "table_commits": 0.01}
N_DOCS, N_DUPS, N_VECS, DIMS = 2000, 160, 2000, 64
N_EVENTS, EVENT_FILES = 12000, 4
PLAN_ROUNDS = 50  # more rounds than a run gets through; a run stops at the last

EPOCH = dt.date(1970, 1, 1)
D0 = (dt.date(1992, 1, 1) - EPOCH).days
D1 = (dt.date(1998, 12, 31) - EPOCH).days

WORDS = ("spark table scan join sort group window stream batch merge query "
         "data vector index hash key value row column filter agg line part "
         "order customer fast slow small big a the of").split()
SYLLABLES = "ka to ri mu se na lo pi ve da zu ho ge bi ra fe ki so tu ne".split()
VOCAB = [a + b for a in SYLLABLES for b in SYLLABLES][:300]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _date_str(days):
    return (EPOCH + dt.timedelta(days=int(days))).isoformat()


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tpch(rng, sf, out, tables):
    n_cust, n_supp = max(150, int(150000 * sf)), max(10, int(10000 * sf))
    n_part, n_ord = max(200, int(200000 * sf)), max(1500, int(1500000 * sf))
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION{i:02d}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999, 9999, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999, 9999, n_supp)})
    brands = rng.integers(1, 26, n_part)
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{WORDS[a]} {WORDS[b]}" for a, b in
                   rng.integers(0, len(WORDS), (n_part, 2))],
        "p_brand": [f"Brand#{b}" for b in brands],
        "p_type": [["SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"][i]
                   for i in rng.integers(0, 5, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": _money(rng, 900, 2100, n_part)})
    odate = rng.integers(D0, D1, n_ord)
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": [["O", "F", "P"][i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 900, 450000, n_ord),
        "o_orderdate": pa.array(odate.astype("int32"), pa.date32()),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]})
    per = rng.integers(1, 8, n_ord)
    lok = np.repeat(np.arange(n_ord, dtype=np.int64), per)
    n_li = len(lok)
    lnum = (np.arange(n_li) - np.repeat(np.cumsum(per) - per, per) + 1)
    t["lineitem"] = pa.table({
        "l_orderkey": lok,
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 100000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [["A", "N", "R"][i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [["O", "F"][i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array((np.repeat(odate, per) +
                                rng.integers(1, 122, n_li)).astype("int32"),
                               pa.date32())})
    os.makedirs(out, exist_ok=True)
    for name in tables:
        _write(t[name], os.path.join(out, f"{name}.parquet"))
    return t


# ---------------------------------------------------------------- read_sql

def _spatial(rng, out):
    n_pts, n_box, n_site = 20000, 400, 600
    x0, y0 = 2_650_000, 200_000
    px = rng.integers(x0, x0 + 100_000, n_pts)
    py = rng.integers(y0, y0 + 100_000, n_pts)
    _write(pa.table({"pid": np.arange(n_pts, dtype=np.int64), "px": px, "py": py,
                     "wkt": [f"POINT ({a} {b})" for a, b in zip(px, py)]}),
           os.path.join(out, "points.parquet"))
    bx = rng.integers(x0, x0 + 98_000, n_box)
    by = rng.integers(y0, y0 + 98_000, n_box)
    w = rng.integers(200, 2000, n_box)
    h = rng.integers(200, 2000, n_box)
    _write(pa.table({"bid": np.arange(n_box, dtype=np.int64), "xmin": bx,
                     "xmax": bx + w, "ymin": by, "ymax": by + h}),
           os.path.join(out, "boxes.parquet"))
    _write(pa.table({"sid": np.arange(n_site, dtype=np.int64),
                     "sx": rng.integers(x0, x0 + 100_000, n_site),
                     "sy": rng.integers(y0, y0 + 100_000, n_site)}),
           os.path.join(out, "sites.parquet"))
    return n_pts


def _read_sql_round(rng, r, n_pts):
    def d(lo=D0, hi=D1 - 60):
        return _date_str(rng.integers(lo, hi))

    def ds(a, span):
        return _date_str(a), _date_str(a + span)

    ops = []
    a = int(rng.integers(D0, D1 - 60))
    lo, hi = ds(a, 20)
    ops.append({"kind": "sql", "tag": "filter", "sql":
                "SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice "
                f"FROM lineitem WHERE l_shipdate BETWEEN DATE '{lo}' AND DATE '{hi}' "
                f"AND l_quantity < {int(rng.integers(5, 20))}"})
    ops.append({"kind": "sql", "tag": "sort_limit", "sql":
                "SELECT o_orderkey, o_custkey, o_totalprice FROM orders "
                f"WHERE o_orderpriority = '{PRIORITIES[rng.integers(0, 5)]}' "
                "ORDER BY o_totalprice DESC, o_orderkey LIMIT 50"})
    dlo = int(rng.integers(0, 6))
    ops.append({"kind": "sql", "tag": "count", "sql":
                "SELECT count(*) AS n FROM lineitem WHERE l_discount BETWEEN "
                f"{dlo / 100:.2f} AND {(dlo + 3) / 100:.2f} AND l_returnflag = "
                f"'{['A', 'N', 'R'][rng.integers(0, 3)]}'"})
    lo, hi = ds(int(rng.integers(D0, D1 - 200)), 180)
    ops.append({"kind": "sql", "tag": "equi_join", "sql":
                "SELECT o_orderpriority, count(*) AS n, sum(l_quantity) AS q, "
                "sum(l_extendedprice) AS p FROM orders JOIN lineitem "
                f"ON l_orderkey = o_orderkey WHERE o_orderdate >= DATE '{lo}' "
                f"AND o_orderdate < DATE '{hi}' GROUP BY o_orderpriority"})
    ops.append({"kind": "sql", "tag": "anti_join", "sql":
                "SELECT c_nationkey, count(*) AS n FROM customer c WHERE "
                f"c.c_mktsegment = '{SEGMENTS[rng.integers(0, 5)]}' AND NOT EXISTS "
                "(SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND "
                f"o.o_orderdate >= DATE '{d(D1 - 900, D1 - 300)}') "
                "GROUP BY c_nationkey"})
    lo, hi = ds(int(rng.integers(D0, D1 - 400)), 365)
    ops.append({"kind": "sql", "tag": "multiway_join", "sql":
                "SELECT r_name, n_name, count(*) AS n, sum(o_totalprice) AS tp "
                "FROM orders JOIN customer ON o_custkey = c_custkey "
                "JOIN nation ON c_nationkey = n_nationkey "
                "JOIN region ON n_regionkey = r_regionkey "
                f"WHERE o_orderdate BETWEEN DATE '{lo}' AND DATE '{hi}' "
                "GROUP BY r_name, n_name"})
    ops.append({"kind": "sql", "tag": "group_by", "sql":
                "SELECT l_returnflag, l_linestatus, count(*) AS n, "
                "sum(l_quantity) AS sq, sum(l_extendedprice) AS sp, "
                "avg(l_discount) AS ad FROM lineitem "
                f"WHERE l_shipdate <= DATE '{d()}' GROUP BY l_returnflag, l_linestatus"})
    s0 = int(rng.integers(1, 45))
    ops.append({"kind": "sql", "tag": "window_rank", "sql":
                "SELECT p_brand, p_partkey, p_retailprice, rk FROM (SELECT p_brand, "
                "p_partkey, p_retailprice, rank() OVER (PARTITION BY p_brand "
                "ORDER BY p_retailprice DESC) AS rk FROM part "
                f"WHERE p_size BETWEEN {s0} AND {s0 + 5}) t WHERE rk <= 3"})
    lo, hi = ds(int(rng.integers(D0, D1 - 100)), 60)
    ops.append({"kind": "sql", "tag": "three_way_join", "sql":
                "SELECT s_nationkey, p_type, count(*) AS n, sum(l_extendedprice) AS p "
                "FROM lineitem JOIN part ON l_partkey = p_partkey "
                "JOIN supplier ON l_suppkey = s_suppkey "
                f"WHERE l_shipdate BETWEEN DATE '{lo}' AND DATE '{hi}' "
                "GROUP BY s_nationkey, p_type"})
    p0 = float(np.round(rng.uniform(1000, 400000), 2))
    ops.append({"kind": "read", "tag": "projection", "table": "orders",
                "fields": ["o_orderkey", "o_custkey", "o_totalprice"],
                "aliases": {"o_totalprice": "price"},
                "where": f"o_totalprice BETWEEN {p0} AND {p0 + 3000}",
                "sort": ["o_totalprice DESC", "o_orderkey"], "limit": 100})
    lo, hi = ds(int(rng.integers(D0, D1 - 100)), 30)
    ops.append({"kind": "topk", "tag": "topk_per_group", "lo": lo, "hi": hi,
                "k": int(rng.integers(2, 6))})
    ops.append({"kind": "saltedsum", "tag": "salted_sum",
                "max_date": d(), "buckets": 4})
    b0 = int(rng.integers(0, 400 - 80))
    ops.append({"kind": "bbox", "tag": "bbox_join", "bid_lo": b0,
                "bid_hi": b0 + 80, "cell": 2000})
    p0 = int(rng.integers(0, n_pts - 2000))
    ops.append({"kind": "nn", "tag": "nn_join", "pid_lo": p0,
                "pid_hi": p0 + 2000, "radius": 1500})
    p0 = int(rng.integers(0, n_pts - 300))
    ops.append({"kind": "sql", "tag": "st_transform", "sql":
                "SELECT pid, px, py, st_astext(wkt) AS w, "
                "st_transform(wkt, 2272, 4326) AS geo, "
                "st_transform(st_transform(wkt, 2272, 4326), 4326, 2272) AS rt "
                f"FROM points WHERE pid BETWEEN {p0} AND {p0 + 299}"})
    for i, op in enumerate(ops):
        op["id"] = f"r{r}.{i}"
        op["round"] = r
    return ops


def read_sql(rng, root):
    wh = os.path.join(root, "wh")
    tpch(rng, SCALE["read_sql"], wh,
         ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"])
    n_pts = _spatial(rng, wh)
    return [op for r in range(PLAN_ROUNDS) for op in _read_sql_round(rng, r, n_pts)]


# ----------------------------------------------------------- table_commits

def table_commits(rng, root):
    """A fixed commit log, replayed from a fresh warehouse in every round."""
    src = os.path.join(root, "src")
    t = tpch(rng, SCALE["table_commits"], src, ["orders", "lineitem"])
    bdir = os.path.join(root, "batches")
    os.makedirs(bdir, exist_ok=True)
    orders = t["orders"]
    n_ord = orders.num_rows
    next_key = [n_ord]

    def order_rows(keys, name):
        n = len(keys)
        tab = pa.table({
            "o_orderkey": np.asarray(keys, dtype=np.int64),
            "o_custkey": rng.integers(0, 1500, n),
            "o_orderstatus": [["O", "F", "P"][i] for i in rng.integers(0, 3, n)],
            "o_totalprice": _money(rng, 900, 450000, n),
            "o_orderdate": pa.array(rng.integers(D0, D1, n).astype("int32"),
                                    pa.date32()),
            "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n)]})
        path = os.path.join(bdir, f"{name}.parquet")
        _write(tab, path)
        return path

    def fresh(n):
        k = list(range(next_key[0], next_key[0] + n))
        next_key[0] += n
        return k

    def some_existing(n, fresh_n):
        old = rng.choice(n_ord, n, replace=False).tolist()
        return sorted(old) + fresh(fresh_n)

    ops = []
    add = ops.append
    add({"kind": "snapshot"})                                           # v: base
    add({"kind": "analyze", "cols": ["o_orderkey", "o_totalprice"]})
    add({"kind": "append", "file": order_rows(fresh(1500), "append0")})
    add({"kind": "snapshot"})
    add({"kind": "read_version", "at": 0})
    add({"kind": "diff", "from": 0, "to": 1})
    p = float(np.round(rng.uniform(1000, 400000), 2))
    add({"kind": "read_pruned", "col": "o_totalprice", "lo": p, "hi": p + 20000})
    k0 = int(rng.integers(0, n_ord - 400))
    add({"kind": "dml", "sql": f"DELETE FROM orders WHERE o_orderkey BETWEEN {k0} AND {k0 + 199}"})
    add({"kind": "dml", "table": "lineitem",
         "sql": f"DELETE FROM lineitem WHERE l_orderkey BETWEEN {k0} AND {k0 + 199}"})
    add({"kind": "snapshot"})
    add({"kind": "version_sql", "at": 1})
    pr = PRIORITIES[rng.integers(0, 5)]
    k1 = int(rng.integers(0, n_ord - 2000))
    add({"kind": "dml", "sql": "UPDATE orders SET o_totalprice = o_totalprice + 1.25 "
         f"WHERE o_orderpriority = '{pr}' AND o_orderkey BETWEEN {k1} AND {k1 + 1999}"})
    add({"kind": "snapshot"})
    add({"kind": "timestamp_sql", "at": 2})
    add({"kind": "upsert", "file": order_rows(some_existing(300, 200), "upsert0"),
         "keys": ["o_orderkey"]})
    add({"kind": "snapshot"})
    add({"kind": "merge", "file": order_rows(some_existing(300, 200), "merge0"),
         "sql": "MERGE INTO orders t USING orders_src s ON t.o_orderkey = s.o_orderkey "
                "WHEN MATCHED THEN UPDATE SET o_totalprice = s.o_totalprice, "
                "o_orderstatus = s.o_orderstatus WHEN NOT MATCHED THEN INSERT *"})
    add({"kind": "snapshot"})
    add({"kind": "read_version", "at": 4})
    add({"kind": "dml", "sql": "ALTER TABLE orders ADD COLUMN o_comment STRING"})
    add({"kind": "append", "file": order_rows(fresh(1000), "append1")})
    add({"kind": "compact"})
    add({"kind": "snapshot"})
    add({"kind": "read_version", "at": 6})
    add({"kind": "read_current"})
    add({"kind": "vacuum"})
    add({"kind": "read_current"})
    add({"kind": "read_current", "table": "lineitem"})
    for i, op in enumerate(ops):
        op["id"] = f"c{i}"
    return ops


# --------------------------------------------------------------- llm_index

def llm_index(rng, root):
    """Documents with a fixed number of near-duplicate pairs.

    Every copy is of a distinct original, and the 300-word vocabulary keeps
    unrelated documents from sharing shingles, so the duplicate graph is the
    same shape on every seed: pairs, which connected components settle in
    one round.
    """
    wh = os.path.join(root, "wh")
    os.makedirs(wh, exist_ok=True)
    n_orig = N_DOCS - N_DUPS
    texts = [" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), int(rng.integers(12, 80))))
             for _ in range(n_orig)]
    for k, src in enumerate(rng.choice(n_orig, N_DUPS, replace=False)):
        words = texts[src].split()
        if k % 2:                                   # half exact, half one word changed
            words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        texts.append(" ".join(words))
    texts = [texts[i] for i in rng.permutation(N_DOCS)]
    _write(pa.table({"doc_id": np.arange(N_DOCS, dtype=np.int64), "text": texts,
                     "lang": [["en", "de", "zh"][i] for i in rng.integers(0, 3, N_DOCS)],
                     "n_chars": np.array([len(s) for s in texts], dtype=np.int64)}),
           os.path.join(wh, "documents.parquet"))
    centers = rng.normal(0, 1, (16, DIMS))
    lab = rng.integers(0, 16, N_VECS)
    emb = (centers[lab] + rng.normal(0, 0.6, (N_VECS, DIMS))).astype(np.float32)
    _write(pa.table({"vec_id": np.arange(N_VECS, dtype=np.int64),
                     "embedding": pa.array(list(emb), pa.list_(pa.float32())),
                     "label": pa.array(lab, pa.int32())}),
           os.path.join(wh, "embeddings.parquet"))
    ops = []
    for r in range(PLAN_ROUNDS):
        rnd = [{"kind": "bpe"}, {"kind": "minhash_kernel"}, {"kind": "dedup"},
               {"kind": "kmeans"}, {"kind": "pq_train"}]
        for q in rng.choice(N_VECS, 10, replace=False):
            rnd.append({"kind": "ivf", "q": int(q)})
        for q in rng.choice(N_VECS, 10, replace=False):
            rnd.append({"kind": "pq", "q": int(q)})
        for i, op in enumerate(rnd):
            op["id"] = f"r{r}.{i}"
            op["round"] = r
        ops += rnd
    return ops


# ---------------------------------------------------------- stream_windows

LATE_SHARE, OOO_SHARE, DUP_SHARE = 0.03, 0.10, 0.02


def stream_windows(rng, root):
    """Events split into EVENT_FILES micro-batch files, in event-time order.

    Within each file a seeded share of events is moved back in time:
    out-of-order events by up to 5 minutes (inside the 15-minute watermark
    delay, so never late) and late events to 2-3 hours before the file's
    first event (behind the watermark of any batch but the first, so
    dropped by every watermarked operator).  A share of rows is repeated
    inside its own file for the dedup operator.
    """
    src = os.path.join(root, "stream_src")
    os.makedirs(src, exist_ok=True)
    t0 = int(dt.datetime(2024, 1, 1).timestamp()) * 1_000_000
    span_us = 3 * 24 * 3600 * 1_000_000
    ts = np.sort(rng.integers(t0, t0 + span_us, N_EVENTS))
    files = np.array_split(np.arange(N_EVENTS), EVENT_FILES)
    eid = 0
    for fi, idx in enumerate(files):
        n = len(idx)
        t = ts[idx].copy()
        first = t[0]
        u = rng.random(n)
        ooo = u < OOO_SHARE
        t[ooo] -= rng.integers(1, 5 * 60 * 1_000_000, int(ooo.sum()))
        late = (u >= OOO_SHARE) & (u < OOO_SHARE + LATE_SHARE)
        t[late] = first - rng.integers(2 * 3600 * 1_000_000, 3 * 3600 * 1_000_000,
                                       int(late.sum()))
        ids = np.arange(eid, eid + n, dtype=np.int64)
        eid += n
        users = rng.integers(0, 300, n)
        types = [EVENT_TYPES[i] for i in rng.integers(0, 5, n)]
        vals = _money(rng, 0, 200, n)
        order = rng.permutation(n)
        dup = order[: max(1, int(n * DUP_SHARE))]
        sel = np.concatenate([order, dup])
        tab = pa.table({
            "event_id": ids[sel],
            "ts": pa.array(t[sel], pa.timestamp("us")),
            "user_id": users[sel].astype(np.int64),
            "event_type": [types[i] for i in sel],
            "value": vals[sel],
            "props": [f'{{"k": {int(v)}}}' for v in users[sel] % 100]})
        _write(tab, os.path.join(src, f"events.{fi:05d}.parquet"))
    return [{"id": f"b{i}", "kind": "batch", "file": f"events.{i:05d}.parquet"}
            for i in range(EVENT_FILES)]


WORKLOADS = {"read_sql": read_sql, "table_commits": table_commits,
             "llm_index": llm_index, "stream_windows": stream_windows}


def generate(workload, seed, root):
    rng = np.random.default_rng([seed, sorted(WORKLOADS).index(workload)])
    ops = WORKLOADS[workload](rng, root)
    with open(os.path.join(root, "plan.jsonl"), "w") as f:
        for op in ops:
            f.write(json.dumps(op, sort_keys=True) + "\n")
    return ops
