"""Output checks, computed apart from the program with DuckDB and numpy.

``check(workload, root, result)`` reads the op plan and the inputs under
``root``, the outputs the JVM side wrote to ``root/out/ops/<op>.json`` and its
``result.json`` record, and returns ``(ok, problems, derived)``: whether every
output of every op that did not fail matched, a list of mismatches, and the
workload metrics derived from the run and the replay (recall, write and
space amplification, ...).
"""
import glob
import json
import math
import os
import statistics
from collections import Counter, defaultdict

import duckdb
import numpy as np
import pyarrow.parquet as pq

PER_LAYER = {
    "api.calls": "count", "api.read_s": "s", "api.commit_s": "s", "api.driver_s": "s",
    "api.jobs_per_commit": "count", "api.meta_files_written": "count",
    "api.meta_bytes_written": "bytes", "api.data_bytes_written": "bytes",
    "api.files_scanned": "count", "api.files_skipped": "count",
    "rel.calls": "count", "rel.busy_s": "s",
    "spatial.calls": "count", "spatial.busy_s": "s",
    "functions.kernel_s": "s", "functions.rows_per_s": "1/s",
    "llm.build_s": "s", "llm.train_jobs": "count", "llm.search_s": "s",
    "llm.ann_rows_scored_per_query": "count", "llm.lsh_candidate_pairs": "count",
    "llm.lsh_precision": "ratio",
    "stream.batches": "count", "stream.trigger_s": "s", "stream.add_batch_s": "s",
    "stream.wal_commit_s": "s", "stream.commit_s": "s", "stream.planning_s": "s",
    "stream.state_rows": "count", "stream.state_bytes": "bytes", "stream.state_commit_s": "s",
    "plans.analysis_s": "s", "plans.optimizer_s": "s", "plans.physical_s": "s",
    "spark.jobs": "count", "spark.driver_gap_s": "s", "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes", "spark.spill_bytes": "bytes", "spark.tasks": "count",
    "spark.job_s": "s", "spark.executor_cpu_s": "s", "spark.scheduler_delay_s": "s",
    "spark.input_bytes": "bytes",
    "fs.bytes_read": "bytes", "fs.bytes_written": "bytes",
    "jvm.gc_s": "s", "jvm.heap_peak_mb": "MB",
    "trace.self_sum_err": "ratio",
    "commits_per_s": "1/s", "write_amp": "ratio", "space_amp": "ratio",
    "build_s": "s", "search_p50_s": "s", "recall_at_10": "ratio", "events_per_s": "1/s",
}

BPE_MERGES, KMEANS_ITERS, PQ_ITERS = 2, 2, 1        # as LlmIndex in Workloads.scala
NLIST, NPROBE, TOPK, PQ_M, PQ_KSUB = 8, 2, 10, 4, 4
LSH_THRESHOLD = 0.5                                 # 4 bands x 2 rows
DELAY_US, WIDTH_US, GAP_US = 15 * 60 * 10**6, 10 * 60 * 10**6, 30 * 60 * 10**6


def load_plan(root):
    with open(os.path.join(root, "plan.jsonl")) as f:
        return [json.loads(line) for line in f if line.strip()]


def output(root, op_id):
    path = os.path.join(root, "out", "ops", f"{op_id}.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return json.load(f)


def _canon(v):
    if v is None or isinstance(v, (bool, int, str)):
        return v
    if isinstance(v, float):
        return float(v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if hasattr(v, "__float__"):
        return float(v)
    return str(v)


def _key(row):
    return tuple((0, "") if v is None else
                 (1, round(v, 3)) if isinstance(v, float) else (2, str(v)) for v in row)


def same_rows(got, want, ordered=False):
    """Rows equal up to float rounding; as multisets unless ``ordered``."""
    got = [tuple(_canon(v) for v in r) for r in got]
    want = [tuple(_canon(v) for v in r) for r in want]
    if len(got) != len(want):
        return f"{len(got)} rows, expected {len(want)}"
    if not ordered:
        got, want = sorted(got, key=_key), sorted(want, key=_key)
    for i, (g, w) in enumerate(zip(got, want)):
        if len(g) != len(w):
            return f"row {i}: {len(g)} columns, expected {len(w)}"
        for a, b in zip(g, w):
            if isinstance(a, (int, float)) and isinstance(b, (int, float)) \
                    and not isinstance(a, bool):
                if not math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6):
                    return f"row {i}: {g} != {w}"
            elif a != b:
                return f"row {i}: {g} != {w}"
    return None


# ------------------------------------------------------------------ digest

MASK = (1 << 64) - 1


def _mix(z):
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xbf58476d1ce4e5b9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94d049bb133111eb)
    return z ^ (z >> np.uint64(31))


def _fnv(s):
    h = 0xcbf29ce484222325
    for b in s.encode("utf-8"):
        h = ((h ^ b) * 0x100000001b3) & MASK
    return h


def digest(table):
    """The JVM side's Digest.of over an Arrow table, column order kept."""
    n = table.num_rows
    h = np.full(n, 0x12345, dtype=np.uint64)
    with np.errstate(over="ignore"):
        for col in table.columns:
            t = str(col.type)
            valid = ~np.asarray(col.is_null().to_numpy(zero_copy_only=False), dtype=bool)
            if t in ("int64", "int32", "int16", "int8"):
                code = col.fill_null(0).to_numpy().astype(np.int64).view(np.uint64)
            elif t == "double":
                code = col.fill_null(0.0).to_numpy().astype(np.float64).view(np.uint64)
            elif t.startswith("date32"):
                code = col.cast("int32").fill_null(0).to_numpy().astype(np.int64).view(np.uint64)
            else:
                cache = {}
                vals = col.to_pylist()
                code = np.array([cache.setdefault(v, _fnv(v)) if v is not None else 0
                                 for v in vals], dtype=np.uint64)
            code = np.where(valid, code, np.uint64(0x9e3779b97f4a7c15))
            h = _mix(h ^ code)
        total = int(h.sum(dtype=np.uint64)) if n else 0
    return {"count": n, "digest": str(total & MASK)}


# ---------------------------------------------------------------- read_sql

def _lcc_inverse(x_ft, y_ft):
    """EPSG:2272 (NAD83 / Pennsylvania South, ftUS) to lon/lat degrees."""
    a, f = 6378137.0, 1 / 298.257222101
    e = math.sqrt(2 * f - f * f)
    ft = 1200.0 / 3937.0
    phi1, phi2 = math.radians(40 + 58 / 60), math.radians(39 + 56 / 60)
    phi0, lam0 = math.radians(39 + 20 / 60), math.radians(-77 - 45 / 60)
    x0 = 600000.0

    def m(p):
        return math.cos(p) / math.sqrt(1 - (e * math.sin(p)) ** 2)

    def t(p):
        return math.tan(math.pi / 4 - p / 2) / (
            ((1 - e * math.sin(p)) / (1 + e * math.sin(p))) ** (e / 2))
    n = (math.log(m(phi1)) - math.log(m(phi2))) / (math.log(t(phi1)) - math.log(t(phi2)))
    F = m(phi1) / (n * t(phi1) ** n)
    rho0 = a * F * t(phi0) ** n
    x, y = x_ft * ft - x0, rho0 - y_ft * ft
    rho = math.copysign(math.hypot(x, y), n)
    theta = math.atan2(x, y)
    tt = (rho / (a * F)) ** (1 / n)
    phi = math.pi / 2 - 2 * math.atan(tt)
    for _ in range(15):
        phi = math.pi / 2 - 2 * math.atan(
            tt * ((1 - e * math.sin(phi)) / (1 + e * math.sin(phi))) ** (e / 2))
    return math.degrees(theta / n + lam0), math.degrees(phi)


def _point(wkt):
    body = wkt[wkt.index("(") + 1: wkt.rindex(")")].split()
    return float(body[0]), float(body[1])


def check_read_sql(root, res, plan):
    con = duckdb.connect()
    for f in glob.glob(os.path.join(root, "wh", "*.parquet")):
        name = os.path.basename(f)[:-8]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{f}')")
    by_id = {op["id"]: op for op in plan}
    problems = []
    for o in res["ops"]:
        if o["error"] is not None:
            continue
        op = by_id[o["id"]]
        out = output(root, o["id"])
        if out is None:
            problems.append(f"{o['id']}: no output")
            continue
        got = out["rows"]
        kind, ordered = op["kind"], False
        if op["tag"] == "st_transform":
            problems += _check_transform(o["id"], got)
            continue
        if kind == "sql":
            sql, ordered = op["sql"], "ORDER BY" in op["sql"] and "OVER" not in op["sql"]
        elif kind == "read":
            cols = ", ".join(f"{c} AS {op['aliases'][c]}" if c in op["aliases"] else c
                             for c in op["fields"])
            sql = (f"SELECT {cols} FROM {op['table']} WHERE {op['where']} "
                   f"ORDER BY {', '.join(op['sort'])} LIMIT {op['limit']}")
            ordered = True
        elif kind == "topk":
            sql = ("SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice, rank FROM "
                   "(SELECT *, row_number() OVER (PARTITION BY l_returnflag ORDER BY "
                   "l_extendedprice DESC, l_orderkey, l_linenumber) AS rank FROM lineitem "
                   f"WHERE l_shipdate BETWEEN DATE '{op['lo']}' AND DATE '{op['hi']}') "
                   f"WHERE rank <= {op['k']}")
        elif kind == "saltedsum":
            sql = ("SELECT l_returnflag, l_linestatus, CAST(sum(CAST(l_extendedprice AS "
                   "DECIMAL(18,2))) AS DOUBLE), count(*) FROM lineitem WHERE l_shipdate <= "
                   f"DATE '{op['max_date']}' GROUP BY l_returnflag, l_linestatus")
        elif kind == "bbox":
            sql = ("SELECT pid, bid FROM points, boxes WHERE bid BETWEEN "
                   f"{op['bid_lo']} AND {op['bid_hi']} AND px BETWEEN xmin AND xmax "
                   "AND py BETWEEN ymin AND ymax")
        elif kind == "nn":
            d2 = "(px - sx) * (px - sx) + (py - sy) * (py - sy)"
            sql = (f"SELECT pid, sid, d2 FROM (SELECT pid, sid, {d2} AS d2, row_number() "
                   f"OVER (PARTITION BY pid ORDER BY {d2}, sid) AS rn FROM points, sites "
                   f"WHERE pid BETWEEN {op['pid_lo']} AND {op['pid_hi']} AND "
                   f"{d2} <= {op['radius'] * op['radius']}) WHERE rn = 1")
        want = con.execute(sql).fetchall()
        err = same_rows(got, want, ordered)
        if err:
            problems.append(f"{o['id']} ({op['tag']}): {err}")
    return problems, {}


def _check_transform(op_id, rows):
    problems = []
    for pid, px, py, w, geo, rt in rows:
        if _point(w) != (float(px), float(py)):
            problems.append(f"{op_id}: pid {pid} ST_AsText {w} is not ({px} {py})")
        lon, lat = _lcc_inverse(px, py)
        glon, glat = _point(geo)
        if abs(glon - lon) > 1e-7 or abs(glat - lat) > 1e-7:
            problems.append(f"{op_id}: pid {pid} 2272->4326 {geo}, expected ({lon} {lat})")
        rx, ry = _point(rt)
        if abs(rx - px) > 1e-3 or abs(ry - py) > 1e-3:
            problems.append(f"{op_id}: pid {pid} round trip {rt} drifted from ({px} {py})")
        if problems:
            break
    return problems


# ----------------------------------------------------------- table_commits

def check_table_commits(root, res, plan):
    con = duckdb.connect()
    for t in ("orders", "lineitem"):
        con.execute(f"CREATE TABLE {t} AS SELECT * FROM read_parquet("
                    f"'{os.path.join(root, 'src', t + '.parquet')}')")
    bytes_per_row = {t: os.path.getsize(os.path.join(root, "src", t + ".parquet")) /
                     con.execute(f"SELECT count(*) FROM {t}").fetchone()[0]
                     for t in ("orders", "lineitem")}
    snaps, expect, user_bytes = [], {}, {}
    for op in plan:
        k, cid = op["kind"], op["id"]
        t = op.get("table", "orders")
        if k == "snapshot":
            name = f"snap{len(snaps)}"
            con.execute(f"CREATE TABLE {name} AS SELECT * FROM orders")
            snaps.append(name)
        elif k == "append":
            con.execute(f"INSERT INTO {t} BY NAME SELECT * FROM read_parquet('{op['file']}')")
            user_bytes[cid] = os.path.getsize(op["file"])
        elif k == "dml":
            n = con.execute(op["sql"]).fetchall()
            if not op["sql"].upper().startswith("ALTER"):
                expect[cid] = {"rows": n[0][0]}
                user_bytes[cid] = n[0][0] * bytes_per_row[t]
        elif k in ("upsert", "merge"):
            src = f"read_parquet('{op['file']}')"
            if k == "upsert":
                con.execute(f"DELETE FROM orders WHERE o_orderkey IN (SELECT o_orderkey FROM {src})")
                con.execute(f"INSERT INTO orders BY NAME SELECT * FROM {src}")
            else:   # MERGE as delete + insert of the merged and the new rows
                con.execute("CREATE OR REPLACE TEMP TABLE m AS SELECT t.* REPLACE "
                            "(s.o_totalprice AS o_totalprice, s.o_orderstatus AS o_orderstatus) "
                            f"FROM orders t JOIN {src} s ON t.o_orderkey = s.o_orderkey")
                con.execute(f"DELETE FROM orders WHERE o_orderkey IN (SELECT o_orderkey FROM m)")
                con.execute("INSERT INTO orders BY NAME SELECT * FROM m")
                con.execute(f"INSERT INTO orders BY NAME SELECT * FROM {src} "
                            "WHERE o_orderkey NOT IN (SELECT o_orderkey FROM m)")
                expect[cid] = {"rows": pq.read_metadata(op["file"]).num_rows}
            user_bytes[cid] = os.path.getsize(op["file"])
        elif k in ("read_version", "version_sql", "timestamp_sql"):
            expect[cid] = digest(con.execute(f"SELECT * FROM {snaps[op['at']]}").arrow())
        elif k == "diff":
            expect[cid] = digest(con.execute(f"SELECT * FROM {snaps[op['to']]} EXCEPT ALL "
                                             f"SELECT * FROM {snaps[op['from']]}").arrow())
        elif k == "read_pruned":
            expect[cid] = digest(con.execute(f"SELECT * FROM orders WHERE {op['col']} "
                                             f"BETWEEN {op['lo']} AND {op['hi']}").arrow())
        elif k == "read_current":
            expect[cid] = digest(con.execute(f"SELECT * FROM {t}").arrow())
    problems = []
    ops = res["ops"]
    for o in ops:
        if o["error"] is not None:
            continue
        cid = o["id"].split(".", 1)[1]
        out = output(root, o["id"])
        want = expect.get(cid)
        if want is None:
            continue
        got = {k: out.get(k) for k in want} if out else None
        if out is None or any(str(got[k]) != str(want[k]) for k in want):
            problems.append(f"{o['id']} ({o['kind']}): {got}, expected {want}")
    for r in sorted({o["round"] for o in ops}):
        vs = [output(root, o["id"])["version"] for o in ops
              if o["round"] == r and o["kind"] == "snapshot" and o["error"] is None]
        if vs != sorted(set(vs)):
            problems.append(f"round {r}: snapshot versions not increasing: {vs}")
    # live rows of the final state, sized as plain parquet files
    live = 0
    tmp = os.path.join(root, "tmp")
    for t in ("orders", "lineitem"):
        path = os.path.join(tmp, f"live_{t}.parquet")
        pq.write_table(con.execute(f"SELECT * FROM {t}").arrow(), path, compression="snappy")
        live += os.path.getsize(path)
    commits = [o for o in ops if o.get("commit") and o["error"] is None]
    written = sum(o["fs_written"] for o in commits)
    changed = sum(user_bytes.get(o["id"].split(".", 1)[1], 0) for o in commits)
    derived = {
        "commits_per_s": len(commits) / sum(o["lat_s"] for o in commits),
        "write_amp": written / changed if changed else 0.0,
        "space_amp": res["facts"]["table_bytes_after_vacuum"] / live,
    }
    return problems, derived


# --------------------------------------------------------------- llm_index

def _bpe(texts, k):
    words = Counter(w for t in texts for w in t.split(" ") if w)
    merges = []
    seg = {w: list(w) for w in words}
    for rank in range(1, k + 1):
        pairs = Counter()
        for w, n in words.items():
            toks = seg[w]
            for a, b in zip(toks, toks[1:]):
                pairs[f"{a}|{b}"] += n
        if not pairs:
            break
        pair, cnt = min(pairs.items(), key=lambda kv: (-kv[1], kv[0].encode()))
        merges.append([rank, pair, cnt])
        x, y = pair.split("|")
        for w, toks in seg.items():
            out, i = [], 0
            while i < len(toks):
                if i + 1 < len(toks) and toks[i] == x and toks[i + 1] == y:
                    out.append(x + y)
                    i += 2
                else:
                    out.append(toks[i])
                    i += 1
            seg[w] = out
    return merges


def _shingles(text, n=3):
    toks = text.split(" ")
    return frozenset(tuple(toks[i:i + n]) for i in range(len(toks) - n + 1))


def _kmeans(x, k, iters):
    """Lloyd's k-means as the program defines it: first k vectors by id,
    argmin by (squared distance, index), fixed-point mean update."""
    c = x[:k].copy()
    for _ in range(iters):
        assign = _assign(x, c)
        for j in range(k):
            mem = x[assign == j]
            if len(mem):
                s = np.floor(mem * 1048576.0).astype(np.int64).sum(axis=0)
                c[j] = s.astype(np.float64) / 1048576.0 / len(mem)
    return c


def _assign(x, c):
    d = (x * x).sum(axis=1)[:, None] - 2.0 * x @ c.T + (c * c).sum(axis=1)[None, :]
    return np.argmin(d, axis=1)


def check_llm_index(root, res, plan):
    docs = pq.read_table(os.path.join(root, "wh", "documents.parquet")).to_pydict()
    emb_t = pq.read_table(os.path.join(root, "wh", "embeddings.parquet")).to_pydict()
    ids = np.array(emb_t["vec_id"])
    x = np.array(emb_t["embedding"], dtype=np.float32).astype(np.float64)
    assert (ids == np.arange(len(ids))).all()
    cent = _kmeans(x, NLIST, KMEANS_ITERS)
    sub = x.shape[1] // PQ_M
    books = [_kmeans(x[:, j * sub:(j + 1) * sub], PQ_KSUB, PQ_ITERS) for j in range(PQ_M)]
    codes = np.stack([_assign(x[:, j * sub:(j + 1) * sub], books[j]) for j in range(PQ_M)], 1)
    norms = np.sqrt((x * x).sum(axis=1))
    sh = [_shingles(t) for t in docs["text"]]
    by_set = defaultdict(list)
    for i, s in zip(docs["doc_id"], sh):
        by_set[s].append(i)
    must_pair = {(a, b) for g in by_set.values() for a in g for b in g if a < b}
    merges = _bpe(docs["text"], BPE_MERGES)
    by_id = {op["id"]: op for op in plan}
    problems, recalls, precisions = [], [], []
    for o in res["ops"]:
        if o["error"] is not None:
            continue
        op, out, oid = by_id[o["id"]], output(root, o["id"]), o["id"]
        k = op["kind"]
        if k == "bpe":
            if out["rows"] != merges:
                problems.append(f"{oid}: merges {out['rows']}, expected {merges}")
        elif k == "minhash_kernel":
            sig = {r[0]: r[1] for r in out["rows"]}
            for g in by_set.values():
                if len({json.dumps(sig.get(i)) for i in g}) > 1:
                    problems.append(f"{oid}: identical shingle sets {g} got different signatures")
                    break
            if any(s is None or len(s) != 8 for s in sig.values()) or len(sig) != len(sh):
                problems.append(f"{oid}: missing or malformed signatures")
        elif k == "dedup":
            pairs = {(a, b) for a, b in out["pairs"]}
            if not must_pair <= pairs:
                problems.append(f"{oid}: {len(must_pair - pairs)} identical-shingle pairs missing")
            parent = {i: i for i in docs["doc_id"]}

            def find(i):
                while parent[i] != i:
                    parent[i] = parent[parent[i]]
                    i = parent[i]
                return i
            for a, b in pairs:
                ra, rb = find(a), find(b)
                parent[max(ra, rb)] = min(ra, rb)
            comp = defaultdict(list)
            for i in parent:
                comp[find(i)].append(i)
            want = sorted((i, min(g)) for g in comp.values() for i in g)
            if sorted(map(tuple, out["components"])) != want:
                problems.append(f"{oid}: components differ from union-find over the pairs")
            good = sum(1 for a, b in pairs
                       if len(sh[a] & sh[b]) >= LSH_THRESHOLD * len(sh[a] | sh[b]))
            precisions.append(good / len(pairs) if pairs else 1.0)
        elif k == "kmeans":
            if not np.allclose(np.array(out), cent, rtol=0, atol=1e-9):
                problems.append(f"{oid}: centroids differ from Lloyd's reference")
        elif k == "pq_train":
            if not all(np.allclose(np.array(b), books[j], rtol=0, atol=1e-9)
                       for j, b in enumerate(out)):
                problems.append(f"{oid}: PQ codebooks differ from Lloyd's reference")
        elif k in ("ivf", "pq"):
            q = op["q"]
            rows = out["rows"]
            got = [r[0] for r in rows]
            others = np.arange(len(x)) != q
            if k == "ivf":
                cos = x @ x[q] / (norms * norms[q])
                exact = [i for i in np.lexsort((ids, -cos)) if others[i]][:TOPK]
                dq = ((cent - x[q]) ** 2).sum(axis=1)
                probes = set(sorted(range(NLIST), key=lambda j: (dq[j], j))[:NPROBE])
                lists = _assign(x, cent)
                for vid, lid, c in rows:
                    if not math.isclose(c, cos[vid], rel_tol=1e-9, abs_tol=1e-12):
                        problems.append(f"{oid}: score {c} of {vid} is not its cosine {cos[vid]}")
                        break
                    if lid != lists[vid] or lid not in probes or vid == q:
                        problems.append(f"{oid}: {vid} in list {lid} outside the probed lists")
                        break
                if [r[2] for r in rows] != sorted((r[2] for r in rows), reverse=True):
                    problems.append(f"{oid}: results not in score order")
            else:
                l2 = ((x - x[q]) ** 2).sum(axis=1)
                exact = [i for i in np.lexsort((ids, l2)) if others[i]][:TOPK]
                table = [((books[j] - x[q, j * sub:(j + 1) * sub]) ** 2).sum(axis=1)
                         for j in range(PQ_M)]
                for r in rows:
                    vid, cs, adc = r[0], r[1:1 + PQ_M], r[-1]
                    want = sum(table[j][codes[vid, j]] for j in range(PQ_M))
                    if list(cs) != list(codes[vid]) or not math.isclose(adc, want, rel_tol=1e-9):
                        problems.append(f"{oid}: {vid} codes {cs}/{adc}, expected "
                                        f"{list(codes[vid])}/{want}")
                        break
                adcs = [r[-1] for r in rows]
                if adcs != sorted(adcs) or q in got:
                    problems.append(f"{oid}: results not in distance order")
            if len(rows) != TOPK:
                problems.append(f"{oid}: {len(rows)} results, expected {TOPK}")
            recalls.append(len(set(got) & set(int(i) for i in exact)) / TOPK)
    build = defaultdict(float)
    for o in res["ops"]:
        if o.get("build"):
            build[o["round"]] += o["lat_s"]
    searches = [o["lat_s"] for o in res["ops"] if o.get("build") is False]
    derived = {"build_s": statistics.median(build.values()) if build else 0.0,
               "search_p50_s": statistics.median(searches) if searches else 0.0,
               "recall_at_10": statistics.mean(recalls) if recalls else 0.0,
               "llm.lsh_precision": statistics.mean(precisions) if precisions else 0.0}
    return problems, derived


# ---------------------------------------------------------- stream_windows

def check_stream_windows(root, res, plan):
    con = duckdb.connect()
    src = os.path.join(root, "stream_src")
    files = [op["file"] for op in plan]
    problems = []
    offered_bytes = 0
    for rf in res["facts"]["rounds"]:
        d, n = rf["dir"], rf["files"]
        offered_bytes += sum(os.path.getsize(os.path.join(src, f)) for f in files[1:n])
        parts = " UNION ALL ".join(
            f"SELECT {i} AS batch, *, epoch_us(ts) AS us FROM read_parquet('{os.path.join(src, f)}')"
            for i, f in enumerate(files[:n]))
        con.execute(f"CREATE OR REPLACE TABLE ev AS {parts}")
        # the replayed watermark: batch i drops what is behind the max event
        # time (ms) of batches < i minus the delay; the run ends with the
        # watermark of all batches applied
        mx = con.execute("SELECT batch, max(us) // 1000 FROM ev GROUP BY batch ORDER BY batch").fetchall()
        wm, hi = [], None
        for _, m in mx:
            wm.append(0 if hi is None else hi * 1000 - DELAY_US)
            hi = m if hi is None else max(hi, m)
        final = hi * 1000 - DELAY_US
        con.execute("CREATE OR REPLACE TABLE wm AS SELECT * FROM (VALUES " +
                    ", ".join(f"({i}, {w})" for i, w in enumerate(wm)) + ") t(batch, wm)")
        con.execute("CREATE OR REPLACE TABLE ontime AS SELECT ev.* FROM ev JOIN wm USING (batch) "
                    "WHERE ev.us > wm.wm")
        money = "CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)"
        tumble = con.execute(
            f"SELECT us // {WIDTH_US} * {WIDTH_US // 10**6} AS epoch_start, event_type, count(*), "
            f"{money} FROM ontime WHERE us // {WIDTH_US} * {WIDTH_US} + {WIDTH_US} <= {final} "
            "GROUP BY ALL").fetchall()
        sessions = con.execute(
            "WITH s AS (SELECT *, us - lag(us) OVER (PARTITION BY user_id ORDER BY us) AS gap "
            "FROM ontime), g AS (SELECT *, sum(CASE WHEN gap IS NULL OR gap >= "
            f"{GAP_US} THEN 1 ELSE 0 END) OVER (PARTITION BY user_id ORDER BY us ROWS "
            "UNBOUNDED PRECEDING) AS sid FROM s) "
            f"SELECT user_id, min(us) // 1000000, count(*), {money} FROM g GROUP BY user_id, sid "
            f"HAVING max(us) + {GAP_US} <= {final}").fetchall()
        dedup = con.execute("SELECT DISTINCT event_id, us, user_id, event_type, value "
                            "FROM ontime").fetchall()
        stats = con.execute("SELECT user_id, count(*), max(us), "
                            "sum(round(value * 100))::BIGINT / 100.0 FROM ev GROUP BY user_id"
                            ).fetchall()

        def sink(name, cols, hive=False):
            pattern = os.path.join(d, name, "*", "*.parquet") if hive else \
                os.path.join(d, name, "*.parquet")
            if not glob.glob(pattern):
                return []
            return con.execute(f"SELECT {cols} FROM read_parquet('{pattern}')").fetchall()
        got = {
            "tumble": sink("tumble", "epoch_start, event_type, n, sum_value"),
            "sessions": sink("sessions", "user_id, session_start, n_events, sum_value"),
            "dedup": sink("dedup", "event_id, us, user_id, event_type, value"),
            "stats": sink("stats", "user_id, event_id, us, sum_value", hive=True),
        }
        want = {"tumble": tumble, "sessions": sessions, "dedup": dedup, "stats": stats}
        for name in want:
            err = same_rows(got[name], want[name])
            if err:
                problems.append(f"{d} {name}: {err}")
        for name, w in rf["watermarks"].items():
            if w is not None and name in ("tumble", "sessions", "dedup"):
                if int(np.datetime64(w.rstrip("Z"), "ms").astype(np.int64)) * 1000 != final:
                    problems.append(f"{d} {name}: watermark {w}, replayed {final}")
    ops = [o for o in res["ops"] if o["error"] is None]
    events = {f: pq.read_metadata(os.path.join(src, f)).num_rows for f in files}
    derived = {
        "events_per_s": sum(events[o["file"]] for o in ops) / sum(o["lat_s"] for o in ops),
        "write_amp": sum(o["fs_written"] for o in ops) / offered_bytes,
    }
    return problems, derived


CHECKS = {"read_sql": check_read_sql, "table_commits": check_table_commits,
          "llm_index": check_llm_index, "stream_windows": check_stream_windows}


def check(workload, root, res):
    plan = load_plan(root)
    try:
        problems, derived = CHECKS[workload](root, res, plan)
    except Exception as e:          # a malformed output is a failed check
        problems, derived = [f"checker error: {type(e).__name__}: {e}"], {}
    return not problems, problems, derived
