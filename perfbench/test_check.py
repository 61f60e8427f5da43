#!/usr/bin/env python3
"""Self-test of check.py: it must pass real outputs and fail corrupted ones.

    python3 perfbench/test_check.py [workload ...]

For each workload this runs the benchmark once (seed 7, one round, run
directory kept), checks that the untouched outputs pass, then corrupts one
output and checks that the checker reports a failure.  Exits non-zero if any
corruption goes unnoticed.
"""
import glob
import json
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import check  # noqa: E402
import run    # noqa: E402


def _rewrite_json(path, f):
    with open(path) as fh:
        out = json.load(fh)
    f(out)
    with open(path, "w") as fh:
        json.dump(out, fh)


def corrupt_read_sql(root, res):
    op = next(o for o in res["ops"] if o["kind"] == "equi_join")
    path = os.path.join(root, "out", "ops", f"{op['id']}.json")
    _rewrite_json(path, lambda out: out["rows"][0].__setitem__(1, out["rows"][0][1] + 1))
    return f"{op['id']}: one count off by one"


def corrupt_table_commits(root, res):
    op = next(o for o in res["ops"] if o["kind"] == "read_version")
    path = os.path.join(root, "out", "ops", f"{op['id']}.json")
    _rewrite_json(path, lambda out: out.__setitem__("digest", str(int(out["digest"]) ^ 1)))
    return f"{op['id']}: version digest flipped"


def corrupt_llm_index(root, res):
    op = next(o for o in res["ops"] if o["kind"] == "ivf")
    path = os.path.join(root, "out", "ops", f"{op['id']}.json")
    _rewrite_json(path, lambda out: out["rows"][3].__setitem__(2, out["rows"][3][2] * 0.999))
    return f"{op['id']}: one cosine score scaled"


def corrupt_stream_windows(root, res):
    d = res["facts"]["rounds"][0]["dir"]
    part = max(glob.glob(os.path.join(d, "tumble", "*.parquet")), key=os.path.getsize)
    t = pq.read_table(part)
    n = t.column("n").to_pylist()
    n[0] += 1
    pq.write_table(t.set_column(t.schema.get_field_index("n"), "n",
                                pa.array(n, t.schema.field("n").type)), part)
    return f"{os.path.basename(part)}: one window count off by one"


CORRUPT = {"read_sql": corrupt_read_sql, "table_commits": corrupt_table_commits,
           "llm_index": corrupt_llm_index, "stream_windows": corrupt_stream_windows}


def main():
    workloads = sys.argv[1:] or list(CORRUPT)
    failures = 0
    for w in workloads:
        before = set(glob.glob(os.path.join(run.BUILD, "runs", f"{w}-7-*")))
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                            "--seed", "7", "--seconds", "1", "--keep"],
                           stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
        root = (set(glob.glob(os.path.join(run.BUILD, "runs", f"{w}-7-*"))) - before).pop()
        try:
            if r.returncode != 0 or not json.loads(r.stdout.strip().splitlines()[-1])["correct"]:
                print(f"FAIL {w}: the untouched run did not pass\n{r.stderr[-2000:]}")
                failures += 1
                continue
            with open(os.path.join(root, "out", "result.json")) as f:
                res = json.load(f)
            what = CORRUPT[w](root, res)
            ok, problems, _ = check.check(w, root, res)
            if ok:
                print(f"FAIL {w}: corruption not detected ({what})")
                failures += 1
            else:
                print(f"ok   {w}: detected {what}: {problems[0][:160]}")
        finally:
            shutil.rmtree(root, ignore_errors=True)
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
