#!/usr/bin/env python
"""Where the one-task persisted-LSH knn stops paying: the evidence for
``similarity._LSH_ONE_TASK_BYTES``.

``lsh_index_query`` picks between two plans with a byte gate on the probed
``(tbl, bucket)`` directories plus the tombstone set: ONE task that scores
the candidates with the numpy cosine twins, or the distributed broadcast
bucket join with a window top-k. This script times both plans on the same
batches over a grid of index sizes (``N`` vectors) and batch sizes (``R``
query rows), checks that they return the same rows, and records, per point:

  * ``probed_bytes``: the gate's own measure for that batch
    (``similarity._lsh_probed_bytes``);
  * ``one_ms`` / ``dist_ms``: wall time of build + collect per call, the
    two plans interleaved in random order, after one warm-up call;
  * ``worker_hwm_mb``: the largest peak RSS (``VmHWM``) of any PySpark
    worker process so far. Workers are reused, so this is cumulative;
    points run in ascending ``N`` so it tracks the largest scan yet.

The index shape is ``index_serve``'s (64-dim float vectors, 2 tables x 4
planes, ``probe_bits=1``, k=10, three tombstoned ids); only its size
grows.

    python scripts/lsh_gate_crossover.py [out.json] \\
        [--points 600:4,10000:1,...] [--reps 3]
    # honors SPARK_GRAFT_CPUS (default 4)
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import random
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DEFAULT_POINTS = (
    "600:4,10000:1,10000:4,20000:32,20000:128,40000:1,40000:4,"
    "80000:1,80000:4,160000:1,160000:4"
)


def _worker_hwm_mb() -> int | None:
    """Largest VmHWM of the running PySpark worker processes, in MB."""
    out = []
    for status in glob.glob("/proc/[0-9]*/status"):
        try:
            cmd = open(status[: -len("status")] + "cmdline").read()
            txt = open(status).read()
        except OSError:
            continue
        if "pyspark.daemon" in cmd and "VmHWM:" in txt:
            out.append(int(txt.split("VmHWM:")[1].split()[0]) // 1024)
    return max(out) if out else None


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("out", nargs="?", default="LSH_GATE_CROSSOVER.json")
    ap.add_argument("--points", default=DEFAULT_POINTS,
                    help="comma-separated N:R pairs (index vectors:batch rows)")
    ap.add_argument("--reps", type=int, default=3)
    args = ap.parse_args()
    points = sorted(tuple(map(int, p.split(":"))) for p in args.points.split(","))

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from wiki_mysql_spark.operators import similarity as S
    from wiki_mysql_spark.session import RUNTIME_CONFS, configure

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "4")
    b = (SparkSession.builder.master(f"local[{cpus}]")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.driver.memory", "2g"))
    for k, v in RUNTIME_CONFS.items():
        b = b.config(k, v)
    spark = configure(b.getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    rng = random.Random(7)
    work = tempfile.mkdtemp(prefix="lsh_gate_")
    results = []
    try:
        for n in sorted({n for n, _ in points}):
            root = f"{work}/idx_{n}"
            corpus = spark.range(n).select(
                F.col("id").alias("vec_id"),
                F.array(*[F.randn(1000 + j).cast("float") for j in range(64)])
                .alias("embedding"),
            )
            S.lsh_index_build(corpus, root, dim=64, n_planes=4, n_tables=2)
            S.lsh_index_delete(spark, root, [1, 2, 3])
            S._FS_BYTES_CACHE.clear()
            pool = [[float(x) for x in r[1]]
                    for r in corpus.where(F.col("vec_id") < 200).collect()]
            meta = S._index_header(spark, S._LSH_INDEX, root)
            for _, r_rows in [p for p in points if p[0] == n]:
                times = {"one": [], "dist": []}
                size = None
                for rep in range(args.reps + 1):
                    ids = rng.sample(range(len(pool)), r_rows)
                    q = spark.createDataFrame(
                        [((1 << 40) + i, pool[i]) for i in ids],
                        "vec_id long, embedding array<float>")
                    rows = {}
                    for plan in rng.sample(["one", "dist"], 2):
                        # the gate forced open ("one") or shut ("dist")
                        bound = 1 << 62 if plan == "one" else 0
                        kept, S._LSH_ONE_TASK_BYTES = S._LSH_ONE_TASK_BYTES, bound
                        t0 = time.perf_counter()
                        try:
                            res = S.lsh_index_query(spark, root, q, k=10,
                                                    probe_bits=1)
                            rows[plan] = sorted(map(tuple, res.collect()))
                        finally:
                            S._LSH_ONE_TASK_BYTES = kept
                        one = "MapInArrow" in (
                            res._jdf.queryExecution().optimizedPlan().toString())
                        if one != (plan == "one"):
                            raise SystemExit(f"{plan} plan not taken at N={n}")
                        if rep:
                            times[plan].append(time.perf_counter() - t0)
                    if rows["one"] != rows["dist"]:
                        raise SystemExit(f"plans disagree at N={n} R={r_rows}")
                    if size is None:
                        probe = S._lsh_probe_side(spark, q, S._lsh_tables(meta),
                                                  1, "vec_id", "embedding")
                        size = S._lsh_probed_bytes(spark, root, probe)
                rec = {
                    "N": n, "R": r_rows, "probed_bytes": size,
                    "one_ms": [round(1000 * t) for t in times["one"]],
                    "dist_ms": [round(1000 * t) for t in times["dist"]],
                    "one_p50_ms": round(1000 * statistics.median(times["one"])),
                    "dist_p50_ms": round(1000 * statistics.median(times["dist"])),
                    "worker_hwm_mb": _worker_hwm_mb(),
                }
                print(json.dumps(rec), flush=True)
                results.append(rec)
            shutil.rmtree(root, ignore_errors=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(args.out, "w") as f:
        json.dump({"cpus": int(cpus), "reps": args.reps, "points": results},
                  f, indent=1)
    print(f"wrote {args.out}")


if __name__ == "__main__":
    main()
