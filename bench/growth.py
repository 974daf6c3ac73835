#!/usr/bin/env python
"""Data-growth study: the same operators at 1× and k× data.

Protocol: the fact tables of the input dir are replicated k× with key
shifts (``replicate``), every op is warmed up once at 1×, then for each
scale the op's ``count()`` gives its rows and the best of two noop-sink
writes gives its wall (``count()`` alone lets Catalyst prune unconsumed
expressions). Linear pipelines grow wall ≈k×; an all-pairs regression
shows ≈k²×.

``replicate`` writes documents, events, embeddings, orders and lineitem
as k key-shifted replicas in 8·k files (scan parallelism caps at the
file count, so it must grow with the data) and copies the five dims
(region, nation, customer, supplier, part) unreplicated: dims grow much
slower than facts, which is the shape broadcast joins rely on. Per
replica i:

- documents: ``doc_id`` + 10·n·i, text gets `` rep{i}`` appended, so
  dedup clusters repeat per replica instead of collapsing;
- events: ``event_id`` + 10·n·i, ``user_id`` + 10M·i;
- embeddings: ``vec_id`` + 10·n·i, ``label`` + 100k·i;
- orders and lineitem: ``o_orderkey``/``l_orderkey`` + 10·n_orders·i.

Key overlaps that survive replication: orders↔lineitem (both order keys
shift alike) and orders↔customer (``o_custkey`` does not shift and the
customers are copied). ``events.user_id``↔``orders.o_custkey`` does NOT
survive beyond replica 0: ``user_id`` shifts by 10M and ``o_custkey``
does not shift.

The input dir is the driver bench's ``SPARK_GRAFT_SF_DIR``. Run pinned,
nothing else on Spark; it refuses to start above ``MAX_LOADAVG``:
    taskset -c 0-7 python bench/growth.py --ops a,b,c --scales 1,4 \\
        --out BENCH/<name>.json
BENCH/README.md gives the command behind each committed growth JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [REPO, os.path.join(REPO, "src")]

from bench import SF_DIR  # noqa: E402

MASTER = "local[8]"
SHUFFLE_PARTITIONS = 32
BEST_OF = 2
# 1-minute loadavg bound at start; the end load is recorded, not gated,
# because the harness's own local[8] work raises it on a small host.
MAX_LOADAVG = 4.0
SCRATCH = "/tmp/ocrflow_growth"
STATIC_TABLES = ("region", "nation", "customer", "supplier", "part")


def replicate(spark, sf_dir: str, k: int, out_dir: str) -> str:
    from pyspark.sql import functions as F

    os.makedirs(out_dir, exist_ok=True)

    def write(name, parts):
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        df.repartition(8 * k).write.mode("overwrite").parquet(
            os.path.join(out_dir, f"{name}.parquet"))

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n = docs.count()
    write("documents", [docs.select(
        (F.col("doc_id") + i * 10 * n).alias("doc_id"),
        F.when(F.lit(i) == 0, F.col("text"))
         .otherwise(F.concat_ws(" ", "text", F.lit(f"rep{i}"))).alias("text"),
        "lang", "source", "n_chars") for i in range(k)])

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ne = ev.count()
    write("events", [ev.select(
        (F.col("event_id") + i * 10 * ne).alias("event_id"), "ts",
        (F.col("user_id") + i * 10_000_000).alias("user_id"),
        "event_type", "value", "props") for i in range(k)])

    em = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    nv = em.count()
    write("embeddings", [em.select(
        (F.col("vec_id") + i * 10 * nv).alias("vec_id"), "embedding",
        (F.col("label") + i * 100_000).alias("label")) for i in range(k)])

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    no = orders.count()
    write("orders", [orders.select(
        (F.col("o_orderkey") + i * 10 * no).alias("o_orderkey"),
        "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
        "o_orderpriority") for i in range(k)])

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    cols = [c for c in li.columns if c != "l_orderkey"]
    write("lineitem", [li.select(
        (F.col("l_orderkey") + i * 10 * no).alias("l_orderkey"), *cols)
        for i in range(k)])

    for name in STATIC_TABLES:
        src = f"{sf_dir}/{name}.parquet"
        dst = os.path.join(out_dir, f"{name}.parquet")
        if os.path.isdir(src):
            shutil.copytree(src, dst, dirs_exist_ok=True)
        else:
            shutil.copy2(src, dst)
    return out_dir


def _sink(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--ops", required=True, help="comma-separated op keys")
    ap.add_argument("--scales", default="1,4",
                    help="comma-separated replication factors, including 1")
    ap.add_argument("--out", required=True, help="JSON path to write")
    args = ap.parse_args(argv)
    ops = args.ops.split(",")
    scales = [int(s) for s in args.scales.split(",")]
    if 1 not in scales:
        ap.error("--scales must include 1 (the warm-up and growth base)")

    load = os.getloadavg()
    if load[0] > MAX_LOADAVG:
        sys.exit(f"1-minute loadavg {load[0]:.2f} > {MAX_LOADAVG}: "
                 "refusing to start; nothing written")

    import ocrflow.dataops  # noqa: F401
    import ocrflow.multimodal  # noqa: F401
    from ocrflow.queries import QUERIES
    from ocrflow.session import build_session

    unknown = [op for op in ops if op not in QUERIES]
    if unknown:
        ap.error(f"unknown ops: {','.join(unknown)}")

    spark = build_session(master=MASTER, shuffle_partitions=SHUFFLE_PARTITIONS)
    spark.sparkContext.setLogLevel("ERROR")
    shutil.rmtree(SCRATCH, ignore_errors=True)
    dirs = {k: replicate(spark, SF_DIR, k, os.path.join(SCRATCH, f"x{k}"))
            for k in scales}
    results: dict = {
        "sf_dir": SF_DIR, "loadavg": load,
        "protocol": f"{MASTER}, {SHUFFLE_PARTITIONS} shuffle partitions, "
                    f"noop sink, best-of-{BEST_OF}, facts replicated into "
                    "8k files (dims static)",
        "ops": {}}

    for op in ops:                        # warm-up: JIT + python workers
        _sink(QUERIES[op](spark, dirs[1]))

    for op in ops:
        fn = QUERIES[op]
        rec = {}
        for k in scales:
            rec[f"rows_{k}x"] = fn(spark, dirs[k]).count()
            best = float("inf")
            for _ in range(BEST_OF):
                t0 = time.perf_counter()
                _sink(fn(spark, dirs[k]))
                best = min(best, time.perf_counter() - t0)
            rec[f"wall_{k}x_s"] = round(best, 3)
        base = rec["wall_1x_s"]
        for k in scales:
            if k != 1:
                rec[f"wall_growth_{k}x"] = (
                    round(rec[f"wall_{k}x_s"] / base, 2) if base > 0 else None)
        results["ops"][op] = rec
        print(op, rec, flush=True)

    results["loadavg_end"] = os.getloadavg()
    spark.stop()
    with open(args.out, "w") as fh:
        json.dump(results, fh, indent=1)
    print("wrote", args.out, flush=True)


if __name__ == "__main__":
    main()
