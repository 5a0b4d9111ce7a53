"""One workload in a fresh process: set up the session, warm up,
measure, and write what was measured to ``<work>/result.json``.

Run by ``run.py``; the parent generates the inputs before and checks
the outputs after, so neither counts toward the figures here.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import tracing  # noqa: E402
from perfbench.gen import NEAR_DUP_THRESHOLD  # noqa: E402

# q_session_windows stands in for q_sessionize, which gives wrong
# sessions on most seeds (see NOTES.md, known gaps)
BI_MIX = [
    "q_pricing_summary", "q_shipping_priority", "q_revenue_by_nation", "q_top_suppliers",
    "q_latest_event_per_user", "q_flatten_lineitems", "q_merge_upsert",
    "q_session_windows", "q_funnel", "q_cdc_apply", "q_dq_report",
    "q_warehouse_pipeline", "q_profile_orders",
]


def _vmhwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Ctx:
    def __init__(self, args, spark, tracer):
        self.args = args
        self.spark = spark
        self.tracer = tracer
        self.data = os.path.join(args.work, "data")
        self.out = os.path.join(args.work, "out")
        os.makedirs(self.out, exist_ok=True)

    def windows(self):
        """The measured windows: one untraced; in a traced run a second,
        traced one, so the difference is the tracing overhead."""
        yield "plain"
        if self.args.trace:
            self.tracer.enabled = True
            yield "traced"
            self.tracer.enabled = False

    def op(self, op_id):
        self.tracer.op = op_id
        return self.tracer.span("operation", "bench")


# ---------------------------------------------------------------------------
# bi_mix: closed loop, one client, fixed ordered query mix
# ---------------------------------------------------------------------------

def bi_mix(ctx: Ctx, registry) -> dict:
    spark, queries = ctx.spark, registry.QUERIES
    if ctx.args.trace:
        tracing.wrap_queries(ctx.tracer, queries)
    # warm-up pass, which also writes each output for the oracle check
    checked = {}
    t0 = time.perf_counter()
    for q in BI_MIX:
        try:
            queries[q](spark, ctx.data).write.mode("overwrite").parquet(f"{ctx.out}/{q}")
            checked[q] = None
        except Exception as e:  # noqa: BLE001 - a failing query is a counted failure
            checked[q] = f"{type(e).__name__}: {e}"[:500]
    warm_s = time.perf_counter() - t0
    windows = {}
    for window in ctx.windows():
        ops = []
        start = time.perf_counter()
        n = 0
        while n == 0 or time.perf_counter() - start < ctx.args.seconds:
            n += 1
            for q in BI_MIX:
                rec = {"query": q, "error": None}
                with ctx.op(len(ops)):
                    t0 = time.perf_counter()
                    try:
                        df = queries[q](spark, ctx.data)
                        t1 = time.perf_counter()
                        with ctx.tracer.span("noop_write", "bench"):
                            df.write.format("noop").mode("overwrite").save()
                    except Exception as e:  # noqa: BLE001
                        rec["error"] = f"{type(e).__name__}: {e}"[:500]
                        t1 = time.perf_counter()
                    t2 = time.perf_counter()
                rec.update(call_s=t1 - t0, action_s=t2 - t1, latency_s=t2 - t0)
                ops.append(rec)
        windows[window] = {"ops": ops, "wall_s": time.perf_counter() - start}
    return {"checked": checked, "windows": windows, "warm_s": warm_s,
            "oracles": {q: registry.ORACLES[q] for q in BI_MIX}}


# ---------------------------------------------------------------------------
# llm_dedup: batch pipeline over the corpus; the survivors land in a
# transactional corpus table, which is then read three ways
# ---------------------------------------------------------------------------

CORPUS_BUCKETS = 8  # corpus table partitions (bucket = doc_id % 8)


def _dir_bytes(path: str) -> tuple[int, set[str]]:
    total, names = 0, set()
    for root, _, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            names.add(p)
            total += os.path.getsize(p)
    return total, names


def _llm_batch(ctx: Ctx, corpus_dir: str, out: str, table: str, rec: dict) -> None:
    """Clean, exact-dedup, near-dedup, score, write the batch as
    parquet, then MERGE it into the corpus table."""
    from pyspark.sql import functions as F

    from bi_utils_spark.operators import dedup, graph, textclean, textstats
    from bi_utils_spark.operators import txtable as tx
    from bi_utils_spark.sources.tables import load_table

    spark, tracer, trace = ctx.spark, ctx.tracer, ctx.args.trace
    docs = load_table(spark, corpus_dir, "docs").select(
        "doc_id", textclean.clean_text("text").alias("text"))
    exact = dedup.dedup_exact(docs, ["text"], "doc_id")
    pairs = dedup.minhash_near_dup_join(exact, "doc_id", "text", threshold=NEAR_DUP_THRESHOLD)
    with tracer.span("pairs_write", "bench"):
        pairs.write.mode("overwrite").parquet(f"{out}/pairs.parquet")
    kept = graph.dedup_near_canonical(exact, load_table(spark, out, "pairs"), "doc_id")
    losers = exact.select("doc_id").join(kept.select("doc_id"), "doc_id", "left_anti")
    batch = kept.select(
        "doc_id",
        (F.col("doc_id") % CORPUS_BUCKETS).alias("bucket"),
        textstats.language_id("text").alias("lang"),
        textstats.quality_score("text").alias("quality"),
        textstats.token_count("text").alias("n_tokens"),
        F.length("text").alias("n_chars"),
        F.lit(False).alias("del"),
    ).unionByName(losers.select(
        "doc_id", (F.col("doc_id") % CORPUS_BUCKETS).alias("bucket"),
        F.lit(None).cast("string").alias("lang"),
        F.lit(None).cast("double").alias("quality"),
        F.lit(None).cast("int").alias("n_tokens"),
        F.lit(None).cast("int").alias("n_chars"),
        F.lit(True).alias("del"),
    ))
    with tracer.span("batch_write", "bench"):
        batch.write.mode("overwrite").parquet(f"{out}/batch.parquet")
    # the landed batch is merged into the corpus table: survivors
    # upserted, near-dup losers deleted
    source = load_table(spark, out, "batch")
    before = _dir_bytes(table)[0] if trace else 0
    t0 = time.perf_counter()
    if tx.latest_version(table) < 0:
        tx.create_table(source.where(~F.col("del")).drop("del"), table,
                        partition_cols=["bucket"])
    else:
        tx.merge_tx_table(spark, table, source, ["doc_id"], delete_col="del")
    rec["commit_s"] = time.perf_counter() - t0
    if trace:
        rec["written_bytes"] = _dir_bytes(table)[0] - before
        files_before = _dir_bytes(table)[1]
    t1 = time.perf_counter()
    tx.maintain_table(spark, table, retain_versions=3)
    rec["maintain_s"] = time.perf_counter() - t1
    if trace:
        rec["rewritten_bytes"] = sum(
            os.path.getsize(p) for p in _dir_bytes(table)[1] - files_before)


def _tx_reads(ctx: Ctx, table: str, key: int, prev_version: int, rec: dict) -> None:
    """Point lookup, aggregate at the latest version, and a
    time-travel aggregate at the version before the batch."""
    from pyspark.sql import functions as F

    from bi_utils_spark.operators import txtable as tx

    spark = ctx.spark

    def agg(df):
        return [tuple(r) for r in df.agg(
            F.count(F.lit(1)).alias("n"), F.sum("n_tokens").alias("tokens")).collect()]

    reads = [
        ("point", lambda: tx.read_table(spark, table, where=f"doc_id = {key}"),
         lambda df: [tuple(r) for r in df.select("doc_id", "n_tokens", "n_chars").collect()]),
        ("agg", lambda: tx.read_table(spark, table), agg),
        ("tt", lambda: tx.read_table(spark, table, version=prev_version), agg),
    ]
    for kind, build, run in reads:
        with ctx.tracer.span(kind + "_read", "bench"):
            t0 = time.perf_counter()
            try:
                df = build()
                if ctx.args.trace:
                    rec[kind + "_files"] = len(df.inputFiles())
                rec[kind] = run(df)
            except Exception as e:  # noqa: BLE001 - a failing read is a counted failure
                rec[kind] = None
                rec["read_error"] = f"{kind}: {type(e).__name__}: {e}"[:500]
            rec[kind + "_s"] = time.perf_counter() - t0
    if ctx.args.trace:
        for kind, v in (("point", None), ("agg", None), ("tt", prev_version)):
            rec[kind + "_live_files"] = tx.table_stats(table, version=v)["num_files"]


def llm_dedup(ctx: Ctx, registry) -> dict:
    import random

    from bi_utils_spark.operators import txtable as tx

    import pyarrow.parquet as pq

    rng = random.Random(ctx.args.seed)
    corpus = os.path.join(ctx.data, "corpus")
    n_docs = pq.read_metadata(f"{corpus}/docs.parquet").num_rows
    table = os.path.join(ctx.out, "corpus_table")
    t0 = time.perf_counter()
    _llm_batch(ctx, os.path.join(ctx.data, "warm"), os.path.join(ctx.out, "warm"), table, {})
    warm_s = time.perf_counter() - t0
    windows = {}
    for window in ctx.windows():
        ops = []
        start = time.perf_counter()
        while not ops or time.perf_counter() - start < ctx.args.seconds:
            out = os.path.join(ctx.out, f"{window}_{len(ops)}")
            prev = tx.latest_version(table)
            rec = {"out": out, "error": None}
            with ctx.op(len(ops)):
                t0 = time.perf_counter()
                try:
                    _llm_batch(ctx, corpus, out, table, rec)
                except Exception as e:  # noqa: BLE001
                    rec["error"] = f"{type(e).__name__}: {e}"[:500]
                rec["latency_s"] = time.perf_counter() - t0
                if rec["error"] is None:
                    rec["point_key"] = rng.randrange(0, n_docs)
                    _tx_reads(ctx, table, rec["point_key"], prev, rec)
            ops.append(rec)
        windows[window] = {"ops": ops, "wall_s": time.perf_counter() - start}
    st = tx.table_stats(table)
    res = {"windows": windows, "warm_s": warm_s, "table_bytes": _dir_bytes(table)[0], "live_rows": st["num_rows"],
           "live_files": st["num_files"]}
    tx.read_table(ctx.spark, table).write.mode("overwrite").parquet(f"{ctx.out}/final")
    if ctx.args.trace:
        # LSH work counts, re-derived outside the measured windows from
        # the frames the traced calls returned
        cands = ctx.tracer.values.get("bi_utils_spark.operators.dedup.minhash_candidates", [])
        pairs = ctx.tracer.values.get("bi_utils_spark.operators.dedup.minhash_near_dup_join", [])
        if cands and pairs:
            res["lsh_candidates"] = cands[-1].count()
            res["lsh_pairs_verified"] = pairs[-1].count()
    return res


WORKLOADS = {"bi_mix": bi_mix, "llm_dedup": llm_dedup}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--work", required=True)
    ap.add_argument("--spawn-time", type=float, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--master", required=True)
    ap.add_argument("--driver-memory", required=True)
    ap.add_argument("--shuffle-partitions", type=int, required=True)
    ap.add_argument("--arrow-batch", required=True)
    args = ap.parse_args()

    from bi_utils_spark.session import get_spark

    conf = {
        "spark.driver.memory": args.driver_memory,
        "spark.sql.execution.arrow.maxRecordsPerBatch": args.arrow_batch,
        "spark.local.dir": os.path.join(args.work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(args.work, "warehouse"),
        # heap pinned and touched at its maximum, so resident memory does
        # not depend on when the collector chose to grow or touch the heap
        "spark.driver.extraJavaOptions":
            f"-Xms{args.driver_memory} -XX:+AlwaysPreTouch "
            f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
    }
    if args.trace:
        log_dir = os.path.join(args.work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true", "spark.eventLog.dir": log_dir,
            # one plain JSON-lines file, read back after the session stops
            "spark.eventLog.compress": "false", "spark.eventLog.rolling.enabled": "false",
        })
    t0 = time.time()
    spark = get_spark(
        app_name=f"perfbench-{args.workload}", master=args.master,
        shuffle_partitions=args.shuffle_partitions, extra_conf=conf,
    )
    t1 = time.time()
    spark.range(1000).selectExpr("sum(id)").collect()
    t2 = time.time()
    sc = spark.sparkContext
    cores = sc.defaultParallelism
    # tasks overlap for a moment, so every core gets its own worker
    sc.parallelize(range(cores), cores).foreach(lambda _: time.sleep(0.2))
    t3 = time.time()
    tracer = tracing.Tracer(sc)
    if args.trace:
        tracing.install(tracer, keep={
            "bi_utils_spark.operators.dedup.minhash_candidates",
            "bi_utils_spark.operators.dedup.minhash_near_dup_join",
        })
    import bi_utils_spark.entry_queries as registry

    t4 = time.time()
    result = {
        "setup_s": t4 - args.spawn_time,
        "get_spark_s": t1 - t0,
        "first_job_s": t2 - t1,
        "worker_warm_s": t3 - t2,
        "cores": cores,
    }
    result.update(WORKLOADS[args.workload](Ctx(args, spark, tracer), registry))
    result["peak_rss_mb"] = _vmhwm_mb(sc._gateway.proc.pid) + _vmhwm_mb(os.getpid())
    result["spans"] = tracer.spans
    jvm = sc._gateway.proc
    spark.stop()
    with open(os.path.join(args.work, "result.json"), "w") as f:
        json.dump(result, f, default=str)
    # the gateway JVM exits when its stdin closes; wait for it, so it ends
    # (and is reaped) before this process does
    jvm.stdin.close()
    try:
        jvm.wait(timeout=30)
    except subprocess.TimeoutExpired:
        jvm.kill()
        jvm.wait()
    return 0


if __name__ == "__main__":
    sys.exit(main())
