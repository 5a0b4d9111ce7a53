"""Benchmark entry point.

    python3 perfbench/run.py --workload bi_mix|llm_dedup|all \\
        --seed N --seconds S --trace 0|1 [session settings]

Generates the workload's inputs from the seed, runs the workload in a
fresh process (``child.py``), checks every output, prints a report
and, as the last line, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end metrics; with ``--trace 1`` the
per-layer metrics, taken from spans around the calls into each
layer and from the Spark event log. ``--workload all`` runs the three
workloads one after another and prints each report (no JSON line).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import checks, gen, tracing  # noqa: E402

WORKLOADS = ("bi_mix", "llm_dedup")
LLM_DOCS = 8_000
LLM_WARM_DOCS = 500
CHILD_TIMEOUT_S = 150

# (name, unit); the same on every workload. See perfbench/NOTES.md.
END_TO_END = [
    ("setup_s", "s"), ("success_share", "ratio"), ("recall", "ratio"),
    ("peak_rss_mb", "MB"), ("throughput_per_s", "1/s"),
    ("latency_p50_s", "s"), ("latency_p90_s", "s"),
]
OPERATOR_MODULES = [
    "relational", "events", "merge", "cdc", "dq", "nested",
    "dedup", "lshkern", "textclean", "textstats", "graph", "txtable",
]
EXEC_METRICS = [
    ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
    ("scheduler_delay_s", "s"), ("core_util", "ratio"), ("action_s", "s"),
    ("task_run_s", "s"), ("task_cpu_s", "s"), ("gc_s", "s"),
    ("shuffle_write_bytes", "bytes"), ("shuffle_read_bytes", "bytes"),
    ("spill_bytes", "bytes"), ("python_bytes_sent", "bytes"),
    ("python_bytes_returned", "bytes"),
]
EXEC_LAUNCHERS = ["bench", "queries", "sources"] + [f"operators.{m}" for m in OPERATOR_MODULES]
PER_LAYER = (
    [("session.get_spark_s", "s"), ("session.first_job_s", "s"),
     ("session.worker_warm_s", "s"),
     ("sources.load_table.calls", "count"), ("sources.load_table_s", "s"),
     ("scan.files", "count"), ("scan.input_bytes", "bytes"),
     ("scan.rows_per_output_row", "ratio"), ("queries.call_self_s", "s")]
    + [(f"operators.{m}.{k}", u) for m in OPERATOR_MODULES
       for k, u in (("call_s", "s"), ("eager_jobs", "count"))]
    + [("operators.dedup.lsh_candidates", "count"),
       ("operators.dedup.lsh_pairs_verified", "count"),
       ("operators.dedup.lsh_yield", "ratio")]
    + [(f"exec.{k}", u) for k, u in EXEC_METRICS]
    + [(f"exec.{layer}.{k}", u) for layer in EXEC_LAUNCHERS
       for k, u in (("jobs", "count"), ("action_s", "s"), ("task_run_s", "s"))]
    + [("operators.txtable.log_fold_s", "s"),
       ("operators.txtable.files_scanned_per_read", "count"),
       ("operators.txtable.files_skipped_ratio", "ratio"),
       ("operators.txtable.live_files", "count"),
       ("operators.txtable.bytes_written_per_changed_row", "bytes"),
       ("operators.txtable.maintain_s", "s"),
       ("operators.txtable.bytes_rewritten", "bytes"),
       ("operators.txtable.commit_conflicts", "count"),
       ("tx.read_p50_s", "s"), ("tx.read_p90_s", "s"),
       ("tx.bytes_per_live_row", "bytes"),
       ("trace.overhead_latency_p50_s", "s"),
       ("trace.overhead_throughput_per_s", "1/s")]
)


def pct(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (q in [0, 100])."""
    v = sorted(values)
    if len(v) == 1:
        return v[0]
    pos = (len(v) - 1) * q / 100
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


# ---------------------------------------------------------------------------
# inputs
# ---------------------------------------------------------------------------

def make_inputs(workload: str, seed: int, data: str):
    """Writes the inputs; returns (printed properties, checker truth)."""
    if workload == "bi_mix":
        return gen.gen_star(seed, data), None
    _, warm = gen.gen_corpus(seed + 1_000_003, os.path.join(data, "warm"), LLM_WARM_DOCS)
    props, corpus = gen.gen_corpus(seed, os.path.join(data, "corpus"), LLM_DOCS)
    return props, (warm, corpus)


# ---------------------------------------------------------------------------
# per-workload end-to-end figures and correctness
# ---------------------------------------------------------------------------

def check(workload: str, res: dict, data: str, out: str, truth) -> dict:
    """Correctness of every output the measuring process left behind."""
    if workload == "bi_mix":
        return checks.check_bi(data, out, res["oracles"], res["checked"])
    warm, corpus = truth
    batches = [o for w in res["windows"].values() for o in w["ops"]]
    return checks.check_corpus_table(warm, corpus, out, batches)


def evaluate(workload: str, res: dict, chk: dict, truth, window: str) -> dict:
    """Operations attempted/failed, the end-to-end figures of one
    measured window, and the report lines (per-workload metric names)."""
    w = res["windows"][window]
    if workload == "bi_mix":
        lat = [o["latency_s"] for o in w["ops"]]
        failed = sum(1 for o in w["ops"] if o["error"] or chk["verdict"][o["query"]])
        fig = {
            "throughput_per_s": len(w["ops"]) / w["wall_s"],
            "latency_p50_s": pct(lat, 50), "latency_p90_s": pct(lat, 90),
            "recall": chk["matched_rows"] / chk["expected_rows"],
        }
        report = {
            "bi.queries_per_s": (fig["throughput_per_s"], "queries/s"),
            "bi.latency_p50_s": (fig["latency_p50_s"], "s"),
            "bi.latency_p90_s": (fig["latency_p90_s"], "s"),
            "bi.samples": (len(lat), "count"),
        }
        problems = {q: v for q, v in chk["verdict"].items() if v}
        return dict(attempted=len(lat), failed=failed, fig=fig, report=report, problems=problems)
    corpus = truth[1]
    first = 0 if window == "plain" else len(res["windows"]["plain"]["ops"])
    ops = w["ops"]
    lat = [o["latency_s"] for o in ops]
    commits = [o["commit_s"] for o in ops if "commit_s" in o]
    reads = [o[k + "_s"] for o in ops for k in ("point", "agg", "tt") if k + "_s" in o]
    problems = {}
    for i in range(first, first + len(ops)):
        bad = {kind: msgs for kind, msgs in chk["problems"][i].items() if msgs}
        if bad:
            problems[i] = bad
    recalls = chk["recalls"][first:first + len(ops)]
    # each batch is four operations: the batch (through the merge) and three reads
    failed = sum(len(b) for b in problems.values())
    if chk["final"]:
        problems["final"] = chk["final"]
        failed = min(4 * len(ops), failed + 1)
    fig = {
        "throughput_per_s": len(corpus.docs) / statistics.median(lat),
        "latency_p50_s": pct(lat, 50), "latency_p90_s": pct(lat, 90),
        "recall": statistics.median(recalls) if recalls else 0.0,
    }
    report = {
        "llm.docs_per_s": (fig["throughput_per_s"], "docs/s"),
        "llm.near_dup_recall": (fig["recall"], "ratio"),
        "llm.batch_s": (fig["latency_p50_s"], "s"),
        "llm.batches": (len(lat), "count"),
        "tx.commit_p50_s": (pct(commits, 50) if commits else 0.0, "s"),
        "tx.commit_p90_s": (pct(commits, 90) if commits else 0.0, "s"),
        "tx.read_p50_s": (pct(reads, 50) if reads else 0.0, "s"),
        "tx.read_p90_s": (pct(reads, 90) if reads else 0.0, "s"),
        "tx.bytes_per_live_row": (res["table_bytes"] / res["live_rows"], "bytes"),
        # share of each merge's keys already in the table (input property)
        "tx.merge_key_overlap": (statistics.median(
            chk["merge_key_overlap"][first:first + len(ops)] or [0.0]), "ratio"),
    }
    return dict(attempted=4 * len(lat), failed=failed, fig=fig, report=report, problems=problems)


# ---------------------------------------------------------------------------
# per-layer figures (traced run)
# ---------------------------------------------------------------------------

def per_layer(workload: str, res: dict, chk: dict, work: str, plain: dict, traced: dict) -> dict:
    spans = tracing.self_times(res["spans"])
    engine = tracing.read_event_log(os.path.join(work, "eventlog"))
    wall = res["windows"]["traced"]["wall_s"]
    m = {
        "session.get_spark_s": res["get_spark_s"],
        "session.first_job_s": res["first_job_s"],
        "session.worker_warm_s": res["worker_warm_s"],
        "sources.load_table.calls": spans.get("sources.load_table", {}).get("calls", 0),
        "sources.load_table_s": spans.get("sources.load_table", {}).get("self_s", 0.0),
        "queries.call_self_s": spans.get("queries", {}).get("self_s", 0.0),
    }
    for mod in OPERATOR_MODULES:
        layer = f"operators.{mod}"
        m[f"{layer}.call_s"] = spans.get(layer, {}).get("self_s", 0.0)
        m[f"{layer}.eager_jobs"] = engine.get(layer, {}).get("jobs", 0)
    total = {k: sum(d.get(k, 0) for d in engine.values()) for k, _ in EXEC_METRICS}
    total["core_util"] = total["task_run_s"] / (wall * res["cores"])
    for k, _ in EXEC_METRICS:
        m[f"exec.{k}"] = total[k]
    for layer in EXEC_LAUNCHERS:
        for k in ("jobs", "action_s", "task_run_s"):
            m[f"exec.{layer}.{k}"] = engine.get(layer, {}).get(k, 0)
    m["scan.files"] = sum(d.get("files_read", 0) for d in engine.values())
    m["scan.input_bytes"] = sum(d.get("input_bytes", 0) for d in engine.values())
    rows_in = sum(d.get("input_rows", 0) for d in engine.values())
    rows_out = 0
    if workload == "bi_mix":
        rows_out = sum(chk["rows"][o["query"]] for o in res["windows"]["traced"]["ops"])
    m["scan.rows_per_output_row"] = rows_in / rows_out if rows_out else 0.0
    cand, ver = res.get("lsh_candidates", 0), res.get("lsh_pairs_verified", 0)
    m["operators.dedup.lsh_candidates"] = cand
    m["operators.dedup.lsh_pairs_verified"] = ver
    m["operators.dedup.lsh_yield"] = ver / cand if cand else 0.0

    batches = res["windows"]["traced"]["ops"] if workload == "llm_dedup" else []
    reads = [(o[k + "_files"], o[k + "_live_files"]) for o in batches
             for k in ("point", "agg", "tt") if k + "_files" in o]
    fold = spans.get("operators.txtable.read_table", {}).get("durations", [])
    maint = [o["maintain_s"] for o in batches if "maintain_s" in o]
    changed = res.get("live_rows", 0) * len(batches)
    m.update({
        "operators.txtable.log_fold_s": statistics.median(fold) if fold else 0.0,
        "operators.txtable.files_scanned_per_read":
            statistics.mean(f for f, _ in reads) if reads else 0.0,
        "operators.txtable.files_skipped_ratio":
            1 - sum(f for f, _ in reads) / sum(n for _, n in reads) if reads else 0.0,
        "operators.txtable.live_files": res.get("live_files", 0),
        "operators.txtable.bytes_written_per_changed_row":
            sum(o.get("written_bytes", 0) for o in batches) / changed if changed else 0.0,
        "operators.txtable.maintain_s": statistics.median(maint) if maint else 0.0,
        "operators.txtable.bytes_rewritten": sum(o.get("rewritten_bytes", 0) for o in batches),
        "operators.txtable.commit_conflicts": sum(
            1 for o in batches if "ConcurrentWriteError" in (o["error"] or "")),
        "tx.read_p50_s": traced["report"].get("tx.read_p50_s", (0.0,))[0],
        "tx.read_p90_s": traced["report"].get("tx.read_p90_s", (0.0,))[0],
        "tx.bytes_per_live_row": traced["report"].get("tx.bytes_per_live_row", (0.0,))[0],
        "trace.overhead_latency_p50_s":
            traced["fig"]["latency_p50_s"] - plain["fig"]["latency_p50_s"],
        "trace.overhead_throughput_per_s":
            traced["fig"]["throughput_per_s"] - plain["fig"]["throughput_per_s"],
    })
    return m


# ---------------------------------------------------------------------------
# entry point
# ---------------------------------------------------------------------------

def run_workload(args, workload: str) -> dict:
    work = os.path.join(ROOT, ".perfbench", f"{workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    os.makedirs(data)
    try:
        t0 = time.time()
        props, truth = make_inputs(workload, args.seed, data)
        t1 = time.time()
        print(f"[{workload}] seed={args.seed} inputs: {json.dumps(props)}", flush=True)
        cmd = [
            sys.executable, os.path.join(ROOT, "perfbench", "child.py"),
            "--workload", workload, "--work", work, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--master", args.master, "--driver-memory", args.driver_memory,
            "--shuffle-partitions", str(args.shuffle_partitions),
            "--arrow-batch", str(args.arrow_batch),
        ]
        log = os.path.join(work, "child.log")
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp)
        # Python workers import the package from the checkout; temporary
        # files stay inside the work directory
        path = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
        env = dict(os.environ, PYTHONPATH=path, TMPDIR=tmp)
        with open(log, "w") as f:
            cmd += ["--spawn-time", repr(time.time())]
            # own process group, so a timeout or an interrupt also stops the
            # JVM and its Python workers
            proc = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT, cwd=work,
                                    env=env, start_new_session=True)
            try:
                rc = proc.wait(timeout=CHILD_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                rc = "timeout"
            finally:
                if proc.poll() is None:
                    os.killpg(proc.pid, signal.SIGKILL)
                    proc.wait()
        if rc != 0:
            with open(log) as f:
                sys.stderr.write(f.read()[-4000:])
            raise RuntimeError(f"{workload}: measuring process ended with {rc}")
        t2 = time.time()
        with open(os.path.join(work, "result.json")) as f:
            res = json.load(f)
        chk = check(workload, res, data, os.path.join(work, "out"), truth)
        plain = evaluate(workload, res, chk, truth, "plain")
        result = {
            "correct": plain["failed"] == 0,
            "attempted": plain["attempted"],
            "failed": plain["failed"],
            "problems": plain["problems"],
            "fig": dict(plain["fig"], setup_s=res["setup_s"], peak_rss_mb=res["peak_rss_mb"],
                        success_share=1 - plain["failed"] / plain["attempted"]),
            "report": dict(plain["report"], setup_s=(res["setup_s"], "s"),
                           fail_share=(plain["failed"] / plain["attempted"], "ratio"),
                           peak_rss_mb=(res["peak_rss_mb"], "MB")),
        }
        result["stages"] = (f"inputs {t1 - t0:.1f} s, measuring process {t2 - t1:.1f} s "
                            f"(warm-up {res['warm_s']:.1f} s), checks {time.time() - t2:.1f} s")
        if args.trace:
            traced = evaluate(workload, res, chk, truth, "traced")
            result["attempted"] += traced["attempted"]
            result["failed"] += traced["failed"]
            result["correct"] = result["failed"] == 0
            result["layers"] = per_layer(workload, res, chk, work, plain, traced)
        return result
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run is using it
        except OSError:
            pass


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # session settings, pinned by BENCHMARK.json's command
    ap.add_argument("--master", default="local[4]")
    ap.add_argument("--driver-memory", default="2g")
    ap.add_argument("--shuffle-partitions", type=int, default=8)
    ap.add_argument("--arrow-batch", type=int, default=1024)
    args = ap.parse_args()
    # a terminated run still stops its measuring process (finally blocks)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, "bi_utils_spark", "session.py")):
        print("perfbench: the bi_utils_spark package is not in this checkout", file=sys.stderr)
        return 2
    for workload in WORKLOADS if args.workload == "all" else (args.workload,):
        r = run_workload(args, workload)
        for name, (value, unit) in r["report"].items():
            print(f"[{workload}] {name} = {value:.6g} {unit}")
        print(f"[{workload}] stages: {r['stages']}")
        if r["problems"]:
            print(f"[{workload}] problems: {json.dumps(r['problems'])[:2000]}")
    if args.workload == "all":
        return 0
    names = PER_LAYER if args.trace else END_TO_END
    values = r["layers"] if args.trace else r["fig"]
    if args.trace:
        for name, unit in PER_LAYER:
            print(f"[{workload}] {name} = {values[name]:.6g} {unit}")
    print(json.dumps({
        "correct": r["correct"], "attempted": r["attempted"], "failed": r["failed"],
        "metrics": {n: {"value": values[n], "unit": u} for n, u in names},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
