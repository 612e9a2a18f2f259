"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload extract --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. The engine runs at local[nproc]; this
process is its only client and runs one operation at a time (a closed
loop). Inputs are generated from the seed (perfbench/inputs.py). After
set-up, timed passes repeat until ``--seconds`` have elapsed (at least
one pass); the output checks then run outside the timed window.

The last stdout line is {"correct", "attempted", "failed", "metrics"}:
with ``--trace 0`` the end-to-end metrics, with ``--trace 1`` the
per-layer metrics of a separate traced run. A line before it repeats
the workload's figures under the names perfbench/README.md uses, and a
JSON artifact (passes, per-op walls, interference, input digests, checks,
spans) is written under .perfbench/results/.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: (name, unit, better) — the end-to-end metrics, printed by every run
#: with --trace 0 (see BENCHMARK.json for their bounds)
END_TO_END = (
    ("wall_s", "s", "lower"),
    ("op_geomean_s", "s", "lower"),
    ("setup_s", "s", "lower"),
)

_KERNEL = (
    "kernel.extract_batch_s", "kernel.self_s",
    "htmlx.extract_words_columnar_s", "pdfstream.decode_s",
    "pdfstream.page_word_records_s", "assembly.assemble_pages_arrays_s",
    "assembly.page_confidence_arrays_s", "assembly.word_counts_arrays_s",
    "arrow.emit_s",
    "kernel.docs_html", "kernel.docs_pdf", "kernel.docs_rejected",
    "kernel.docs_error", "kernel.docs_empty", "kernel.pages", "kernel.words",
    "arrow.emit_bytes",
)
_SPARK = (
    "spark.executor_run_s", "spark.executor_cpu_s", "spark.jvm_gc_s",
    "spark.tasks", "spark.task_skew", "spark.input_records",
    "spark.input_bytes", "spark.shuffle_write_bytes",
    "spark.shuffle_read_bytes", "spark.spill_bytes", "extract.kernel_share",
)
_DRIVER = ("driver.plan_s", "driver.action_s", "driver.coverage")
_COMMIT = (
    "commit.run_s", "commit.kernel_task_s", "commit.pending_days",
    "commit.skipped_days", "commit.bytes_written", "commit.files_written",
)
_CURATE = (
    "dedup.dedup_corpus_s", "dedup.simhash_pairs_multi_index_s",
    "dedup.ngram_jaccard_pairs_s", "similarity.semantic_dedup_s",
    "dsir.dsir_importance_s", "incremental.dedup_incremental_s",
    "dedup.kept", "dedup.lsh_cand_pairs", "dedup.verified_pairs",
    "dedup.verify_yield", "simhash.pairs", "ngram_jaccard.pairs",
    "semantic_dedup.kept", "dsir.kept", "incremental.kept",
    "curate.input_bytes",
)
_QUERIES = (
    "queries.dedup_s", "queries.incremental_s", "queries.similarity_s",
    "queries.dsir_s", "queries.pdf_bridge_s", "queries.relational_s",
    "queries.textstats_s", "queries.multimodal_s", "queries.asof_s",
    "queries.input_bytes",
)
_HOST = ("trace.overhead_s", "host.steal_frac", "host.load1")


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if "bytes" in name:
        return "bytes"
    if name in ("host.load1",):
        return "load"
    if name.endswith(("_share", "_yield", "_skew", "_frac", ".coverage")):
        return "ratio"
    return "count"


#: (name, unit) — the per-layer metrics, printed by every --trace 1 run;
#: a layer the workload does not exercise reads 0
PER_LAYER = tuple(
    (n, _unit(n))
    for n in _KERNEL + _SPARK + _DRIVER + _COMMIT + _CURATE + _QUERIES + _HOST
)


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("extract", "commit", "curate"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full",
                   help="input sizes (tiny: the self-test's smoke size)")
    return p.parse_args(argv)


def _environment(work: str) -> None:
    """Keep every file the engine writes inside ``work``; workers import
    the engine from the checkout. Runs in one checkout are sequential, so
    each starts by clearing the previous run's scratch directories."""
    for d in ("tmp", "spark-local", "checkpoints", "warehouse", "run"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    for d in ("tmp", "spark-local", "checkpoints", "warehouse", "results"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # no /tmp/hsperfdata_<user> files from the launcher or driver JVM
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        [os.environ.get("JAVA_TOOL_OPTIONS", ""), "-XX:-UsePerfData"]).strip()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    import tempfile

    tempfile.tempdir = None


def _session(work: str, nproc: int):
    from tesseract_ocr_service_spark.operators.extract import session_builder

    spark = (
        session_builder(app="perfbench", master=f"local[{nproc}]",
                        shuffle_partitions=2 * nproc)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "2g")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(os.path.join(work, "checkpoints"))
    return spark


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _shutdown(spark, pids: list[int]) -> None:
    """Stop Spark, end the JVM and wait until every process this run
    started (JVM, Python daemon and workers) has exited."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    try:
        gateway.shutdown()
    except Exception:  # already closed by stop()
        pass
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while any(_alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in pids:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass
    while any(_alive(p) for p in pids):
        time.sleep(0.1)


def main(argv=None) -> int:
    args = _parse(argv)
    if not (os.path.isdir(os.path.join(ROOT, "tesseract_ocr_service_spark"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print(f"perfbench: no engine sources under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench")
    _environment(work)

    from perfbench import inputs, tracing
    from perfbench import workloads as W

    nproc = len(os.sched_getaffinity(0))
    t = time.perf_counter()
    manifest = inputs.build(work, args.seed, args.scale)
    gen_s = time.perf_counter() - t

    t = time.perf_counter()
    spark = _session(work, nproc)
    boot_s = time.perf_counter() - t
    tracer = tracing.Tracer(enabled=bool(args.trace))
    status = tracing.SparkStatus(spark) if args.trace else None
    ctx = W.Ctx(spark, tracer, status, manifest, work, nproc)
    wl = W.WORKLOADS[args.workload](ctx)
    passes, checks, attempted, failed = [], [], 0, 0
    layers, pids = {}, []
    try:
        with tracer.span("phase.setup"):
            t = time.perf_counter()
            wl.setup()
            setup_s = boot_s + time.perf_counter() - t
        ctx.spark_tot.clear()  # stages run by set-up are not measured

        start = time.perf_counter()
        while not passes or time.perf_counter() - start < args.seconds:
            wl.prepare()
            with tracing.PassMeter() as itf, tracer.span("phase.pass"):
                t = time.perf_counter()
                try:
                    ops = wl.run_pass()
                except Exception:
                    traceback.print_exc()
                    attempted += 1
                    failed += 1
                    break
                wall = time.perf_counter() - t
            attempted += len(ops)
            ctx.ops.extend(ops)
            passes.append({"wall_s": wall, "ops": ops, **itf.record()})
        ctx.n_passes = max(1, len(passes))

        with tracer.span("phase.check"):
            try:
                checks = wl.check()
            except Exception:
                traceback.print_exc()
                checks = [("check", False, "raised")]
        attempted += len(checks)
        failed += sum(1 for _, ok, _ in checks if not ok)

        if args.trace and passes:
            with tracer.span("phase.layers"):
                layers = _layers(wl, ctx, passes, _stem(work, args, 0))
        pids = tracing.descendants(os.getpid())
        rss = tracing.vm_hwm_mb([os.getpid()] + pids)
    finally:
        _shutdown(spark, pids or tracing.descendants(os.getpid()))

    if not passes:
        print("perfbench: no timed pass completed", file=sys.stderr)
        return 1

    e2e = {
        "wall_s": statistics.median([p["wall_s"] for p in passes]),
        "cpu_s": statistics.median([p["cpu_s"] for p in passes]),
        "op_geomean_s": statistics.median(
            [W.geomean([o["wall_s"] for o in p["ops"]]) for p in passes]),
        "setup_s": setup_s,
        "docs_per_s": statistics.median(
            [wl.docs / wl.main_wall(p["ops"]) for p in passes]),
        "peak_rss_mb": rss,
    }
    named = _named(args.workload, passes, e2e, failed, attempted)
    if args.trace:
        metrics = {n: {"value": float(layers.get(n, 0.0)), "unit": u}
                   for n, u in PER_LAYER}
    else:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u, _ in END_TO_END}
    artifact = {
        "workload": args.workload, "seed": args.seed, "scale": args.scale,
        "trace": args.trace, "run_id": tracer.run_id, "nproc": nproc,
        "inputs": {k: {f: v[f] for f in ("rows", "bytes", "digest")}
                   for k, v in manifest["tables"].items()},
        "gen_s": gen_s, "boot_s": boot_s, "setup_s": setup_s,
        "passes": passes,
        "checks": [{"name": n, "ok": ok, "detail": d} for n, ok, d in checks],
        "named": named, "metrics": metrics,
    }
    stem = _stem(work, args, args.trace)
    with open(stem + ".json", "w") as f:
        json.dump(artifact, f, indent=1, default=str)
    if args.trace:
        with open(stem + "-spans.json", "w") as f:
            json.dump(tracer.dump(), f, default=str)
    for n, ok, d in checks:
        if not ok:
            print(f"perfbench: check {n} FAILED: {d}", file=sys.stderr)
    print(json.dumps({"workload": args.workload, "named": named}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


def _named(workload, passes, e2e, failed, attempted) -> dict:
    """The workload's figures under the names perfbench/README.md uses."""
    out = {"setup_s": [e2e["setup_s"], "s"],
           "peak_rss_mb": [e2e["peak_rss_mb"], "MiB"],
           "failed_ratio": [failed / attempted if attempted else 0.0, "ratio"]}
    if workload == "extract":
        out["extract_docs_per_s"] = [e2e["docs_per_s"], "docs/s"]
    elif workload == "commit":
        out["commit_docs_per_s"] = [e2e["docs_per_s"], "docs/s"]
        out["resume_s"] = [statistics.median([p["ops"][1]["wall_s"] for p in passes]), "s"]
    else:
        out["curate_wall_s"] = [e2e["wall_s"], "s"]
        out["queries_sum_s"] = [
            statistics.median([sum(o["wall_s"] for o in p["ops"]) for p in passes]), "s"]
        out["queries_geomean_s"] = [e2e["op_geomean_s"], "s"]
    return out


def _stem(work: str, args, trace: int) -> str:
    return os.path.join(
        work, "results",
        f"{args.workload}-{args.scale}-seed{args.seed}-trace{trace}")


def _layers(wl, ctx, passes, untraced_stem: str) -> dict:
    n = ctx.n_passes
    out = wl.layers()
    for k, v in ctx.spark_tot.items():
        out[f"spark.{k}"] = v if k == "task_skew" else v / n
    out["driver.plan_s"] = sum(o["plan_s"] for o in ctx.ops) / n
    out["driver.action_s"] = sum(o["action_s"] for o in ctx.ops) / n
    out["driver.coverage"] = min(
        sum(o["plan_s"] + o["action_s"] for o in p["ops"]) / p["wall_s"]
        for p in passes)
    # traced minus untraced end-to-end wall, against the --trace 0 run
    # of the same workload and seed when one was made in this checkout
    try:
        with open(untraced_stem + ".json") as f:
            base = json.load(f)["metrics"]["wall_s"]["value"]
        out["trace.overhead_s"] = statistics.median([p["wall_s"] for p in passes]) - base
    except (OSError, KeyError, ValueError):
        out["trace.overhead_s"] = 0.0
    out["host.steal_frac"] = max(p["steal_frac"] for p in passes)
    out["host.load1"] = statistics.median([p["load1"] for p in passes])
    return out


if __name__ == "__main__":
    sys.exit(main())
