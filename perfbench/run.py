"""Crawl-engine benchmark: one workload, one seed, one fresh process.

    python3 perfbench/run.py --workload crawl_small_rounds --seed 1 \
        --seconds 10 --trace 0

Run from the repository root. Inputs are generated from ``--seed``
(cached under ``perfbench/.cache``), the engine is driven through its
public entry points (``plans.loop.run_crawl``, ``scripts.run_curate.
curate``), every timed operation's output is checked, and the last line
of stdout is one JSON object ``{"correct", "attempted", "failed",
"metrics"}``. The line before it is the run record: host context
(nproc, load average before/after, driver memory), failed_frac and
per-operation detail, so a run poisoned by other tenants shows it.

End-to-end metrics (``--trace 0``), the same names on every workload:

  setup_s               process start until the first timed operation
                        begins, input generation excluded: session
                        start, input loading and (crawl) the bootstrap
                        seed MERGE and the warm-up round
  op_s_p50              median timed operation: a crawl round (run_round
                        start to its checkpoint commit; two per run) or
                        a cold curate run (one per run)
  items_per_s           URLs scheduled per round-second; input
                        documents per curate-second
  store_bytes_per_item  snapshot-store bytes per URL ever enqueued;
                        curated output bytes per input document

``--trace 1`` is a separate run that wraps the engine's layer calls in
spans (see workloads.CrawlLayerTrace) and prints the per-layer metrics
named in BENCHMARK.json instead; ``trace.op_s_p50`` against the untraced
``op_s_p50`` is the tracing overhead. Spans are written to
``perfbench/.traces``.

Peak RSS of the driver JVM plus the Python workers during timed work is
a per-layer metric (``peak_rss_mb``, split into ``.jvm`` and
``.python``) and is in every run record, but it gates nothing: it
varied 2.7-4.4 GB between runs of the same curate input on a 4-core
host, almost all of it in the JVM, whose heap follows G1's adaptive
sizing. That is wider than any bound a regression gate could use.
"""

from __future__ import annotations

import time

T_PROC0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
import uuid  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_FILES = ("hyperion_crawler_spark/__init__.py", "tests/oracle.py",
                "scripts/run_curate.py")


def _loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def _mem_total_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _prepare_env(work: str, nproc: int) -> str:
    """Point every scratch path into ``work``, make the engine
    importable by Spark's Python workers and size the session."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    # local[nproc / 2]: the JVM's compiler and GC threads and the Python
    # workers run beside the task threads, and with one task thread per
    # core they queue for the cores. On a 4-core host a warm crawl round
    # took 9.0-9.6 s at local[2] against 10.4-12.0 s at local[4].
    os.environ["SPARK_GRAFT_CPUS"] = str(max(1, nproc // 2))
    # get_spark defaults the driver to 48g; stay well below physical RAM.
    # The inputs are small: at 4g the heap grew to 3.4 GB resident and a
    # warm crawl round spent ~20 % more CPU than at 1g.
    mem = f"{min(1024, _mem_total_mb() // 3)}m"
    os.environ["SPARK_DRIVER_MEM"] = mem
    sys.path.insert(0, ROOT)
    return mem


def _cpu_times() -> list[int]:
    """Host-wide /proc/stat cpu jiffies (user .. steal)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def _host_share(before: list[int], after: list[int]) -> dict:
    """Idle and steal shares of host CPU time between two samples: a run
    that other tenants squeezed shows low idle or high steal."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d) or 1
    return {"idle_frac": round(d[3] / total, 4), "steal_frac": round(d[7] / total, 4)}


def _stop_spark(procs) -> None:
    """Stop the session and the gateway JVM, then wait until every
    process the run started (the JVM, Python workers) has ended."""
    from pyspark import SparkContext

    try:
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
    finally:
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.terminate()
                proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    alive = set(procs.seen)
    while alive and time.monotonic() < deadline:
        alive = {p for p in alive if os.path.exists(f"/proc/{p}")}
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _write_trace(tracer, workload: str, seed: int) -> None:
    d = os.path.join(HERE, ".traces")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, f"{workload}-{seed}-{tracer.run_id}.jsonl"), "w") as fh:
        for s in tracer.spans:
            fh.write(json.dumps(s, default=str) + "\n")
        fh.write(json.dumps({"counters": tracer.counters}) + "\n")
    old = sorted(os.listdir(d), key=lambda f: os.path.getmtime(os.path.join(d, f)))
    for f in old[:-32]:
        os.remove(os.path.join(d, f))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="accepted for the benchmark protocol; every workload "
                         "times a fixed amount of work (two crawl rounds or "
                         "one cold curate), 18-40 s on a 4-core host")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: small inputs for the self-tests")
    ap.add_argument("--corrupt", action="store_true",
                    help="self-test: damage one output so its check must fail")
    args = ap.parse_args(argv)

    missing = [f for f in ENGINE_FILES if not os.path.exists(os.path.join(ROOT, f))]
    if missing:
        print(f"perfbench: engine sources missing under {ROOT}: {missing}",
              file=sys.stderr)
        return 2

    import spans
    import workloads as W

    if args.workload not in W.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(W.WORKLOADS)}", file=sys.stderr)
        return 2
    prepare, run = W.WORKLOADS[args.workload]
    spec = _spec()
    nproc = len(os.sched_getaffinity(0))
    load_before = _loadavg()
    run_id = uuid.uuid4().hex[:12]
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{run_id}")
    os.makedirs(work)
    driver_mem = _prepare_env(work, nproc)
    cwd = os.getcwd()
    os.chdir(work)   # stray files (derby.log, warehouse) land in work
    cpu_before = _cpu_times()
    procs = spans.ProcTree()
    procs.start()
    tracer = spans.Tracer(run_id) if args.trace else None
    try:
        # import what input generation imports first, so that set-up
        # covers the same work whether or not the inputs were cached
        import pyspark.sql  # noqa: F401
        import hyperion_crawler_spark.synth  # noqa: F401
        from hyperion_crawler_spark.config import get_spark

        t_gen = time.perf_counter()
        inputs_dir = prepare(HERE, args.size, args.seed)
        gen_s = time.perf_counter() - t_gen

        spark = get_spark(app=f"perfbench-{args.workload}", extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # no hsperfdata file under the system /tmp
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
        })
        ctx = W.Ctx(spark=spark, root=ROOT, bench_dir=HERE, work=work,
                    inputs_dir=inputs_dir, seed=args.seed, size=args.size,
                    tracer=tracer, procs=procs, corrupt=args.corrupt)
        ops, result = run(ctx)
        setup_s = (ctx.t_first_op or time.perf_counter()) - T_PROC0 - gen_s
        if tracer is not None:
            _write_trace(tracer, args.workload, args.seed)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        t_stop = time.perf_counter()
        try:
            _stop_spark(procs)
        finally:
            procs.stop()
            os.chdir(cwd)
            shutil.rmtree(work, ignore_errors=True)

    peak_rss = {"peak_rss_mb": procs.peak_bytes / 2**20,
                "peak_rss_mb.jvm": procs.peak_by_comm.get("java", 0) / 2**20,
                "peak_rss_mb.python": procs.peak_by_comm.get("python", 0) / 2**20}
    times = [o["s"] for o in ops if o["s"] is not None]
    attempted, failed = len(ops), sum(1 for o in ops if not o["ok"])
    if args.trace:
        layers = dict(result.get("layers", {}))
        layers["trace.op_s_p50"] = statistics.median(times) if times else 0.0
        layers["trace.spans"] = len(tracer.spans)
        layers.update(peak_rss)
        values, wanted = layers, spec["per_layer"]
    else:
        values = {
            "setup_s": setup_s,
            "op_s_p50": statistics.median(times) if times else 0.0,
            "items_per_s": result["items_per_s"],
            "store_bytes_per_item": result["store_bytes_per_item"],
        }
        wanted = spec["end_to_end"]
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)),
                           "unit": m["unit"]} for m in wanted}
    print(json.dumps({"run_record": {
        "workload": args.workload, "seed": args.seed, "size": args.size,
        "trace": args.trace, "nproc": nproc, "driver_mem": driver_mem,
        "loadavg_before": load_before, "loadavg_after": _loadavg(),
        **_host_share(cpu_before, _cpu_times()),
        "input_gen_s": round(gen_s, 3), "stop_s": round(time.perf_counter() - t_stop, 3),
        "process_s": round(time.perf_counter() - T_PROC0, 3),
        "failed_frac": failed / max(attempted, 1),
        **{k: round(v, 1) for k, v in peak_rss.items()},
        "ops_s": [None if o["s"] is None else round(o["s"], 3) for o in ops],
        "ops_cpu_s": [round(o["cpu_s"], 3) for o in ops if "cpu_s" in o],
        **ctx.notes}}, default=str))
    print(json.dumps({"correct": attempted >= 1 and failed == 0,
                      "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
