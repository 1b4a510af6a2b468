"""The repository benchmark: one command generates seeded inputs, runs a
workload against the engine's public functions, checks every output
against its DuckDB oracle twin and prints the metrics.

    python3 perfbench/run.py --workload wiki_corpus --seed 1 --seconds 20 --trace 0

Workloads: ``wiki_corpus``, ``star_analytics``, ``query_floor``
(see ``workloads.py``). One run is one process on ``local[nproc]``:

1. build or reuse the inputs for ``(workload, seed)`` in a child
   process (``gen_s``);
2. set-up: import the engine, ``session.get_spark()``, run one untimed
   pass (``setup_s``; it includes cold code generation and JIT), then
   the workload's untimed warm-up passes;
3. run timed passes for ``--seconds`` seconds; with ``--trace 1`` every
   other pass is traced (spans and Spark job groups around every call
   into a layer), followed by one prefix-timing pass for per-layer self
   times;
4. check the first and last pass's outputs against the oracles.

The last line of stdout is ``{"correct", "attempted", "failed",
"metrics"}``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. The line before it holds everything else
(config, input properties, per-operation times, /proc load and steal).
The exit code is 1 when an operation failed or an output is wrong.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, ".data")
SCRATCH = os.path.join(HERE, ".scratch")
OUT = os.path.join(HERE, ".out")
HEAP_MB = 2048
# workload -> the generated input it runs on
WORKLOADS = {"wiki_corpus": "corpus", "star_analytics": "star", "query_floor": "small"}


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--size", choices=["full", "tiny"], default="full", help="tiny: the smoke-test inputs")
    p.add_argument("--inject-fail", default=None, metavar="OP", help="make operation OP raise (tests)")
    return p.parse_args(argv)


# --- machine and session sizing -------------------------------------------------


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _mem_total_mb() -> int:
    with open("/proc/meminfo") as fh:
        return int(fh.readline().split()[1]) // 1024


def configure_env() -> dict:
    """Size the session through ``session.get_spark``'s environment
    variables, and keep every file Spark and Python write in the
    benchmark's scratch directory."""
    cores = _cores()
    heap = min(HEAP_MB, _mem_total_mb() // 4)
    # a fixed young generation: G1 otherwise sizes it from measured pause
    # times, so the heap's high-water mark (peak_rss_mb) followed the
    # host's CPU contention
    young = heap // 4
    tmp = os.path.join(SCRATCH, "tmp")
    local = os.path.join(SCRATCH, "local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cores),
        "WDP_DRIVER_MEMORY": f"{heap}m",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": (
            f'--conf "spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} -Xmn{young}m" pyspark-shell'
        ),
    }
    os.environ.update(env)
    os.chdir(SCRATCH)  # spark-warehouse/, metastore_db/ land here
    return {"cores": cores, "heap_mb": heap, "young_mb": young, "mem_total_mb": _mem_total_mb(), **env}


def cpu_ticks() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_pct(t0: list[int], t1: list[int]) -> float:
    d = [b - a for a, b in zip(t0, t1)]
    return 100.0 * d[7] / max(sum(d), 1) if len(d) > 7 else 0.0


def loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def descendants(pid: int) -> set[int]:
    """Every live process below ``pid``, from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            children.setdefault(ppid, []).append(int(d))
    out, todo = set(), [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.add(c)
            todo.append(c)
    return out


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session and the JVM it launched (with its Python
    workers), and wait until each process has ended."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is None or proc is None:
        return
    procs = descendants(proc.pid)
    gw.shutdown()
    proc.stdin.close()  # the gateway JVM exits on EOF
    proc.wait(timeout=timeout)
    SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + timeout
    while procs and time.monotonic() < deadline:
        procs = {p for p in procs if _alive(p)}
        time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"  # a zombie has ended
    except OSError:
        return False


# --- passes -------------------------------------------------------------------------


def run_pass(w, ctx, inject: str | None) -> dict:
    """One pass of ``w``: every operation once, then release the caches
    the engine persisted."""
    from wikipedia_data_pipeline_spark.operators import ranks
    from spans import cached_mb

    records, outputs = [], {}
    t_pass = time.perf_counter()
    with ctx.tracer.span(f"pass{ctx.tracer.pass_no}", "pass"):
        for name, fn in w.ops(ctx):
            t0 = time.perf_counter()
            rec = {"op": name}
            try:
                with ctx.tracer.span(name, "op"):
                    if name == inject:
                        raise RuntimeError(f"injected failure in {name}")
                    outputs[name] = fn()
                rec["ok"] = True
            except Exception as e:  # one failed operation must not stop the run
                rec.update(ok=False, error=f"{type(e).__name__}: {str(e).splitlines()[0][:300]}")
            rec["s"] = time.perf_counter() - t0
            records.append(rec)
        traced = getattr(ctx.tracer, "sc", None) is not None
        cached = cached_mb(ctx.spark.sparkContext) if traced else 0.0
        with ctx.tracer.span("unpersist_all", "operators.ranks"):
            released = ranks.unpersist_all()
    return {"wall": time.perf_counter() - t_pass, "records": records, "outputs": outputs,
            "released": released, "cached_mb": cached, "pass_no": ctx.tracer.pass_no}


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (``q`` in (0, 1))."""
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def timed_passes(w, ctx, seconds: float, inject, tracer=None) -> list[dict]:
    """Passes for ``seconds`` (at least one). With a tracer, every other
    pass is traced, so traced and untraced passes see the same warm-up."""
    from spans import OFF

    passes = []
    t_end = time.perf_counter() + seconds
    while len(passes) < (2 if tracer else 1) or time.perf_counter() < t_end:
        ctx.tracer = tracer if tracer and len(passes) % 2 else OFF
        ctx.tracer.pass_no = len(passes) + 1
        passes.append(run_pass(w, ctx, inject))
    return passes


def end_to_end(passes, items: int, setup_s: float, rss: float) -> dict:
    walls = [p["wall"] for p in passes]
    lat = [r["s"] for p in passes for r in p["records"] if r["ok"]] or [float("nan")]
    pass_s = statistics.median(walls)
    values = {
        "setup_s": setup_s,
        "pass_s": pass_s,
        "items_per_s": items / pass_s,
        "query_p50_s": quantile(lat, 0.5),
        "query_p90_s": quantile(lat, 0.9),
        "peak_rss_mb": rss,
    }
    return {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}


# Names and units of the result line's metrics; the tests hold them
# equal to BENCHMARK.json.
END_TO_END = {
    "setup_s": "s", "pass_s": "s", "items_per_s": "1/s", "query_p50_s": "s", "query_p90_s": "s",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s", "queries.build_s": "s", "plans.plan_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count", "spark.busy_ratio": "ratio",
    "sources.scan_s": "s", "sources.input_mb": "MB",
    "operators.ranks.released": "count", "operators.ranks.cached_mb": "MB",
    "spark.shuffle_write_mb": "MB", "spark.shuffle_read_mb": "MB", "spark.spill_disk_mb": "MB",
    "spark.task_cpu_s": "s", "spark.gc_s": "s", "spark.peak_exec_mem_mb": "MB",
    "trace.overhead_ratio": "ratio",
}
# layers only wiki_corpus calls; reported in the detail line
CORPUS_LAYERS = {
    "sources.write_s": "s", "sources.written_mb": "MB", "sources.bytes_stored_ratio": "ratio",
    "operators.text.parse_s": "s", "operators.text.tokenize_s": "s", "operators.text.tokens": "count",
    "operators.tfidf.counts_s": "s", "operators.tfidf.idf_s": "s", "operators.tfidf.join_s": "s",
    "operators.tfidf.dictionary_s": "s", "operators.tfidf.vocab": "count",
    "operators.dedup.lsh_s": "s", "operators.dedup.clusters_s": "s", "operators.dedup.candidate_pairs": "count",
    "operators.dedup.verified_pairs": "count", "operators.dedup.verify_yield": "ratio",
}


def per_layer(ctx, tracer, traced, untraced, prefix: dict, session_s: float, props: dict) -> tuple[dict, dict]:
    """Per-layer metrics: medians over the traced passes of per-pass
    totals, plus the prefix pass's self times. Layers a workload does
    not call report 0."""
    from spans import spark_counters

    sc = ctx.spark.sparkContext
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    per_pass, per_op = [], []
    for p in traced:
        pass_span = next(s for s in tracer.spans if s.layer == "pass" and s.pass_no == p["pass_no"])
        c = spark_counters(sc, tracer.subtree(pass_span))
        for op_span in tracer.children(pass_span):
            if op_span.layer == "op":
                per_op.append({"pass": op_span.pass_no, "op": op_span.name, "s": op_span.seconds,
                               **spark_counters(sc, tracer.subtree(op_span))})
        c.update(wall=p["wall"], released=p["released"], cached_mb=p["cached_mb"])
        per_pass.append(c)
    med = lambda k: statistics.median(p[k] for p in per_pass)  # noqa: E731
    m = {k: 0.0 for k in {**PER_LAYER, **CORPUS_LAYERS}}
    m.update(prefix)
    m.update({
        "session.start_s": session_s,
        "spark.jobs": med("jobs"), "spark.stages": med("stages"), "spark.tasks": med("tasks"),
        "spark.busy_ratio": statistics.median(p["run_s"] / (p["wall"] * cores) for p in per_pass),
        "sources.input_mb": med("input_mb"),
        "operators.ranks.released": med("released"), "operators.ranks.cached_mb": med("cached_mb"),
        "spark.shuffle_write_mb": med("shuffle_write_mb"), "spark.shuffle_read_mb": med("shuffle_read_mb"),
        "spark.spill_disk_mb": med("spill_disk_mb"), "spark.task_cpu_s": med("cpu_s"), "spark.gc_s": med("gc_s"),
        "spark.peak_exec_mem_mb": med("peak_exec_mem_mb"),
        "trace.overhead_ratio": statistics.median(p["wall"] for p in traced) / statistics.median(p["wall"] for p in untraced),
    })
    if "corpus_bytes" in props and m["sources.written_mb"]:
        m["sources.bytes_stored_ratio"] = m["sources.written_mb"] * 2**20 / props["corpus_bytes"]
    units = {**PER_LAYER, **CORPUS_LAYERS}
    layers = {k: {"value": v, "unit": units[k]} for k, v in m.items()}
    return {k: layers[k] for k in PER_LAYER}, {"layers": layers, "per_pass": per_pass, "per_op": per_op}


# --- main ---------------------------------------------------------------------------


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isdir(os.path.join(ROOT, "wikipedia_data_pipeline_spark")) or not os.path.isdir(
        os.path.join(ROOT, "tools")
    ):
        print(f"perfbench: engine sources not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    config = configure_env()
    ticks0, load0 = cpu_ticks(), loadavg()

    # in a child process, so the generator's memory stays out of peak_rss_mb
    t_gen = time.perf_counter()
    built = subprocess.run(
        [sys.executable, os.path.join(HERE, "gen.py"), WORKLOADS[args.workload], str(args.seed), args.size, DATA],
        check=True, capture_output=True, text=True,
    )
    gen_s = time.perf_counter() - t_gen
    built = json.loads(built.stdout)
    data, props = built["dir"], built["props"]

    # --- set-up: imports, session, registration, first (untimed) pass
    t_setup = time.perf_counter()
    import workloads
    from wikipedia_data_pipeline_spark.session import get_spark
    from spans import OFF, Tracer

    t_sess = time.perf_counter()
    spark = get_spark("perfbench")
    session_s = time.perf_counter() - t_sess
    try:
        w = workloads.WORKLOADS[args.workload]
        work = os.path.join(SCRATCH, "work")
        workloads.reset_work(work)
        ctx = workloads.Context(spark, data, work, OFF, args.seed)
        first = run_pass(w, ctx, args.inject_fail)
        setup_s = time.perf_counter() - t_setup
        warm = [run_pass(w, ctx, args.inject_fail) for _ in range(w.warmup)]

        # --- timed passes
        tracer = Tracer(spark.sparkContext) if args.trace else None
        passes = timed_passes(w, ctx, args.seconds, args.inject_fail, tracer)
        if args.trace:
            untraced, traced = passes[0::2], passes[1::2]
            ctx.tracer = tracer
            tracer.pass_no = -1
            with tracer.span("prefix", "pass"):
                prefix = w.prefix(ctx)
        ctx.tracer = OFF

        jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
        rss = hwm_mb(jvm_pid) + hwm_mb("self")
        ticks1, load1 = cpu_ticks(), loadavg()

        # --- correctness, outside the timed passes
        import oracle

        tables = ["documents"] if args.workload == "wiki_corpus" else gen_tables(data)
        con = oracle.connect(data, config["cores"], tables)
        t_check = time.perf_counter()
        bad = w.check(ctx, {"first": first["outputs"], "last": passes[-1]["outputs"]}, con)
        con.close()
        check_s = time.perf_counter() - t_check
        storage_mb = spark.sparkContext._jvm.org.apache.spark.SparkEnv.get().memoryManager().maxOnHeapStorageMemory() / 2**20
        conf = {k: v for k, v in spark.sparkContext.getConf().getAll() if k.startswith(("spark.sql.", "spark.master", "spark.local"))}

        items = w.items(props)
        all_passes = [first, *warm, *passes]
        attempted = sum(len(p["records"]) for p in all_passes)
        failed = sum(not r["ok"] for p in all_passes for r in p["records"])
        detail = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
            "size": args.size, "gen_s": gen_s, "inputs": props, "items_per_pass": items, "item": w.item,
            "config": config, "spark_conf": conf, "storage_memory_mb": storage_mb,
            "steal_pct": steal_pct(ticks0, ticks1), "loadavg_start": load0, "loadavg_end": load1,
            "error_rate": failed / attempted, "errors": [r for p in all_passes for r in p["records"] if not r["ok"]],
            "mismatches": bad, "check_s": check_s, "setup_s": setup_s, "session_start_s": session_s,
            "pass_s": [p["wall"] for p in passes],
            "ops": [{**r, "pass": p["pass_no"]} for p in all_passes for r in p["records"]],
        }
        if args.trace:
            metrics, layer_detail = per_layer(ctx, tracer, traced, untraced, prefix, session_s, props)
            detail.update(layer_detail)
            detail["untraced_pass_s"] = [p["wall"] for p in untraced]
            detail["traced_pass_s"] = [p["wall"] for p in traced]
            detail["end_to_end"] = end_to_end(untraced, items, setup_s, rss)
            os.makedirs(OUT, exist_ok=True)
            with open(os.path.join(OUT, f"spans-{args.workload}-s{args.seed}.json"), "w") as fh:
                json.dump(tracer.to_json(), fh)
        else:
            metrics = end_to_end(passes, items, setup_s, rss)
    finally:
        stop_spark(spark)

    correct = not bad and failed == 0
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


def gen_tables(data: str) -> list[str]:
    return sorted(f[:-8] for f in os.listdir(data) if f.endswith(".parquet"))


if __name__ == "__main__":
    sys.exit(main())
