"""Benchmark entry point: one workload, one run, one JSON result line.

    python3 perfbench/run.py --workload sync_incremental --seed 1 --seconds 15 --trace 0

Run from any directory; the package is taken from the tree this file sits
in. ``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
ones (see perfbench/README.md). Exits 2 without a result when the tree
holds no ``cloud_data_sync_spark`` package.
"""

import time

PROCESS_START = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPANS_DIR = os.path.join(ROOT, ".perfbench_spans")  # traced runs' spans, kept
WORKLOADS = ("sync_initial", "sync_incremental", "registry_sweep")
# the timed loop starts once other processes use at most this many cores,
# or after GATE_WAIT_S seconds
EXT_GATE_CORES = 0.5
GATE_WAIT_S = 10.0


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def pin_tree(work: str) -> None:
    """Make the tree under test importable by this process and by Spark's
    Python workers, and keep every scratch file inside ``work``."""
    os.chdir(ROOT)
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    sys.path[:0] = [ROOT, HERE]
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")


def tree_pids(root: int) -> set[int]:
    """``root`` and its live descendants."""
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat", "rb") as f:
                    raw = f.read().decode("ascii", "replace")
                parent[int(entry)] = int(raw[raw.rindex(")") + 2 :].split()[1])
            except (OSError, ValueError, IndexError):
                continue
    out, frontier = {root}, [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p and c not in out]
        out.update(kids)
        frontier.extend(kids)
    return out


def reset_peak_rss(pids: set[int]) -> None:
    """Restart the kernel's peak-RSS count (VmHWM) of each process."""
    for pid in pids:
        try:
            with open(f"/proc/{pid}/clear_refs", "w", encoding="ascii") as f:
                f.write("5")
        except OSError:
            continue


def peak_rss_mib(pids: set[int]) -> float:
    """Sum over the processes of each one's peak RSS since its reset."""
    total_kib = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status", encoding="ascii") as f:
                total_kib += next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
        except (OSError, StopIteration, ValueError):
            continue
    return total_kib / 1024


def jvm_memory_mib(spark) -> tuple[float, float]:
    """The JVM heap in use right after a full collection, which is what the
    program keeps alive, and the JVM's non-heap memory in use (metaspace,
    code cache)."""
    mx = spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    mx.gc()
    mib = 1024 * 1024
    return mx.getHeapMemoryUsage().getUsed() / mib, mx.getNonHeapMemoryUsage().getUsed() / mib


def start_spark(work: str, traced: bool):
    from cloud_data_sync_spark.session import _DEFAULTS, get_spark

    cores = len(os.sched_getaffinity(0))
    java_opts = (
        f"{_DEFAULTS['spark.driver.extraJavaOptions']} -Djava.io.tmpdir={work}/tmp "
        f"-Dderby.system.home={work}/tmp"
    )
    conf = {
        "spark.driver.memory": "2g",
        "spark.driver.extraJavaOptions": java_opts,
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        os.makedirs(os.path.join(work, "eventlog"))
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + os.path.join(work, "eventlog")
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    t0 = time.perf_counter()
    spark = get_spark("perfbench", master=f"local[{cores}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def stop_spark(spark) -> None:
    """Stop the session, end the JVM it launched and wait for every process
    this run started."""
    from pyspark import SparkContext

    kids = tree_pids(os.getpid()) - {os.getpid()}
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 - fall through to the kill below
                proc.kill()
                proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while kids and time.monotonic() < deadline:
        kids = {p for p in kids if os.path.exists(f"/proc/{p}")}
        time.sleep(0.1)
    for pid in kids:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass


def run(args, work: str) -> dict:
    import bench
    from pyspark import SparkContext
    from stats import MIN_BEYOND, tail
    from spans import Tracer
    from workloads import RegistryWorkload, SyncWorkload

    load_start = os.getloadavg()[0]
    spark, session_s = start_spark(work, args.trace == 1)
    try:
        tracer = None
        if args.trace:
            from cloud_data_sync_spark.registry import all_queries

            all_queries()  # import every module, so every binding is found
            tracer = Tracer(spark.sparkContext)
            tracer.install()
        if args.workload == "registry_sweep":
            wl = RegistryWorkload(spark, work, args.seed)
        else:
            wl = SyncWorkload(args.workload, spark, work, args.seed)
        wl.setup()
        # wait (bounded) for other processes to leave the cores; the wait is
        # not set-up work, so setup_s excludes it. It comes before the
        # warm-up, so the timed loop follows warm ops without a pause.
        gate_ext, gate_waited, _ = bench.wait_for_external_idle(EXT_GATE_CORES, GATE_WAIT_S)
        wl.warm_up()

        walls, traced_walls, untraced_walls, facts = [], [], [], []
        op_ext, op_cpu = [], []
        attempted = failed = 0
        jvm_pid = SparkContext._gateway.proc.pid
        reset_peak_rss(tree_pids(os.getpid()))
        stamp0 = bench.cpu_stamp()
        setup_s = time.monotonic() - PROCESS_START - gate_waited
        deadline = time.monotonic() + args.seconds
        while time.monotonic() < deadline or attempted < 2:
            # traced runs alternate traced and untraced operations, so the
            # tracing overhead is measured on the same workload and inputs
            traced = tracer is not None and attempted % 2 == 0
            if traced:
                tracer.begin(f"op-{attempted}")
            s0 = bench.cpu_stamp()
            try:
                wall, ok = wl.op(tracer)
            finally:
                if traced:
                    tracer.end()
            s1 = bench.cpu_stamp()
            op_ext.append(bench.external_cores(s0, s1))
            op_cpu.append(s1[1] - s0[1])
            attempted += 1
            failed += not ok
            walls.append(wall)
            (traced_walls if traced else untraced_walls).append(wall)
            if traced and isinstance(wl, SyncWorkload):
                facts.append({**wl.last, "report": wl.report})
        ext_cores = bench.external_cores(stamp0, bench.cpu_stamp())
        workers = tree_pids(os.getpid()) - {os.getpid(), jvm_pid}
        memory = {
            "driver.peak_rss_mib": peak_rss_mib({os.getpid()}),
            "jvm.peak_rss_mib": peak_rss_mib({jvm_pid}),
            "workers.peak_rss_mib": peak_rss_mib(workers),
        }
        memory["jvm.heap_live_mib"], memory["jvm.nonheap_mib"] = jvm_memory_mib(spark)
    finally:
        stop_spark(spark)

    op_s = statistics.median(walls)
    print(
        f"perfbench: {args.workload} seed={args.seed} ops={attempted} "
        f"op_s={[round(w, 3) for w in walls]} op_external_cores={[round(w, 2) for w in op_ext]} "
        f"op_cpu_s={[round(w, 2) for w in op_cpu]} setup_s={setup_s:.2f} "
        f"external_cores={ext_cores:.2f} load_start={load_start:.2f} "
        f"gate_external_cores={gate_ext:.2f} gate_waited_s={gate_waited:.0f} "
        f"memory_mib={ {k: round(v, 1) for k, v in memory.items()} }",
        flush=True,
    )
    if not args.trace:
        metrics = {
            "setup_s": (setup_s, "s"),
            "op_s": (op_s, "s"),
            "items_per_s": (wl.items() / op_s, "1/s"),
            # the JVM's resident size follows the collector's heap sizing,
            # not the program, so the JVM counts with what it keeps alive
            "retained_mib": (
                memory["driver.peak_rss_mib"] + memory["jvm.heap_live_mib"] + memory["jvm.nonheap_mib"],
                "MiB",
            ),
        }
    else:
        import layers

        spans_path = os.path.join(SPANS_DIR, f"{args.workload}-seed{args.seed}.jsonl")
        out = traced_metrics(wl, work, tracer, facts, traced_walls, untraced_walls, spans_path)
        out.update(
            {
                "session.start_s": session_s,
                **memory,
                "bench.external_cores": ext_cores,
                "bench.load_start": load_start,
            }
        )
        metrics = {k: (v, layers.unit_of(k)) for k, v in out.items()}
    if isinstance(wl, RegistryWorkload):
        per_key = [w for _, w in wl.walls]
        line = f"perfbench: per-key walls: {len(per_key)} samples, p50={statistics.median(per_key):.4f}s"
        if len(per_key) > MIN_BEYOND:
            pct, value = tail(per_key)
            line += f", p{pct:.1f}={value:.4f}s (the highest with {MIN_BEYOND} beyond)"
        print(line, flush=True)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def write_spans(ix, path: str) -> None:
    """One JSON line per span, with its self time and the jobs it launched."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8") as f:
        for i, s in enumerate(ix.spans):
            row = {"span": i, **vars(s), "self_s": ix.selfs[i], "jobs": ix.own_jobs[i]}
            f.write(json.dumps(row) + "\n")


def traced_metrics(wl, work, tracer, facts, traced_walls, untraced_walls, spans_path) -> dict[str, float]:
    """The per-layer metrics of the layers ``wl`` calls. The sync workloads
    give exactly the ``per_layer`` list of ``BENCHMARK.json``."""
    import layers
    from stats import read_event_log
    from workloads import RegistryWorkload, module_label

    job_group, job_stages, job_totals = read_event_log(os.path.join(work, "eventlog"))
    ix = layers.SpanIndex(tracer.spans, job_group, job_stages, job_totals)
    write_spans(ix, spans_path)
    print(f"perfbench: {len(ix.spans)} spans written to {spans_path}", flush=True)
    n = len(traced_walls)
    jobs = [j for i in range(len(ix.spans)) for j in ix.own_jobs[i]]
    out = layers.spark_metrics(ix, jobs, n)
    out.update(layers.materialize_metrics(ix, n))
    if isinstance(wl, RegistryWorkload):
        label_of = {k: module_label(s) for k, s in wl.specs.items()}
        out.update(layers.registry_metrics(ix, label_of, n, [w for _, w in wl.walls], wl.cold))
    else:
        # no tick measured has had a task that collected garbage, and a time
        # that reads 0 on every run measures nothing
        del out["spark.gc_s"]
        out.update(layers.sync_metrics(ix, facts))
    out["trace.overhead_s"] = statistics.median(traced_walls) - statistics.median(untraced_walls)
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "cloud_data_sync_spark", "__init__.py")):
        print(f"perfbench: no cloud_data_sync_spark package in {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    try:
        pin_tree(work)
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
