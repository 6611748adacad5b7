"""Benchmark of the bucketizer engine: seeded workloads on local[4].

    python3 perfbench/run.py --workload stream_trie --seed 1 --seconds 5 --trace 0

Workloads: ``stream_trie`` and ``batch_queries``.

Run from the repository root. The last line of standard output is one JSON
object: ``correct``, ``attempted`` and ``failed`` (ops: a micro-batch or a
query) and ``metrics`` — the end-to-end metrics of BENCHMARK.json with
``--trace 0``, its per-layer metrics with ``--trace 1``. Lines starting
with ``#`` before it carry details (the ungated wall-clock figures, the
tail percentile, sample counts, the pinned environment). Work files go
under ``.perfbench/`` in the root and are removed at exit, except the
per-seed reference cache and span dumps.
See perfbench/README.md for the workloads and the layer map.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import statistics
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORES = 4  # also the shuffle partition count
DRIVER_MEMORY = "2g"
PREPARE_REPEATS = 3
PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def descendants(root: int) -> set[int]:
    """Pids of every live descendant of ``root``, read from /proc."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                parent[int(name)] = int(fh.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
    found, frontier = set(), [root]
    while frontier:
        p = frontier.pop()
        for pid, pp in parent.items():
            if pp == p and pid not in found:
                found.add(pid)
                frontier.append(pid)
    return found


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) used so far by ``root`` and its live
    descendants, counting the children each has already reaped, so the
    total stays continuous as Python workers come and go."""
    ticks = 0
    for pid in descendants(root) | {root}:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(f) for f in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


class Heap:
    """The driver JVM's heap, through its MXBeans. It is committed and
    touched in full at start, so its resident pages say nothing of its
    use; ``live_mb`` runs full collections and reads what is left, which
    is what the program holds (persisted frames, state, collected
    results) and not the garbage G1 lets pile up before it collects."""

    def __init__(self, spark):
        jvm = spark.sparkContext._jvm
        mf = jvm.java.lang.management.ManagementFactory
        self.system = jvm.java.lang.System
        self.memory = mf.getMemoryMXBean()
        self.beans = list(mf.getGarbageCollectorMXBeans())
        self.committed_kb = self.memory.getHeapMemoryUsage().getCommitted() // 1024

    def live_mb(self) -> float:
        # Python garbage still pins JVM objects through py4j, so it goes
        # first; the first JVM collection hands weak references to Spark's
        # context cleaner, which frees blocks and shuffles in the next
        # second; the second collection finds what is left. One collection
        # alone read 81-227 MB over ten batch seeds, this 77-80 MB over them.
        gc.collect()
        self.system.gc()
        time.sleep(1.0)
        self.system.gc()
        return self.memory.getHeapMemoryUsage().getUsed() / 2**20

    def gc_s(self) -> float:
        """Time the JVM has spent in garbage collection so far."""
        return sum(b.getCollectionTime() for b in self.beans) / 1000


class RssSampler(threading.Thread):
    """Peak memory outside the JVM heap of this process and all its
    descendants (the driver JVM and the Python workers it forks), sampled
    from /proc: each Python process counts its proportional set size, so
    pages that forked workers share are counted once, and the JVM its
    resident size less its committed heap. ``cpu_s`` is the CPU the
    sampling thread has used, which ``measure`` takes out of each rep."""

    def __init__(self, heap_kb: int, interval: float = 0.25):
        super().__init__(daemon=True)
        self.heap_kb = heap_kb
        self.interval = interval
        self.peak_kb = 0
        self.cpu_s = 0.0
        self._stop_event = threading.Event()

    @staticmethod
    def _kb(pid: int) -> int:
        """Proportional set size; for the JVM, which shares no pages with
        the other processes, resident size, whose read does not walk its
        page tables (reading the JVM's smaps_rollup took 37 ms of CPU)."""
        try:
            with open(f"/proc/{pid}/comm") as fh:
                if fh.read().strip() == "java":
                    with open(f"/proc/{pid}/statm") as st:
                        return int(st.read().split()[1]) * PAGE_KB
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def run(self) -> None:
        me = os.getpid()
        while not self._stop_event.is_set():
            t = time.thread_time()
            kb = sum(self._kb(p) for p in descendants(me) | {me}) - self.heap_kb
            self.peak_kb = max(self.peak_kb, kb)
            self.cpu_s += time.thread_time() - t
            self._stop_event.wait(self.interval)

    def stop(self) -> float:
        self._stop_event.set()
        self.join()
        return self.peak_kb / 1024


def stop_jvm(timeout: float = 60.0) -> None:
    """Stop the SparkContext and the gateway JVM, then wait until the JVM
    and the Python workers it forked have exited. The JVM exits when its
    stdin closes."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    children = descendants(os.getpid())
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout)
    SparkContext._gateway = SparkContext._jvm = None
    deadline = time.time() + timeout
    while children & descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)


class Clock:
    """Wall and process-tree CPU time; ``lap`` returns both since the
    last lap."""

    def __init__(self):
        self.wall, self.cpu = time.time(), tree_cpu_s(os.getpid())

    def lap(self) -> tuple[float, float]:
        wall, cpu = time.time(), tree_cpu_s(os.getpid())
        out = (wall - self.wall, cpu - self.cpu)
        self.wall, self.cpu = wall, cpu
        return out


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile): the highest percentile with at least ten samples
    beyond it; with fewer than twenty samples that percentile would sit at
    or below the median, so the maximum is reported instead."""
    v = sorted(values)
    n = len(v)
    if n >= 20:
        return v[n - 11], 100.0 * (n - 10) / n
    return v[-1], 100.0


def start_session(work: str, cores: int, trace_conf: dict | None = None):
    from bucketizers_spark.plans.session import get_spark

    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a pre-touched fixed-size heap: the JVM's resident size less its
        # committed heap is then its memory outside the heap, while without
        # it the resident size follows GC heap sizing, run to run
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch "
        + "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "spark.ui.showConsoleProgress": "false",
        **(trace_conf or {}),
    }
    spark = get_spark("perfbench", cores=cores, shuffle_partitions=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def measure(
    wl, seconds: float, heap: Heap | None = None, sampler: RssSampler | None = None, **rep_kw
) -> list:
    """Reps until ``seconds`` have passed (at least one). A rep that raises
    counts all its ops as failed; in local mode a failed Spark task fails
    its job, so failed tasks surface here too. With ``heap`` each rep also
    records the JVM's GC time during it and its live heap after it (the
    collection that finds it is not in the rep's CPU or GC time)."""
    from perfbench.workloads import Rep

    reps = []
    t0 = time.time()
    while not reps or (time.time() - t0 < seconds and wl.can_rep()):
        r0, c0 = time.time(), tree_cpu_s(os.getpid())
        s0 = sampler.cpu_s if sampler else 0.0
        g0 = heap.gc_s() if heap else 0.0
        try:
            reps.append(wl.rep(**rep_kw))
            sampled = (sampler.cpu_s if sampler else 0.0) - s0
            reps[-1].cpu_s = tree_cpu_s(os.getpid()) - c0 - sampled
            if heap:
                reps[-1].gc_s = heap.gc_s() - g0
                reps[-1].heap_mb = heap.live_mb()
        except Exception as exc:  # noqa: BLE001 — a failed rep is failed ops
            print(f"# rep failed: {type(exc).__name__}: {exc}", flush=True)
            wall = time.time() - r0
            reps.append(Rep(wall, [wall], 0, failed_ops=wl.ops_per_rep))
            break
    return reps


def check_all(wl, reps) -> tuple[int, int]:
    """(attempted, failed) ops over ``reps``, checking their outputs."""
    ok = [r for r in reps if not r.failed_ops]
    attempted = sum(max(len(r.op_s), r.failed_ops) for r in reps)
    failed = sum(r.failed_ops for r in reps)
    try:
        failed += wl.check(ok)
    except Exception as exc:  # noqa: BLE001 — a check that raises fails its ops
        print(f"# check failed: {type(exc).__name__}: {exc}", flush=True)
        failed += sum(len(r.op_s) for r in ok)
    return attempted, failed


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "bucketizers_spark", "__init__.py")):
        _fail(f"no bucketizers_spark package under {ROOT}; run from a full checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    # the engine must come from this checkout, in the driver and in every
    # Python worker the JVM forks, whatever the working directory
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    import bucketizers_spark  # bound now, before any later sys.path edits

    if not os.path.abspath(bucketizers_spark.__file__).startswith(ROOT + os.sep):
        _fail(f"bucketizers_spark resolved outside {ROOT}")
    from perfbench import trace as tr
    from perfbench.workloads import WORKLOADS, cleanup

    if args.workload not in WORKLOADS:
        _fail(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    for sub in ("tmp", "local", "events"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # no hsperfdata files, which every JVM (the launcher's too) would write
    # to /tmp whatever its tmpdir
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        o for o in (os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData") if o
    )
    # two glibc malloc arenas for the JVM and the Python workers: with the
    # default (up to eight per core) their memory outside the JVM heap
    # moved by 56 MB over three stream seeds, with two by 2 MB
    os.environ["MALLOC_ARENA_MAX"] = "2"
    try:
        result = run(args, spec, work, os.path.join(base, "cache"), tr, WORKLOADS)
    finally:
        stop_jvm()
        cleanup(work)
    print(json.dumps(result))


def run(args, spec, work, cache, tr, workloads) -> dict:
    trace_conf = tr.event_log_conf(os.path.join(work, "events")) if args.trace else None
    clock = Clock()
    spark = start_session(work, CORES, trace_conf)
    session = clock.lap()
    wl = workloads[args.workload](spark, work, cache, args.seed)
    tracer = None
    if args.trace:
        tracer = tr.Tracer(spark)
        wl.install(tracer)
    prep = []
    for i in range(1 if args.trace else PREPARE_REPEATS):
        clock.lap()
        wl.prepare(os.path.join(work, f"prep{i}"))
        prep.append(clock.lap())
    wl.warm(os.path.join(work, "warm"))
    warm = clock.lap()
    # set-up CPU time: as steady as cpu_s, where its wall time moves with
    # the neighbours (see perfbench/README.md)
    setup_s = session[1] + statistics.median(p[1] for p in prep) + warm[1]
    setup_wall_s = session[0] + statistics.median(p[0] for p in prep) + warm[0]
    session_s, warm_s = session[0], warm[0]
    prep = [p[0] for p in prep]
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "cores": CORES,
        "shuffle_partitions": CORES,
        "driver_memory": DRIVER_MEMORY,
        "nproc": os.cpu_count(),
        "pyspark": spark.version,
        "session_s": session_s,
        "prepare_s": prep,
        "warm_s": warm_s,
        "setup_wall_s": setup_wall_s,
    }
    if args.trace:
        metrics, attempted, failed = traced(args, spec, wl, tr, tracer, work, detail)
    else:
        heap = Heap(wl.spark)
        sampler = RssSampler(heap.committed_kb)
        sampler.start()
        reps = measure(wl, args.seconds, heap, sampler)
        off_heap_mb = sampler.stop()
        wl.finish()
        t = time.time()
        attempted, failed = check_all(wl, reps)
        detail["check_s"] = time.time() - t
        ops = [o for r in reps for o in r.op_s]
        tail_s, pct = tail(ops)
        walls = [r.wall_s for r in reps]
        values = {
            "setup_s": setup_s,
            "cpu_s": statistics.median(r.cpu_s for r in reps),
            "peak_rss_mb": off_heap_mb + max(r.heap_mb for r in reps),
        }
        # wall-clock figures: reported, not gated (see perfbench/README.md)
        detail.update(
            wall_s=statistics.median(walls),
            seq_per_s=statistics.median(r.rows / r.wall_s for r in reps),
            batch_p50_s=statistics.median(ops),
            batch_tail_s=tail_s,
            tail_percentile=pct,
            reps=len(reps),
            rep_walls=walls,
            rep_cpu_s=[r.cpu_s for r in reps],
            rep_gc_s=[r.gc_s for r in reps],
            rep_heap_mb=[r.heap_mb for r in reps],
            peak_off_heap_mb=off_heap_mb,
            sampler_cpu_s=sampler.cpu_s,
            op_s=ops,
        )
        metrics = {
            m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
            for m in spec["end_to_end"]
        }
    print("# detail " + json.dumps(detail), flush=True)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }


def traced(args, spec, wl, tr, tracer, work, detail):
    """One untraced rep, then traced reps for ``--seconds``; spans and
    streaming progress give the layer split, the event log the executor,
    shuffle and Python-boundary totals. The batch_queries run also runs
    the streaming dedup leg, the stream_trie run a single-core reference."""
    from perfbench.workloads import DedupLeg

    kw = wl.trace_kw(tracer)
    base = wl.rep(**{k: v for k, v in kw.items() if k != "tracer"})
    tracer.enabled = True
    since = time.time()
    reps = measure(wl, args.seconds, **kw)
    reps_all = reps + wl.extra_traced(tracer)
    end = time.time()
    tracer.enabled = False
    tracer.unwrap_all()
    wl.finish()
    t = time.time()
    attempted, failed = check_all(wl, [base, *reps_all])
    detail["check_s"] = time.time() - t
    values = wl.layers(tracer, reps_all, since)
    if args.workload == "batch_queries":
        # the streaming dedup layer, which shares the minhash kernels with
        # dedup_minhash; after the traced window, so the event-log totals
        # below stay the queries'
        t = time.time()
        leg, a, f = DedupLeg(wl.spark, work, wl.cache, args.seed).run(tracer)
        detail["dedup_leg_s"] = time.time() - t
        values.update(leg)
        attempted, failed = attempted + a, failed + f
    traces = os.path.join(os.path.dirname(work), "traces")
    os.makedirs(traces, exist_ok=True)
    tracer.dump(os.path.join(traces, f"{args.workload}-{args.seed}.json"))
    wl.spark.stop()  # flushes the event log
    traced_wall = sum(r.wall_s for r in reps_all)
    values.update(
        tr.event_log_metrics(os.path.join(work, "events"), since, end, traced_wall, CORES)
    )
    values["trace.overhead_ratio"] = statistics.median(r.wall_s for r in reps) / base.wall_s - 1
    if args.workload == "stream_trie":
        # single-core reference for the N -> 4N scaling rule: the same
        # chunks through a new query in a local[1] context on the same
        # JVM, up to the first batch after warm-up, whose time is set
        # against that of the same batch in the untraced local[4] rep
        t = time.time()
        wl.spark = start_session(work, 1)
        run1 = wl.new_run("local1")
        one = wl.rep(run1, chunks=1)
        wl.stop_run(run1)
        a, f = check_all(wl, [one])
        attempted, failed = attempted + a, failed + f
        values["stream_trie.scaling_1to4"] = one.op_s[0] / base.op_s[0]
        detail.update(local1_batch_s=one.op_s[0], local1_leg_s=time.time() - t)
    detail.update(
        base_wall_s=base.wall_s,
        base_op_s=base.op_s,
        traced_walls=[r.wall_s for r in reps_all],
    )
    metrics = {
        m["name"]: {"value": values.get(m["name"], 0), "unit": m["unit"]}
        for m in spec["per_layer"]
    }
    detail["not_run"] = sorted(m for m in metrics if m not in values)
    return metrics, attempted, failed


if __name__ == "__main__":
    main()
