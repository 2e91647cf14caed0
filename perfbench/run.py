#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload bounded_grid --seed 1 --seconds 3 --trace 0

Run from the root of a source checkout. The run builds everything it
measures from the checkout's sources and the seed: it starts Spark as
``local[<cores>]``, sets up the workload in a fresh work directory under
the checkout (deleted at the end), runs a closed-loop client for at
least ``--seconds`` (whole rounds of batches), checks every output,
stops every process it started and prints one JSON object as its last
line of output.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` is the
separate traced run: it reports the per-layer metrics, from spans the
benchmark records around the engine's entry points and from Spark's
event log, and repeats each traced batch untraced to measure the
tracing overhead.
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
import tempfile
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

TRACE_BATCHES = 3  # traced batches per-layer figures are taken over
# C1 only: a run lives about a minute, and the optimizing JIT (C2) was
# still compiling through the whole window, so the CPU per batch fell by
# a quarter over a run's batches, at a pace set by the host's load.
# With C1 alone the batches of a run cost about the same.
JIT_OPTIONS = "-XX:TieredStopAtLevel=1"
MAX_BATCH_ERRORS = 3  # consecutive failing batches that end the window


def parse_args(argv):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True, help="test-query stream (>= 0)")
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if args.seed < 0:
        p.error("--seed must be >= 0")
    return args


# --- environment -----------------------------------------------------------


def pin_environment(work: str) -> dict:
    """Engine defaults on all of the host's cores, one BLAS thread per
    Python worker, and every scratch file inside ``work``."""
    import numpy
    import pyarrow
    import pyspark

    dropped = sorted(k for k in os.environ if k.startswith("SPARK_GRAFT_"))
    for k in dropped + ["SPARK_MASTER"]:
        os.environ.pop(k, None)
    cores = len(os.sched_getaffinity(0))
    ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    driver_gb = max(1, min(2, int(ram_gb // 4)))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_DRIVER_MEM": f"{driver_gb}g",
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": tmp,
        # spark-submit's launcher JVM: no files in /tmp either
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    })
    return {
        "cores": cores,
        "ram_gb": round(ram_gb, 1),
        "SPARK_GRAFT_CPUS": cores,
        "SPARK_DRIVER_MEM": f"{driver_gb}g",
        "executor OPENBLAS_NUM_THREADS": 1,
        "dropped_env": dropped,
        "spark": pyspark.__version__,
        "numpy": numpy.__version__,
        "pyarrow": pyarrow.__version__,
        "python": sys.version.split()[0],
        "driver JVM JIT": JIT_OPTIONS,
    }


def spark_conf(work: str, trace: bool) -> dict[str, str]:
    from tracing import event_log_conf

    conf = {
        "spark.executorEnv.OPENBLAS_NUM_THREADS": "1",
        "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # no hsperfdata files in /tmp, JVM temp files in the work dir
        "spark.driver.extraJavaOptions": "-Dio.netty.tryReflectionSetAccessible=true"
        f" -XX:-UsePerfData {JIT_OPTIONS}"
        f" -Djava.io.tmpdir={os.environ['TMPDIR']}",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update(event_log_conf(os.path.join(work, "eventlog")))
    return conf


# --- processes ---------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(root: int) -> set[int]:
    kids = _children()
    out, todo = set(), [root]
    while todo:
        p = todo.pop()
        out.add(p)
        todo += kids.get(p, [])
    return out


def cpu_seconds(pids: set[int]) -> float:
    """User + system CPU time of ``pids`` and their reaped children."""
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])
    return total / os.sysconf("SC_CLK_TCK")


def steal_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the machine so far."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


def rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def command_and_parent(pid: int) -> tuple[str, int]:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return "?", 0
    return raw[raw.index("(") + 1 : raw.rindex(")")], int(raw.rsplit(")", 1)[1].split()[1])


def program_processes(root: int) -> dict[int, str]:
    """The Python and Java processes of ``root``'s tree, by command. A
    helper the JVM forks (chmod for a file it writes, or a fork not yet
    exec'd) is left out: until it execs it reports the JVM's whole
    RSS, pages it shares with the JVM."""
    procs = {p: command_and_parent(p) for p in process_tree(root)}
    return {
        p: name
        for p, (name, ppid) in procs.items()
        if name.startswith("python")
        or (name == "java" and procs.get(ppid, ("?", 0))[0] != "java")
    }


class RssSampler(threading.Thread):
    """Peak summed RSS of this process and its descendants (the JVM and
    the Python workers; see ``program_processes``), sampled every
    ``interval`` seconds. ``phase`` names the part of the run a peak
    falls in."""

    def __init__(self, interval: float = 0.25):
        super().__init__(daemon=True, name="rss-sampler")
        self.interval = interval
        self.peak_mb = 0.0
        self.phase = "set-up"
        self.peak_at = ""  # phase and per-command RSS at the peak
        self._halt = threading.Event()

    def run(self):
        while not self._halt.is_set():
            procs = program_processes(os.getpid())
            rss = {p: rss_mb(p) for p in procs}
            total = sum(rss.values())
            if total > self.peak_mb:
                self.peak_mb = total
                by: dict[str, list[float]] = {}
                for p, mb in rss.items():
                    by.setdefault(procs[p], []).append(mb)
                self.peak_at = f"{self.phase}: " + ", ".join(
                    f"{len(v)} {name} {sum(v):.0f} MB" for name, v in sorted(by.items())
                )
            self._halt.wait(self.interval)

    def cpu_seconds(self) -> float:
        """CPU time of the sampler thread itself, which the driver
        process's CPU time includes."""
        with open(f"/proc/self/task/{self.native_id}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")

    def stop(self):
        self._halt.set()
        self.join()


def stop_spark(spark) -> None:
    """Stop Spark, end its JVM and wait until every process the run
    started (the JVM and its Python workers) has exited."""
    from pyspark import SparkContext

    started = process_tree(os.getpid())
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        gw.proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            gw.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            gw.proc.kill()
            gw.proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 30
    rest = started - {os.getpid()}
    while rest and time.time() < deadline:
        rest = {p for p in rest if os.path.exists(f"/proc/{p}")}
        time.sleep(0.1)
    for p in rest:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while any(os.path.exists(f"/proc/{p}") for p in rest):
        time.sleep(0.1)


# --- the run -----------------------------------------------------------------


def timed_window(wl, ctx, seconds: float, trace: bool, sampler: RssSampler):
    """The closed loop: batch i+1 is submitted only after batch i has
    been collected. The window ends with the first whole round of
    batches (``wl.round``) after ``seconds`` and after at least
    ``wl.rounds`` rounds. Each batch records the CPU time the program's
    processes spent serving it, less the memory sampler's. A traced run
    also serves each batch untraced, just before or just after the
    traced one."""
    batches, repeats, failed_ops = [], [], 0
    errors = 0
    t_end = time.perf_counter() + seconds
    i = 0
    me = os.getpid()

    def untraced(i):
        ctx.tracer.enabled = False
        try:
            return wl.serve(ctx, i)
        finally:
            ctx.tracer.enabled = True

    while (time.perf_counter() < t_end or i % wl.round or i < wl.round * wl.rounds
           or (trace and len(batches) < TRACE_BATCHES)):
        ctx.tracer.batch = i
        try:
            # the untraced repeat of a traced batch runs after it on even
            # batches and before it on odd ones, so neither side of the
            # pair always gets the warmer run
            if trace and i % 2:
                r = untraced(i)
            tree = process_tree(me)
            cpu0 = cpu_seconds(tree) - sampler.cpu_seconds()
            b = wl.serve(ctx, i)
            # processes that ended during the batch are in their
            # parents' reaped-children time
            b.cpu_s = cpu_seconds(tree | process_tree(me)) - sampler.cpu_seconds() - cpu0
            if trace and not i % 2:
                r = untraced(i)
        except Exception:  # a batch that errors is a failed operation
            traceback.print_exc()
            failed_ops += wl.batch_size
            errors += 1
            i += 1
            if errors >= MAX_BATCH_ERRORS:
                break
            continue
        errors = 0
        batches.append(b)
        if trace:
            repeats.append(r)
        i += 1
    return batches, repeats, failed_ops


# every per-layer metric, with its unit; a layer a workload does not
# exercise reports 0
LAYER_UNITS = {
    "session.start_s": "s",
    "kmeans.train_s": "s",
    "ivf.build_s": "s",
    "ivfpq.build_s": "s",
    "error_profile.fit_s": "s",
    "knn.exact_gt_s": "s",
    "ivf.coarse_rank_ms": "ms",
    "error_profile.jobs_per_batch": "count",
    "error_profile.driver_ms_per_batch": "ms",
    "error_profile.mean_nprobe": "lists",
    "error_profile.nprobe_over_oracle": "ratio",
    "spark.jobs_per_batch": "count",
    "spark.driver_ms_per_batch": "ms",
    "scan.rows_per_query": "rows",
    "scan.task_ms_per_batch": "ms",
    "scan.input_mb_per_batch": "MB",
    "ivfpq.adc_ms": "ms",
    "ivfpq.refine_ms": "ms",
    "spark.shuffle_mb_per_batch": "MB",
    "jvm.gc_ms_per_batch": "ms",
    "ingest.drain_ms": "ms",
    "ingest.files_per_list": "count",
    "dedup.pairs_ms": "ms",
    "dedup.candidate_pairs": "count",
    "components.ms": "ms",
    "trace.overhead_ms_per_batch": "ms",
}


def layer_metrics(wl, ctx, traced, repeats, log_dir) -> dict[str, float]:
    """Per-layer figures, averaged over the ``traced`` batches."""
    from tracing import busy_seconds, jobs_within, read_event_log

    jobs = read_event_log(log_dir)
    tr = ctx.tracer
    out = dict.fromkeys(LAYER_UNITS, 0.0)
    out.update({k: v for k, v in ctx.setup.items() if k in LAYER_UNITS})
    per: dict[str, float] = {}

    def add(name: str, v: float) -> None:
        per[name] = per.get(name, 0.0) + v / len(traced)

    for b in traced:
        lo, hi = b.window
        bj = jobs_within(jobs, lo, hi)
        add("spark.jobs_per_batch", len(bj))
        add("scan.task_ms_per_batch", sum(j.task_ms for j in bj))
        add("scan.input_mb_per_batch", sum(j.input_bytes for j in bj) / 1e6)
        add("spark.shuffle_mb_per_batch", sum(j.shuffle_bytes for j in bj) / 1e6)
        add("jvm.gc_ms_per_batch", sum(j.gc_ms for j in bj))
        add("spark.driver_ms_per_batch", 1e3 * (hi - lo - busy_seconds(bj, lo, hi)))
        add("ivf.coarse_rank_ms", 1e3 * sum(s.dur for s in tr.of("ivf.coarse_rank", b.index)))
        for sr in tr.of("ivfpq.search_refine", b.index):
            # ADC: from the coded search call to the end of the last job
            # search_refine ran; the rest of the batch is the refine
            adc_start = tr.of("ivfpq.search", b.index)[0].start
            adc_end = max(j.end for j in jobs_within(jobs, sr.start, sr.end))
            add("ivfpq.adc_ms", 1e3 * (adc_end - adc_start))
            add("ivfpq.refine_ms",
                1e3 * (tr.of("collect", b.index)[0].end - sr.start - (adc_end - adc_start)))
    out.update(per)
    if wl.name == "bounded_grid":
        out["error_profile.jobs_per_batch"] = per["spark.jobs_per_batch"]
        out["error_profile.driver_ms_per_batch"] = per["spark.driver_ms_per_batch"]
    out.update(wl.layer_metrics(traced))
    pairs = sorted(
        1e3 * (b.latency - r.latency) for b, r in zip(traced, repeats)
    )
    out["trace.overhead_ms_per_batch"] = pairs[len(pairs) // 2]
    return out


def run(args, work: str) -> tuple[dict, list[str]]:
    import numpy as np

    import stats
    from tracing import Tracer
    from workloads import WORKLOADS, Check, Ctx

    env = pin_environment(work)
    lines = [f"environment: {json.dumps(env)}"]
    sampler = RssSampler()
    sampler.start()
    tracer = Tracer(enabled=bool(args.trace))
    t0 = time.perf_counter()
    wl = WORKLOADS[args.workload](args.seed)  # generates the inputs
    from auncel_spark.session import get_spark

    with tracer.span("session.start"):
        t_s = time.perf_counter()
        spark = get_spark(f"perfbench-{args.workload}", extra_conf=spark_conf(work, args.trace))
        session_s = time.perf_counter() - t_s
    try:
        ctx = Ctx(spark, tracer, work)
        ctx.setup["session.start_s"] = session_s
        wl.setup(ctx)
        # untimed first batches pay lazy set-up (JIT, worker imports)
        # of the search paths; they count as set-up, so work moved
        # between set-up and the first batch shows in setup_s
        if wl.warmup_queries:
            tracer.enabled = False
            with ctx.stage("warmup_s"):
                for i in wl.warmup_batches:
                    wl.serve(ctx, i, wl.warmup_queries)
            tracer.enabled = bool(args.trace)
        setup_s = time.perf_counter() - t0
        if args.trace:
            wl.instrument(tracer)
        st0 = steal_ticks()
        sampler.phase = "window"
        batches, repeats, failed_ops = timed_window(
            wl, ctx, args.seconds, bool(args.trace), sampler
        )
        st1 = steal_ticks()
        steal = (st1[0] - st0[0]) / max(st1[1] - st0[1], 1)
        sampler.phase = "after the window"
        if args.trace:
            wl.after_window(ctx)
    finally:
        sampler.stop()
        stop_spark(spark)

    if not batches:
        raise RuntimeError("no batch completed: nothing to check")
    chk = Check()
    wl.check(batches, chk)
    attempted = chk.attempted + failed_ops
    failed = chk.failed + failed_ops
    recall10 = float(np.mean(chk.recall10)) if chk.recall10 else 0.0
    if recall10 < wl.min_recall10:
        chk.problems.append(f"recall@10 {recall10:.4f} below {wl.min_recall10}")
    lat = [b.latency for b in batches]
    tail_v, tail_pct, beyond = stats.tail(lat)
    lines += [f"set-up stage {k}: {v:.3f} s" for k, v in ctx.setup.items()]
    lines.append(
        f"{len(batches)} batches, {attempted} operations attempted, {failed} failed "
        f"({failed / max(attempted, 1):.2%})"
    )
    lines += [f"check: {p}" for p in chk.problems]
    lines += [
        f"batch {b.index}: {1e3 * b.latency:.1f} ms, {b.ops} queries, k={b.k}"
        + f", CPU {b.cpu_s:.2f} s"
        + (f", bound={b.bound}" if b.bound is not None else "")
        + f", mean nprobe {b.nprobe.mean():.2f}"
        + (f", {chk.batch_failed[b.index]} missed the bound" if b.index in chk.batch_failed else "")
        + (f", {len(tracer.of('error_profile.stage_scan', b.index))} stage scans"
           if args.trace and tracer.of("error_profile.stage_scan") else "")
        for b in batches
    ]

    if args.trace:
        traced = batches[:TRACE_BATCHES]
        metrics = layer_metrics(wl, ctx, traced, repeats, os.path.join(work, "eventlog"))
        units = LAYER_UNITS
        for name, secs in sorted(tracer.self_times().items()):
            lines.append(f"self time {name}: {secs:.3f} s")
        out_dir = os.path.join(ROOT, ".perfbench-out")
        os.makedirs(out_dir, exist_ok=True)
        spans = os.path.join(out_dir, f"spans-{args.workload}-seed{args.seed}.json")
        tracer.dump(spans)
        lines.append(f"spans written to {os.path.relpath(spans, ROOT)}")
        lines.append(f"per-layer figures over the first {len(traced)} traced batches")
    else:
        ops = sum(b.ops for b in batches)
        # CPU per query of each round; the median over the rounds
        rounds: dict[int, list] = {}
        for b in batches:
            rounds.setdefault(b.index // wl.round, []).append(b)
        round_cpu = [1e3 * sum(b.cpu_s for b in r) / sum(b.ops for b in r)
                     for r in rounds.values()]
        metrics = {
            "setup_s": setup_s,
            "cpu_ms_per_query": statistics.median(round_cpu),
            "recall_at_10": recall10,
            "peak_rss_mb": sampler.peak_mb,
        }
        units = {"setup_s": "s", "cpu_ms_per_query": "ms", "recall_at_10": "ratio",
                 "peak_rss_mb": "MB"}
        samples = {"setup_s": "1", "cpu_ms_per_query": f"{len(round_cpu)} rounds, {ops} queries",
                   "recall_at_10": len(chk.recall10), "peak_rss_mb": "1"}
        for name, v in metrics.items():
            lines.append(f"{name}: {v:.4f} {units[name]} (n={samples[name]})")
        lines.append(f"peak RSS in {sampler.peak_at}")
        lines.append("cpu_ms_per_query of each round: "
                     + ", ".join(f"{v:.2f}" for v in round_cpu))
        # wall-clock figures: reported, not in the JSON result -- on a
        # shared VM their run-to-run spread follows the host's CPU steal
        # (see the steal share below) more than the engine
        lines += [
            f"qps: {ops / sum(lat):.4f} 1/s (n={ops}, wall clock)",
            f"batch_p50_ms: {1e3 * statistics.median(lat):.4f} ms (n={len(lat)}, wall clock)",
            f"batch_tail_ms: {1e3 * tail_v:.4f} ms (n={len(lat)}, wall clock;"
            f" p{tail_pct:.1f}, {beyond} batches beyond it)",
            f"machine CPU steal during the window: {steal:.1%}",
        ]
    lines += wl.summary()
    result = {
        "correct": not chk.problems,
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }
    return result, lines


def main(argv=None) -> int:
    # a terminated run still stops Spark and deletes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    sys.path.insert(0, HERE)
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import auncel_spark  # the engine under test, from this checkout
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    if not os.path.abspath(auncel_spark.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: engine imported from {auncel_spark.__file__}, not {ROOT}",
              file=sys.stderr)
        return 2
    work_root = os.path.join(ROOT, ".perfbench-work")
    os.makedirs(work_root, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=work_root)
    try:
        result, lines = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(work_root)
        except OSError:
            pass
    print("\n".join(f"# {line}" for line in lines))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
