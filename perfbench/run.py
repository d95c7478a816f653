"""Repository benchmark: one seeded batch workload, timed end to end, or
traced layer by layer.

    python3 perfbench/run.py --workload crn_qa|images \\
        --seed N --seconds S --trace 0|1

Run from the repository root. The run starts a local[nproc] Spark
session, commits the seeded inputs through ``sources.save_table``, runs
one untimed warm-up pass, then runs timed passes back to back (one
client, closed loop): at least one, and more while they fit in
``--seconds``. Every pass rebuilds every DataFrame and checks every
operator's output. The last line on stdout is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). A record of the run, with host steal%, load average and
the spans of a traced run, is written under ``.perfbench/runs/``. All
scratch data lives under ``.perfbench/`` and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time

T0 = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(ROOT, ".perfbench")
WORK = os.path.join(STATE, "work")
RUNS = os.path.join(STATE, "runs")
DRIVER_MEM = "2g"  # fits a shared 15 GiB box next to nproc Python workers
# Generators take seeds in [0, 2**31): numpy's default_rng refuses
# negative seeds, and Spark literals must fit a long. Any --seed maps
# into that range, deterministically.
SEED_RANGE = 1 << 31


def _cpu_stat() -> tuple[int, int]:
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals), vals[7] if len(vals) > 7 else 0


def _descendants(root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    s = f.read()
            except OSError:
                continue
            kids.setdefault(int(s[s.rindex(")") + 2:].split()[1]), []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _pss_mb(pid: int) -> float:
    """Proportional set size: resident pages, with each page shared by n
    processes (forked Python workers share most of theirs) counted 1/n."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class RssSampler(threading.Thread):
    """Resident memory of the driver JVM and every process under it (the
    Python worker daemon and its workers), summed as proportional set
    sizes so pages shared across forks count once; sampled from /proc.
    ``take`` returns the peak since the last take."""

    def __init__(self, jvm_pid: int, period: float = 0.1):
        super().__init__(daemon=True)
        self.jvm_pid, self.period = jvm_pid, period
        self.peak = 0.0
        self._lock = threading.Lock()
        self._halt = threading.Event()

    def run(self) -> None:
        while not self._halt.is_set():
            total = sum(_pss_mb(p) for p in _descendants(self.jvm_pid))
            with self._lock:
                self.peak = max(self.peak, total)
            self._halt.wait(self.period)

    def take(self) -> float:
        with self._lock:
            peak, self.peak = self.peak, 0.0
        return peak

    def stop(self) -> None:
        self._halt.set()
        self.join()


def configure_env(cpus: int) -> None:
    """Pin the engine's knobs and keep every file the run writes inside
    the checkout: the package zip cache (under HOME), Python and JVM
    temp files, Spark's shuffle and block directories."""
    for d in ("home", "tmp", "local"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "HOME": os.path.join(WORK, "home"),
        "TMPDIR": os.path.join(WORK, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "local"),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        # every JVM, the spark-submit launcher's too: no /tmp/hsperfdata_*
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
    })


def start_session(cpus: int):
    from egp_crn_spark.session import get_session

    return get_session("perfbench", cores=cpus, driver_memory=DRIVER_MEM, extra_conf={
        # a fixed, pre-touched heap: G1's run-to-run heap sizing would
        # otherwise swing the driver's resident memory by +-20%
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    })


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for the JVM
    and every process it started to end."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    pids = _descendants(proc.pid) if proc else []
    spark.stop()
    if proc is None:
        return
    gw.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except Exception:
        proc.kill()
        proc.wait()
    deadline = time.time() + 15
    for p in pids:
        while os.path.exists(f"/proc/{p}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{p}"):
            try:
                os.kill(p, 9)
            except OSError:
                pass
    SparkContext._gateway = SparkContext._jvm = None


def measure(wl, seconds: float, first_pass: int, rss: RssSampler) -> list[dict]:
    """Closed loop: passes back to back, at least one, until the next one
    would end after ``seconds``. Records each pass's wall and peak
    memory, and the cached-RDD count and scratch bytes left behind after
    it."""
    from perfbench.workloads import dir_bytes

    passes: list[dict] = []
    t_start = time.perf_counter()
    p = first_pass
    while True:
        rss.take()
        with wl.tracer.span("pass", n=p) as span:
            wl.run_pass(p)
        peak = rss.take()
        jsc = wl.spark.sparkContext._jsc
        passes.append({"pass": p, "wall_s": span["end"] - span["start"], "peak_rss_mb": peak,
                       "cached_rdds": jsc.getPersistentRDDs().size(),
                       "tmp_bytes": sum(dir_bytes(os.path.join(WORK, d))[0]
                                        for d in ("tmp", "local"))})
        p += 1
        elapsed = time.perf_counter() - t_start
        if elapsed + statistics.median(x["wall_s"] for x in passes) > seconds:
            return passes


def layer_metrics(wl, tracer, events: dict, passes: list[dict]) -> dict[str, float]:
    """Per-layer metrics of the traced passes (means per pass); metrics of
    operators this workload does not call stay 0."""
    from perfbench.layers import PASS_METRICS, YIELDS, operator_metrics

    nums = {x["pass"] for x in passes}
    n = len(nums)
    by_id = {s["id"]: s for s in tracer.spans}
    in_pass = []
    for s in tracer.spans:
        q = s
        while q["parent"] is not None:
            q = by_id[q["parent"]]
        if q["name"] == "pass" and q.get("n") in nums:
            in_pass.append(s)
    m = dict.fromkeys(operator_metrics() + PASS_METRICS, 0.0)

    def add(k, v):
        m[k] += v / n

    for s in in_pass:
        dur = s["end"] - s["start"]
        if s["name"] in ("sources.save", "sources.load", "sources.lineage"):
            add(s["name"] + "_s", dur)
        elif s["name"] in ("construct", "execute"):
            op = by_id[s["parent"]]["name"]
            add(f"operators.{op}.{s['name'].replace('execute', 'exec')}_s", dur)
    # direct children of the pass spans: operator calls + the lineage step
    covered = sum(s["end"] - s["start"] for s in in_pass if s.get("kind") in ("op", "lineage"))
    m["trace.span_coverage"] = covered / sum(x["wall_s"] for x in passes)
    for g, ev in events.items():
        op, _, p = g.rpartition("#")
        if int(p) not in nums:
            continue
        for k in ("task_cpu_s", "shuffle_bytes", "py_worker_s"):
            add(f"operators.{op}.{k}", ev.get(k, 0.0))
        for k in ("gc_s", "spill_bytes", "fetch_wait_s", "py_bytes"):
            add("spark." + k, ev.get(k, 0.0))
        if op in YIELDS:
            name, pattern, pick = YIELDS[op]
            cand = [r for _d, node, r in sorted(ev.get("nodes", [])) if pattern in node]
            base = (max(cand) if pick == "max" else cand[0]) if cand else 0
            if base > 0:
                add(f"operators.{op}.{name}", wl.out_rows.get(op, 0) / base)
    m["sources.bytes_written"] = float(wl.written[0])
    m["sources.files_written"] = float(wl.written[1])
    m["sources.write_amp"] = wl.written[0] / wl.input_bytes
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "egp_crn_spark", "session.py")):
        print("perfbench: egp_crn_spark/ not found next to perfbench/; run from the "
              "repository root", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.layers import unit
    from perfbench.trace import EventLog, Tracer, parse_event_log
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    cpus = len(os.sched_getaffinity(0))
    shutil.rmtree(WORK, ignore_errors=True)
    configure_env(cpus)
    os.makedirs(RUNS, exist_ok=True)
    cpu0 = _cpu_stat()

    spark = start_session(cpus)
    session_s = time.perf_counter() - T0
    try:
        tracer = Tracer(spark.sparkContext, groups=False)
        wl = WORKLOADS[args.workload](spark, tracer, WORK, args.seed % SEED_RANGE, cpus)
        t = time.perf_counter()
        wl.setup()
        input_s = time.perf_counter() - t
        t = time.perf_counter()
        wl.run_pass(0)
        warmup_s = time.perf_counter() - t
        setup_s = time.perf_counter() - T0

        sampler = RssSampler(spark.sparkContext._gateway.proc.pid)
        sampler.start()
        # a traced run prints no end-to-end metric: one untraced pass
        # before the traced ones is enough for the overhead baseline
        passes = measure(wl, 0.0 if args.trace else args.seconds, 1, sampler)
        wall = statistics.median(x["wall_s"] for x in passes)
        metrics = {
            "wall_s": (wall, "s"),
            "rows_per_s": (wl.input_rows / wall, "rows/s"),
            "setup_s": (setup_s, "s"),
            "peak_rss_mb": (statistics.median(x["peak_rss_mb"] for x in passes), "MB"),
            "ok_frac": (1.0 - len(wl.failed) / wl.attempted, "fraction"),
        }
        record = {"session_s": session_s, "input_s": input_s, "warmup_s": warmup_s,
                  "passes": passes}

        if args.trace:
            # the same warm context, now with the event log attached and
            # one job group per operator span
            wl.tracer = tracer = Tracer(spark.sparkContext, groups=True)
            with EventLog(spark, os.path.join(WORK, "events")) as log:
                traced = measure(wl, args.seconds, passes[-1]["pass"] + 1, sampler)
            events = parse_event_log(log.path)
            t_wall = statistics.median(x["wall_s"] for x in traced)
            # passes still get faster as the JVM warms: the untraced
            # baseline is the mean of the passes just before and after
            wl.tracer = Tracer(spark.sparkContext, groups=False)
            after = measure(wl, 0.0, traced[-1]["pass"] + 1, sampler)
            baseline = (passes[-1]["wall_s"] + after[0]["wall_s"]) / 2
            metrics = {k: (v, unit(k)) for k, v in
                       layer_metrics(wl, tracer, events, traced).items()}
            metrics["session.start_s"] = (session_s, "s")
            metrics["trace.wall_s"] = (t_wall, "s")
            metrics["trace.overhead"] = (t_wall / baseline, "ratio")
            metrics["hygiene.cached_rdds"] = (float(traced[-1]["cached_rdds"]), "count")
            metrics["hygiene.tmp_mb"] = (traced[-1]["tmp_bytes"] / 2**20, "MB")
            record["traced_passes"] = traced
            record["untraced_after"] = after
            tracer.self_times()
            record["spans"] = tracer.spans
        sampler.stop()
    finally:
        stop_spark(spark)

    cpu1 = _cpu_stat()
    record.update({
        "workload": args.workload, "seed": args.seed, "trace": args.trace, "nproc": cpus,
        "steal_pct": 100.0 * (cpu1[1] - cpu0[1]) / max(cpu1[0] - cpu0[0], 1),
        "loadavg": os.getloadavg(), "failed": wl.failed, "attempted": wl.attempted,
        "metrics": {k: v for k, (v, _u) in metrics.items()},
    })
    with open(os.path.join(RUNS, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
              "w") as f:
        json.dump(record, f)
    shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps({
        "correct": not wl.failed,
        "attempted": wl.attempted,
        "failed": len(wl.failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
