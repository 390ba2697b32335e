#!/usr/bin/env python3
"""The repository benchmark: two closed-loop workloads over the sf0.1
fixture, timed end to end, or traced layer by layer.

    python3 perfbench/run.py --workload tile_join --seed 1 --seconds 20 --trace 0

Run it from the repository root.  BENCHMARK.json names the workloads and
metrics.  The last line of standard output is the result:
`{"correct", "attempted", "failed", "metrics"}`, with the end-to-end
metrics when `--trace 0` and the per-layer metrics when `--trace 1`.
The line before it holds the details: host tag, set-up phases, every
named latency with its sample count, and (traced) the trace file path.

Everything the run writes goes under perfbench/.work/: the fixture
(generated once), the icelite snapshot and checkpoint outputs of this
run, Spark's scratch space, and traced runs' span files.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
WORK = HERE / ".work"
SF = "sf0.1"
# At least two measured cycles: a run with one gets only the cycle right
# after warm-up, which is the slowest (see LAYERS.md).
MIN_CYCLES = 2
RSS_PERIOD_S = 0.2


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def host_tag() -> dict:
    mem_kb = next(int(line.split()[1]) for line in open("/proc/meminfo") if line.startswith("MemTotal:"))
    sha = None
    if (REPO / ".git").exists():  # a plain checkout has no history
        sha = subprocess.run(["git", "-C", str(REPO), "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10).stdout.strip() or None
    src = hashlib.sha256()
    for p in sorted((REPO / "georaster_spark").rglob("*.py")):
        src.update(p.read_bytes())
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_kb": mem_kb,
        "pyspark": pyspark.__version__,
        "git_sha": sha,
        "src_sha256": src.hexdigest()[:16],
    }


def start_session(host: dict, run_dir: Path):
    """local[nproc] with a driver heap of a quarter of MemTotal."""
    from georaster_spark.session import get_spark

    heap_mb = max(1024, host["mem_total_kb"] // 4 // 1024)
    spark = get_spark(
        master=f"local[{host['nproc']}]",
        app_name="perfbench",
        extra_conf={
            "spark.driver.memory": f"{heap_mb}m",
            "spark.ui.showConsoleProgress": "false",
            "spark.executorEnv.PYTHONPATH": str(REPO),
            "spark.local.dir": str(run_dir / "spark-local"),
            "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
            # keep the JVM's temp files in the run directory; -UsePerfData
            # stops it writing /tmp/hsperfdata_<user>
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run_dir / 'tmp'} -XX:-UsePerfData",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class RssSampler(threading.Thread):
    """Peak resident memory of the driver JVM plus its descendants (the
    Python worker daemon and its workers), sampled from /proc."""


    def __init__(self, pid: int):
        super().__init__(daemon=True)
        self.pid = pid
        self.peak_kb = 0
        self._done = threading.Event()
        self._page_kb = os.sysconf("SC_PAGE_SIZE") // 1024

    def _tree_kb(self) -> int:
        """Resident set size of the process tree.  (statm is cheap to read;
        smaps_rollup walks the JVM's page tables and stalls it.)"""
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    stat = Path(f"/proc/{d}/stat").read_text()
                except OSError:
                    continue
                ppid = int(stat.rsplit(")", 1)[1].split()[1])
                children.setdefault(ppid, []).append(int(d))
        total, todo = 0, [self.pid]
        while todo:
            p = todo.pop()
            try:
                total += int(Path(f"/proc/{p}/statm").read_text().split()[1]) * self._page_kb
            except OSError:
                continue
            todo += children.get(p, [])
        return total

    def run(self) -> None:
        while not self._done.wait(RSS_PERIOD_S):
            self.peak_kb = max(self.peak_kb, self._tree_kb())

    def stop(self) -> float:
        self._done.set()
        self.join()
        return self.peak_kb / 1024.0


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat: the share of this VM's CPU
    time its host gave to others, for reading noisy timings."""
    fields = [int(v) for v in open("/proc/stat").readline().split()[1:]]
    return fields[7], sum(fields)


def run_op(op, tracer, request: int, log: list) -> bool:
    """Run one operation (timed), then check its output (untimed)."""
    if op.prep:
        op.prep()
    try:
        if tracer:
            with tracer.span(op.name, request) as sp:
                t0 = time.perf_counter()
                out = op.run(tracer.collect)
                dt = time.perf_counter() - t0
            sp.extra.update(op.extra)
            sp.extra["result"] = out if isinstance(out, int) else None
            sp.extra["rows"] = len(out) if isinstance(out, list) else None
            with tracer.span("check", request):
                ok = bool(op.check(out))
        else:
            t0 = time.perf_counter()
            out = op.run(lambda df: df.collect())
            dt = time.perf_counter() - t0
            ok = bool(op.check(out))
    except Exception:  # an engine failure is a failed operation, not a crashed run
        traceback.print_exc()
        dt, ok = float("nan"), False
    if not ok:
        print(f"perfbench: {op.name} (request {request}) failed its check", file=sys.stderr)
    log.append({"op": op.name, "request": request, "s": dt, "ok": ok})
    return ok


def run_cycle(wl, k: int, tracer, log: list) -> float:
    t0 = time.perf_counter()
    ops = wl.cycle(k, tracer is not None)
    if tracer:
        with tracer.span(f"{wl.name}.job", k):
            for op in ops:
                run_op(op, tracer, k, log)
    else:
        for op in ops:
            run_op(op, None, k, log)
    wl.cleanup(k)
    return time.perf_counter() - t0


def summary(values: list[float]) -> dict:
    """Median and maximum, with the sample count.  A run holds too few
    samples for a percentile with ten samples beyond it, so the tail is
    the maximum."""
    vals = [v for v in values if v == v]
    if not vals:
        return {"median": None, "max": None, "n": 0}
    return {"median": statistics.median(vals), "max": max(vals), "n": len(vals)}


def job_time(log: list, wl) -> float:
    """A job's time: the sum, over the operations that make up one job,
    of each operation's median latency in `log` (failed runs of an
    operation have no latency; the result line reports them)."""
    total = 0.0
    for op in wl.named:
        times = [e["s"] for e in log if e["op"] == op and e["s"] == e["s"]]
        total += statistics.median(times) if times else 0.0
    return total


def layer_metrics(spec: list[dict], values: dict, exercised: tuple[str, ...]) -> dict:
    """The result line's per-layer metrics.  The result line carries every
    per-layer metric; a layer the workload does not call did no work and
    reads 0.  A metric of a layer it calls must have been measured, and
    nothing measured may be missing from the spec."""
    want = {m["name"] for m in spec if m["name"].split(".")[0] in exercised}
    if want != set(values):
        raise RuntimeError(f"per-layer metrics not measured: {sorted(want - set(values))}; "
                           f"measured but not in BENCHMARK.json: {sorted(set(values) - want)}")
    return {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]} for m in spec}


class Bench:
    def __init__(self, args, spec: dict, run_dir: Path):
        self.args = args
        self.spec = spec
        self.run_dir = run_dir
        self.spark = None
        self.sampler = None

    def run(self) -> tuple[dict, dict]:
        from pyspark import SparkContext

        import spans
        from georaster_spark.sources.fixtures import ensure_fixtures
        from workloads import WORKLOADS

        a = self.args
        host = host_tag()
        t0 = time.perf_counter()
        self.spark = start_session(host, self.run_dir)
        self.sampler = RssSampler(SparkContext._gateway.proc.pid)
        self.sampler.start()
        fx = ensure_fixtures(SF)
        launch_s = time.perf_counter() - t0

        wl = WORKLOADS[a.workload](fx, self.run_dir, a.seed)
        t = time.perf_counter()
        wl.prepare(self.spark)
        prepare_s = time.perf_counter() - t
        t = time.perf_counter()
        wl.expect()
        expect_s = time.perf_counter() - t
        log: list = []
        # one untimed cycle fills the caches: JIT, codegen, the Python worker pool
        warmup_s = run_cycle(wl, -1, None, log)
        setup_s = launch_s + prepare_s + expect_s + warmup_s

        tracer = spans.Tracer(self.spark) if a.trace else None
        cycles: list[float] = []
        steal0, total0 = cpu_times()
        t_start = time.perf_counter()
        while True:
            cycles.append(run_cycle(wl, len(cycles), tracer, log))
            elapsed = time.perf_counter() - t_start
            if len(cycles) >= MIN_CYCLES and elapsed + statistics.median(cycles) / 2 >= a.seconds:
                break
        measured_s = time.perf_counter() - t_start
        steal1, total1 = cpu_times()
        peak_mb = self.sampler.stop()

        failed = sum(not e["ok"] for e in log)
        timed = [e for e in log if e["request"] >= 0]
        detail = {
            "workload": a.workload, "seed": a.seed, "trace": a.trace, "host": host,
            "setup": {"launch_s": launch_s, "prepare_s": prepare_s, "expect_s": expect_s,
                      "warmup_s": warmup_s},
            "measured_s": measured_s, "cycle_s": cycles,
            "cpu_steal_frac": (steal1 - steal0) / max(1, total1 - total0),
            "peak_rss_mb": peak_mb,
            "error_rate": failed / len(log),
            "latency_s": {metric: summary([e["s"] for e in timed if e["op"] == op])
                          for op, metric in wl.named.items()},
        }
        job_s = job_time(timed, wl)
        detail["job_s"] = job_s
        medians = {m: detail["latency_s"][m]["median"] for m in wl.named.values()}
        if None not in medians.values():
            detail.update(wl.rates(medians))
        result = {"correct": failed == 0, "attempted": len(log), "failed": failed}
        if not a.trace:
            values = {"setup_s": setup_s, "job_s": job_s, "peak_rss_mb": peak_mb}
            result["metrics"] = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
                                 for m in self.spec["end_to_end"]}
        else:
            per_cycle = []
            for k in range(len(cycles)):
                ops = [s for s in tracer.spans
                       if s.request == k and s.parent is not None and s.name != "check"]
                # Counters and times of the job's own operations; the
                # traced-only ops of fused layers enter only via `layers`.
                own = [s for s in ops if s.name in wl.named]
                per_cycle.append({**spans.common_layers(own, self.spark.sparkContext.defaultParallelism),
                                  **wl.layers(ops)})
            values = spans.combine(per_cycle)
            detail["traced_job_s"] = job_time(
                [{"op": sp.name, "s": sp.dur} for sp in tracer.spans if sp.request >= 0], wl)
            path = WORK / "traces" / f"{a.workload}-seed{a.seed}-{time.time_ns()}.json"
            path.parent.mkdir(parents=True, exist_ok=True)
            tracer.dump(path, {"workload": a.workload, "seed": a.seed, "host": host,
                               "layers_per_cycle": per_cycle})
            detail["trace_file"] = str(path.relative_to(REPO))
            exercised = spans.COMMON_LAYERS + wl.LAYERS
            result["metrics"] = layer_metrics(self.spec["per_layer"], values, exercised)
            detail["layers_not_exercised"] = sorted({m.split(".")[0] for m in result["metrics"]} - set(exercised))
        return detail, result

    def close(self) -> None:
        """Stop the sampler, Spark, and the JVM it launched; wait for them."""
        if self.sampler and self.sampler.is_alive():
            self.sampler.stop()
        try:
            if self.spark is not None:
                self.spark.stop()
        finally:
            # stop the JVM and remove the run's files even when a signal
            # cut a Spark call short and stop() failed
            from pyspark import SparkContext

            gw = SparkContext._gateway
            if gw is not None:
                proc = gw.proc
                gw.shutdown()
                proc.stdin.close()  # the gateway JVM exits when its stdin closes
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            shutil.rmtree(self.run_dir, ignore_errors=True)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (REPO / "georaster_spark" / "session.py").is_file():
        fail(f"no georaster_spark package beside {HERE.name}/; run from a full checkout")
    spec = json.loads((REPO / "BENCHMARK.json").read_text())
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {args.workload!r}")

    sys.path.insert(1, str(REPO))
    os.environ["SPARK_GRAFT_FIXTURES"] = str(WORK / "fixtures")
    run_dir = WORK / f"run-{os.getpid()}"
    for sub in ("spark-local", "warehouse", "tmp"):
        (run_dir / sub).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(run_dir / "tmp")
    # on SIGTERM, unwind through close() so Spark and its JVM stop too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    bench = Bench(args, spec, run_dir)
    try:
        detail, result = bench.run()
    finally:
        bench.close()
    print(json.dumps(detail))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
