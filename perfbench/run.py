"""CDC ingest benchmark: one workload per invocation on ``local[4]``.

    python3 perfbench/run.py --workload stream_tail --seed 1 --seconds 14 --trace 0

Builds (or reuses) the seeded fixture, starts the engine's Spark session,
runs warm-up passes on the measured input, then timed passes until
``--seconds`` have elapsed.  Every pass is checked against the oracle.
With ``--trace 0`` the last stdout line is a JSON object with the
end-to-end metrics; with ``--trace 1`` untraced and traced passes
alternate and the JSON carries the per-layer metrics.  Exits non-zero
when any pass fails or the engine is not importable.  See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
CORES = 4


def _isolate_scratch(run_dir: str) -> None:
    """Keep every file the run writes (Python and JVM temp files, Spark
    local dirs) inside the checkout, under ``run_dir``."""
    for d in os.listdir(WORK) if os.path.isdir(WORK) else []:
        # left behind by a run that was killed
        pid = d[4:] if d.startswith("run-") else ""
        if pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # -XX:InitialRAMPercentage=100: the heap starts at its maximum, so the
    # resident memory of a run does not depend on when G1 grows the heap
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:InitialRAMPercentage=100 -Djava.io.tmpdir={tmp} "
        "-XX:-UsePerfData")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")
    # ample for these fixtures, and keeps a run's memory small
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")


def _pass_line(tag: str, wall: float, cpu: float, ok: bool,
               batches: list) -> None:
    b = " ".join(f"{x:.2f}" for x in batches)
    print(f"pass {tag}: wall {wall:.3f} s  cpu {cpu:.2f} s  "
          f"oracle {'ok' if ok else 'MISMATCH'}  batch walls [{b}]",
          flush=True)


def main(argv: list[str] | None = None) -> int:
    import probes
    from workloads import WORKLOADS, build_fixture
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "binlog_spark")):
        print(f"perfbench: engine package binlog_spark not found under "
              f"{ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    _isolate_scratch(run_dir)
    wl = WORKLOADS[args.workload]

    # input preparation: excluded from setup_s and every timing
    t_prep = time.perf_counter()
    fx = build_fixture(wl.name, args.seed, os.path.join(WORK, "fixtures"))
    prep_s = time.perf_counter() - t_prep
    print(f"fixture {wl.name} seed {args.seed}: n_changes {fx.n_changes}  "
          f"n_frames {fx.n_frames}  binlog_bytes {fx.binlog_bytes}  "
          f"files {fx.n_files}  (prepared in {prep_s:.1f} s, excluded)",
          flush=True)

    spark = None
    try:
        with probes.ProcSampler() as sampler:
            from binlog_spark.session import get_spark, ship_package
            spark = get_spark(app="perfbench", cores=CORES)
            spark.sparkContext.setLogLevel("ERROR")
            ship_package(spark)
            return _measure(spark, wl, fx, args, sampler,
                            os.path.join(run_dir, "pass"), prep_s)
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it forked)
    to exit."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()   # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


@dataclass
class PassResult:
    start: float            # epoch seconds
    wall: float
    cpu: float
    batch_walls: list
    engine_s: float
    state_ok: bool
    scan_s: float
    lake_bytes: int


def _one_pass(fn, wl, spark, fx, run_dir: str, sampler, tag: str,
              *extra) -> PassResult | None:
    """Run one pass in a fresh lake directory, then the oracle gate (not
    timed into the pass).  None when the pass raised."""
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        c0, t0, start = sampler.cpu_s(), time.perf_counter(), time.time()
        applied = fn(spark, fx, run_dir, *extra)
        wall, cpu = time.perf_counter() - t0, sampler.cpu_s() - c0
        ok, scan_s, lake_bytes = wl.check(spark, fx, applied.handle)
    except Exception as e:  # a failed pass is counted, not fatal
        print(f"pass {tag}: FAILED {type(e).__name__}: {e}", flush=True)
        return None
    res = PassResult(start, wall, cpu, applied.batch_walls or [wall],
                     applied.engine_s, ok, scan_s, lake_bytes)
    _pass_line(tag, wall, cpu, ok, res.batch_walls)
    return res


def _passes(wl, spark, fx, run_dir: str, sampler, seconds: float):
    """Closed loop of untraced passes until ``seconds`` have elapsed (at
    least one).  Returns (passes that matched the oracle, attempted)."""
    ok: list[PassResult] = []
    attempted = 0
    t_end = time.perf_counter() + seconds
    while attempted == 0 or time.perf_counter() < t_end:
        res = _one_pass(wl.run, wl, spark, fx, run_dir, sampler,
                        f"timed-{attempted}")
        attempted += 1
        if res is not None and res.state_ok:
            ok.append(res)
    return ok, attempted


def _interleaved(wl, spark, fx, run_dir: str, sampler, seconds: float,
                 seed: int):
    """Untraced and traced passes in turn for ``2 * seconds``, so both see
    the JVM equally warm.  Returns (untraced passes, traced passes, their
    tracers, attempted); only passes that matched the oracle are kept."""
    import probes
    timed, traced, tracers = [], [], []
    attempted = i = 0
    t_end = time.perf_counter() + 2 * seconds
    while i == 0 or time.perf_counter() < t_end:
        res = _one_pass(wl.run, wl, spark, fx, run_dir, sampler,
                        f"timed-{i}")
        if res is not None and res.state_ok:
            timed.append(res)
        tr = probes.Tracer(spark, sampler)
        res = _one_pass(wl.traced, wl, spark, fx, run_dir, sampler,
                        f"traced-{i}", tr, f"{seed}-{i}")
        if res is not None and res.state_ok:
            traced.append(res)
            tracers.append(tr)
        attempted += 2
        i += 1
    return timed, traced, tracers, attempted


def _measure(spark, wl, fx, args, sampler, run_dir: str,
             prep_s: float) -> int:
    import probes

    warm, n_warm = [], wl.warmup_passes
    for i in range(n_warm):
        res = _one_pass(wl.run, wl, spark, fx, run_dir, sampler,
                        f"warmup-{i}")
        if res is not None and res.state_ok:
            warm.append(res)
    setup_s = probes.process_age_s() - prep_s
    print(f"setup {setup_s:.2f} s; warm-up passes {n_warm}, failed "
          f"{n_warm - len(warm)}", flush=True)

    if args.trace:
        timed, traced, tracers, attempted = _interleaved(
            wl, spark, fx, run_dir, sampler, args.seconds, args.seed)
        failed = attempted - len(timed) - len(traced)
    else:
        timed, attempted = _passes(wl, spark, fx, run_dir, sampler,
                                   args.seconds)
        failed = attempted - len(timed)
    correct = len(warm) == n_warm and failed == 0 and bool(timed)
    metrics: dict = {}
    if timed:
        rss = sampler.rss_samples([(r.start, r.start + r.wall)
                                   for r in timed])
        batches = [b for r in timed for b in r.batch_walls]
        tail_pct, tail = probes.tail_percentile(batches)
        metrics = {
            "setup_s": (setup_s, "s"),
            "events_per_s": (fx.n_changes
                             / probes.median([r.wall for r in timed]),
                             "1/s"),
            "cpu_s_per_kevent": (probes.median([r.cpu for r in timed])
                                 / (fx.n_changes / 1000), "s/kevent"),
            "batch_latency_p50_s": (probes.median(batches), "s"),
            "batch_latency_tail_s": (tail, "s"),
            "lake_scan_s": (probes.median([r.scan_s for r in timed]), "s"),
            "lake_bytes_per_input_byte": (
                probes.median([r.lake_bytes for r in timed])
                / fx.binlog_bytes, "ratio"),
            "rss_p95_mb": (probes.quantile(rss, 0.95) / (1 << 20), "MB"),
        }
        for name, (v, unit) in metrics.items():
            print(f"metric {name} = {v:.6g} {unit}")
        print(f"metric peak_rss_mb = {max(rss) / (1 << 20):.6g} MB "
              f"(max of {len(rss)} samples)")
        print(f"metric batch_latency_tail_s is p{tail_pct:.1f} of "
              f"{len(batches)} batch samples")
    print(f"metric failed_ratio = {failed / attempted:.6g} ratio "
          f"({failed} of {attempted} passes)")

    if args.trace:
        correct &= bool(traced)
        metrics = (_layer_metrics(spark, wl, fx, timed, traced, tracers)
                   if correct else {})
        if traced:
            _write_spans(tracers, wl.name, args.seed)

    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed,
                      "metrics": {k: {"value": v, "unit": u}
                                  for k, (v, u) in metrics.items()}}))
    return 0 if correct else 1


def _write_spans(tracers: list, workload: str, seed: int) -> None:
    path = os.path.join(WORK, f"spans-{workload}-{seed}.jsonl")
    with open(path, "w") as f:
        for tr in tracers:
            for rec in tr.to_records():
                f.write(json.dumps(rec) + "\n")
    print(f"spans written to {os.path.relpath(path, ROOT)}")


def _layer_metrics(spark, wl, fx, timed: list, traced: list,
                   tracers: list) -> dict:
    """Per-layer metrics: layer self costs from the traced passes, driver
    counters from the untraced ones, and their reconciliation."""
    import probes
    store = probes.StatusStore(spark)
    stages = store.stages()
    all_jobs = store.jobs(timed[0].start)
    med = probes.median

    # driver counters of each untraced pass: jobs the pass submitted
    # (its wall ends before the oracle read)
    drv = []
    for r in timed:
        end = r.start + r.wall
        jobs = [j for j in all_jobs if r.start <= j.start <= end]
        tot = probes.job_totals(jobs, stages)
        drv.append((probes.driver_gap_s(jobs, r.start, end), tot))

    per_pass = []
    for tr, r in zip(tracers, traced):
        costs = probes.layer_costs(tr, [j for j in all_jobs
                                        if r.start <= j.start
                                        <= r.start + r.wall], stages)
        counts: dict[str, float] = {}
        for sp in tr.spans:
            for k, v in sp.counts.items():
                key = f"{sp.layer}.{k}"
                counts[key] = counts.get(key, 0) + v
        per_pass.append((costs, counts))

    def cost(layer: str, attr: str) -> float:
        return med([getattr(c.get(layer, probes.LayerCost()), attr)
                    for c, _ in per_pass])

    def count(key: str) -> float:
        return med([n.get(key, 0) for _, n in per_pass])

    untraced = med([r.wall for r in timed])
    engine = med([r.engine_s for r in timed])
    self_times = {layer: cost(layer, "wall_s")
                  for layer in ("chunks", "decode", "stage", "reduce",
                                "merge")}
    layer_sum = sum(self_times.values())
    events = count("decode.events")
    decode_cpu = cost("decode", "cpu_s")
    stream = wl.name == "stream_tail"
    n_batches = med([len(r.batch_walls) for r in timed])
    m = {
        "chunks.wall_s": (self_times["chunks"], "s"),
        "chunks.jobs": (cost("chunks", "jobs"), "count"),
        "decode.wall_s": (self_times["decode"], "s"),
        "decode.cpu_s": (decode_cpu, "s"),
        "decode.events_per_cpu_s": (events / decode_cpu, "1/s"),
        "decode.fallback_ratio": (wl.fallback_ratio(fx), "ratio"),
        "stage.wall_s": (self_times["stage"], "s"),
        "stage.bytes_written": (count("stage.bytes_written"), "B"),
        "reduce.wall_s": (self_times["reduce"], "s"),
        "reduce.cpu_s": (cost("reduce", "cpu_s"), "s"),
        "reduce.shuffle_bytes": (cost("reduce", "shuffle_bytes"), "B"),
        "reduce.jobs": (cost("reduce", "jobs"), "count"),
        "reduce.rows_out_per_event": (count("reduce.rows_out") / events,
                                      "ratio"),
        "merge.wall_s": (self_times["merge"], "s"),
        "merge.shuffle_bytes": (cost("merge", "shuffle_bytes"), "B"),
        "merge.bytes_written": (count("merge.bytes_written"), "B"),
        "merge.files_written": (count("merge.files_written"), "count"),
        "merge.jobs": (cost("merge", "jobs"), "count"),
        "stream.batches": (n_batches if stream else 0, "count"),
        "stream.overhead_s": (untraced - layer_sum if stream else 0.0, "s"),
        "stream.engine_s": (engine, "s"),
        "stream.binlog_files_per_batch": (
            fx.n_files / n_batches if stream else 0.0, "count"),
        "driver.gap_s": (med([g for g, _ in drv]), "s"),
        "spark.jobs": (med([t.jobs for _, t in drv]), "count"),
        "spark.tasks": (med([t.tasks for _, t in drv]), "count"),
        "jvm.gc_s": (med([t.gc_s for _, t in drv]), "s"),
        "trace.overhead_s": (med([r.wall for r in traced]) - untraced, "s"),
        "trace.reconcile_ratio": (
            probes.reconcile({**self_times, "stream": engine}, untraced),
            "ratio"),
    }
    for name, (v, unit) in m.items():
        print(f"layer {name} = {v:.6g} {unit}")
    ratio = m["trace.reconcile_ratio"][0]
    within = abs(ratio - 1) <= probes.RECONCILE_TOLERANCE
    print(f"reconcile: layer self times {layer_sum:.3f} s + stream engine "
          f"{engine:.3f} s vs untraced pass {untraced:.3f} s (ratio "
          f"{ratio:.3f}, tolerance ±{probes.RECONCILE_TOLERANCE:.2f}): "
          f"{'within' if within else 'OUTSIDE'} tolerance")
    return m


if __name__ == "__main__":
    sys.exit(main())
