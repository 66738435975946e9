#!/usr/bin/env python3
"""Job-level benchmark for taar_gcp_etl_spark.

    python3 jobbench/run.py --workload taar_nightly --seed 1 --seconds 5 --trace 0

Runs one workload in this process on `local[nproc]`: generate seeded
inputs, set up once (session start plus the workload's initial state),
one cold pass, then warm passes until `--seconds` have passed (at least
one). Every pass is checked against DuckDB. The last stdout line is one
JSON object: with `--trace 0` the end-to-end metrics, with `--trace 1`
the per-layer span counters. Work files live under `.jobbench_work/` in the checkout
and are removed at exit; traced runs leave their span log in
`.jobbench_work/traces/`.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from jobbench import trace  # noqa: E402
from jobbench.workloads import WORKLOADS  # noqa: E402

DRIVER_MEM = "2g"  # the package default (48g) does not fit a 15 GiB box
SPANS = (
    "session.get_spark",
    "jobs.amowhitelist.run",
    "jobs.update_whitelist.run",
    "jobs.guid_ranking.run",
    "jobs.locale_top.run",
    "jobs.profile_serving.write_serving",
    "jobs.profile_serving.delete_opt_out",
    "jobs.build_training_set.run",
    "txn.apply_cdc_batch_bucketed",
    "txn.merge_into",
    "txn.read_cdc_table",
    "txn.read_changes",
    "txn.maintain_cdc_table",
)
END_TO_END = {
    "run_s": "s", "cold_run_s": "s", "rows_per_s": "1/s",
    "step_p50_s": "s", "step_tail_s": "s", "setup_s": "s",
    "stored_bytes_per_input_byte": "ratio", "peak_rss_mb": "MB",
}
PER_LAYER = {
    f"{s}.{c}": unit for s in SPANS for c, unit in trace.COUNTERS.items()
} | {
    "tracing.overhead_ratio": "ratio",
    "tracing.collect_s": "s",
}


def step_stats(passes: list[list[float]]) -> tuple[float, float]:
    """(p50, tail) of the step latencies: each step's median over the
    passes, then the median and the maximum over the steps. A pass has
    four to seven steps, so no percentile has ten samples beyond it and
    the tail is the slowest step."""
    per_step = [statistics.median(ts) for ts in zip(*passes)]
    return statistics.median(per_step), max(per_step)


def start_session(work: str, cores: int):
    from taar_gcp_etl_spark.session import get_spark

    return get_spark(
        app_name="jobbench", cpus=cores,
        extra_conf={
            "spark.driver.memory": DRIVER_MEM,
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": f"{work}/spark-local",
            "spark.sql.warehouse.dir": f"{work}/warehouse",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp",
        },
    )


def jvm_peak_rss_mb() -> float:
    from pyspark import SparkContext

    with open(f"/proc/{SparkContext._gateway.proc.pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


def stop_jvm() -> None:
    """Stop Spark and the gateway JVM, and wait until it has exited.
    A no-op when no JVM is running."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits on EOF of its stdin
    try:
        proc.wait(timeout=60)
    except Exception:  # noqa: BLE001 - last resort, then reap
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


class Runner:
    def __init__(self, workload: str, seed: int, work: str):
        self.cores = len(os.sched_getaffinity(0))
        self.work = work
        self.wl = WORKLOADS[workload](work, seed)
        self.tracer = trace.Tracer(None, self.cores)
        self.attempted = 0
        self.failed = 0

    def setup(self, traced: bool) -> float:
        """The set-up: session start plus the workload's initial state.
        Returns its seconds."""
        self.tracer.enabled, self.tracer.group = traced, 0
        t0 = time.perf_counter()
        with self.tracer.span("setup"):
            with self.tracer.span("session.get_spark"):
                spark = start_session(self.work, self.cores)
            self.tracer.spark = spark
            self.wl.setup(spark, self.tracer)
        elapsed = time.perf_counter() - t0
        self.tracer.enabled = False
        self.tracer.collect()
        return elapsed

    def run_pass(self, traced: bool, group: int) -> tuple[float, list[float]]:
        """One pass: reset (untimed), the timed steps, then the check.
        Returns (pass seconds, step seconds)."""
        self.wl.reset()
        self.tracer.enabled, self.tracer.group = traced, group
        times, failed, names = [], 0, []
        t0 = time.perf_counter()
        with self.tracer.span("pass"):
            for span, fn, outputs in self.wl.steps():
                names.append(span)
                s0 = time.perf_counter()
                try:
                    with self.tracer.span(span, outputs):
                        fn()
                except Exception as exc:  # noqa: BLE001 - a failed step
                    failed += 1
                    print(f"step {span} failed: {exc!r}", file=sys.stderr)
                times.append(time.perf_counter() - s0)
        wall = time.perf_counter() - t0
        print(f"pass {wall:.2f}s: " + " ".join(
            f"{n}={t:.2f}" for n, t in zip(names, times)), file=sys.stderr)
        self.tracer.enabled = False
        self.tracer.collect()
        try:
            bad = self.wl.check()
        except Exception as exc:  # noqa: BLE001 - unreadable output
            bad = [f"check raised {exc!r}"]
        for msg in bad:
            print(f"mismatch: {msg}", file=sys.stderr)
        self.attempted += len(times)
        self.failed += min(len(times), failed + len(bad))
        self.stored = self.wl.stored_bytes()
        return wall, times


def layer_metrics(spans: list[dict], cores: int) -> dict[str, float]:
    """Each span's counters summed per group (a warm traced pass, or the
    set-up), then the median over groups. Spans the workload never calls
    report 0."""
    out = {}
    for name in SPANS:
        groups: dict[int, list[dict]] = {}
        for rec in spans:
            if rec["name"] == name:
                groups.setdefault(rec["group"], []).append(rec)
        totals = [{c: sum(rec[c] for rec in g) for c in trace.COUNTERS}
                  for g in groups.values()]
        for t in totals:
            t["core_util"] = t["task_s"] / max(1e-9, t["wall_s"] * cores)
        for c in trace.COUNTERS:
            out[f"{name}.{c}"] = (statistics.median(t[c] for t in totals)
                                  if totals else 0.0)
    return out


def cpu_steal() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs so far: the share of time the
    hypervisor gave to other guests, printed to explain slow runs."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def bench(args, work: str) -> dict:
    traced = bool(args.trace)
    steal0 = cpu_steal()
    t_start = time.perf_counter()
    r = Runner(args.workload, args.seed, work)
    t_inputs = time.perf_counter() - t_start
    setup = r.setup(traced)
    r.tracer.collect_s = 0.0  # the collector's time per warm traced pass
    cold, _ = r.run_pass(traced=False, group=-1)
    # (pass seconds, step seconds, traced). A traced run measures the
    # tracing overhead in one process: traced and untraced warm passes
    # alternate, T U T ..., starting and ending with a traced one, so a
    # steady drift in pass time weighs on both sides. The JVM is still
    # warming up in the first warm pass; it is a traced one, so the
    # overhead errs high rather than low.
    warm: list[tuple[float, list[float], bool]] = []
    t_end = time.perf_counter() + args.seconds
    while (len(warm) < (3 if traced else 1) or time.perf_counter() < t_end
           or (traced and len(warm) % 2 == 0)):
        on = traced and len(warm) % 2 == 0
        wall, times = r.run_pass(traced=on, group=len(warm) + 1)
        warm.append((wall, times, on))
    rss = jvm_peak_rss_mb()
    stop_jvm()
    steal = [b - a for a, b in zip(steal0, cpu_steal())]
    print(f"phases: inputs {t_inputs:.1f}s, set-up {setup:.1f}s, "
          f"cold pass {cold:.1f}s, "
          f"{len(warm)} warm passes {sum(w for w, _, _ in warm):.1f}s, "
          f"total {time.perf_counter() - t_start:.1f}s, cpu steal "
          f"{100 * steal[0] / max(1, steal[1]):.0f}%", file=sys.stderr)

    if traced:
        metrics = layer_metrics(r.tracer.spans, r.cores)
        on = [w for w, _, t in warm if t]
        off = [w for w, _, t in warm if not t]
        metrics["tracing.overhead_ratio"] = (
            statistics.median(on) / statistics.median(off))
        metrics["tracing.collect_s"] = r.tracer.collect_s / len(on)
        path = os.path.join(ROOT, ".jobbench_work", "traces",
                            f"{args.workload}-seed{args.seed}.jsonl")
        r.tracer.dump(path)
        print(f"spans written to {path}", file=sys.stderr)
        units = PER_LAYER
    else:
        run_s = statistics.median(w for w, _, _ in warm)
        step_p50, step_tail = step_stats([ts for _, ts, _ in warm])
        metrics = {
            "run_s": run_s,
            "cold_run_s": cold,
            "rows_per_s": r.wl.input_rows / run_s,
            "step_p50_s": step_p50,
            "step_tail_s": step_tail,
            "setup_s": setup,
            "stored_bytes_per_input_byte": r.stored / r.wl.input_bytes,
            "peak_rss_mb": rss,
        }
        units = END_TO_END
        print(f"{args.workload}: step_tail_s is the slowest of "
              f"{len(warm[0][1])} steps (p100), each the median of "
              f"{len(warm)} warm passes; input {r.wl.input_rows} rows, "
              f"{r.wl.input_bytes} bytes; {r.failed} of {r.attempted} "
              f"steps failed")
    return {
        "correct": r.failed == 0,
        "attempted": r.attempted,
        "failed": r.failed,
        "metrics": {k: {"value": metrics[k], "unit": u}
                    for k, u in units.items()},
    }


def program_importable() -> str | None:
    """None when pyspark and the package in this checkout import, else
    the reason they do not."""
    try:
        import pyspark  # noqa: F401

        import taar_gcp_etl_spark
    except ImportError as exc:
        return str(exc)
    if not os.path.abspath(taar_gcp_etl_spark.__file__).startswith(ROOT):
        return f"taar_gcp_etl_spark imported from outside {ROOT}"
    return None


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    problem = program_importable()
    if problem:
        print(f"jobbench: the program under test is missing: {problem}",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".jobbench_work",
                        f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "spark-local"):
        os.makedirs(f"{work}/{sub}")
    # Spark and Python temporary files stay inside the checkout
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/spark-local"
    os.environ["TMPDIR"] = f"{work}/tmp"
    try:
        result = bench(args, work)
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
