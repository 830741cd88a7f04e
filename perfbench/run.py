"""Benchmark of the code-graph -> kernels -> motif/MDL pipeline.

Run from the root of a checkout:

    python3 perfbench/run.py --workload codegraph --seed 1 --seconds 20 --trace 0

One run pins the Spark environment, then sets the workload up three times,
each in a fresh session at ``local[<cores>]`` (``setup_s`` is the median),
and times one pass of the workload's calls in the last session
(``job_s``), sampling the process tree's peak RSS during that pass only
(``peak_rss_mb``).  The outputs are checked against independent
references outside the timed region; a mismatch or an exception counts
as a failed operation.  ``--seconds`` is accepted and changes nothing:
a run is always its setups plus one timed pass.

``--trace 1`` follows the first pass with one traced and one untraced
pass: spans around the layers' entry points, a job group per layer and a
Spark event log give the per-layer metrics it reports instead.

Human-readable lines come first; the last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}.
"""

from __future__ import annotations

import argparse
import contextlib
import dataclasses
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
DRIVER_MEM = "3g"
N_SETUPS = 3
END_TO_END = (("setup_s", "s"), ("job_s", "s"), ("peak_rss_mb", "MB"))
# where each workload is expected to spend its time (checked in the trace)
EXPECTED_DOMINANT = {
    "codegraph": ("kernels", "extract"),
    "csr_pagerank": ("kernels", "graph", "checkpoint"),
    "motif_local": ("motifs", "mdl"),
}


def cores() -> int:
    return len(os.sched_getaffinity(0))


def pin_environment(work: Path) -> dict[str, str]:
    """Environment every Spark process of the run inherits."""
    for sub in ("spark-local", "tmp", "events", "warehouse"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    pinned = {
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        # Python UDF workers import the package from the checkout
        "PYTHONPATH": os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
        ),
        "TMPDIR": str(work / "tmp"),
    }
    os.environ.update(pinned)
    return pinned


def new_session(work: Path, traced: bool):
    import motive_spark

    n = cores()
    conf = {
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        # only the heap's maximum is fixed.  The serial collector grows the
        # heap by occupancy; G1 grows it by GC-time goals, which made the
        # peak RSS of the same pass vary by 20-40 % from run to run
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -XX:+UseSerialGC",
    }
    if traced:
        conf |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(work / "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    spark = motive_spark.get_spark(
        app_name="perfbench", master=f"local[{n}]", shuffle_partitions=n, extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    reset_udf_handles()
    return spark


def reset_udf_handles() -> None:
    """Drop the JVM handles the package's module-level UDFs cached in an
    earlier SparkContext of this process: they point at that context's
    (now closed) accumulator server."""
    for name, module in list(sys.modules.items()):
        if not name.startswith("motive_spark"):
            continue
        for value in vars(module).values():
            udf = getattr(value, "_unwrapped", None)
            if udf is not None and hasattr(udf, "_judf_placeholder"):
                udf._judf_placeholder = None


def shutdown_jvm() -> None:
    """Stop the Py4J gateway's JVM (and the Python workers it forked)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    with contextlib.suppress(Exception):
        gateway.shutdown()
    if proc is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — last resort, then wait again
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


class Run:
    """One benchmark run of one workload."""

    def __init__(self, workload, seed: int, traced: bool, work: Path):
        import spans as tr

        self.wl = workload
        self.seed = seed
        self.traced = traced
        self.work = work
        self.spark = None
        self.tracer = tr.Tracer(set_group=self._set_group)
        self.attempted = 0
        self.failures: list[str] = []
        self.setups: list = []
        self.inputs = None
        self.phases: dict[str, float] = {}
        self.peak_rss_mb = 0.0

    def _set_group(self, group):
        if self.traced and self.spark is not None:
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", group)

    def fail(self, message: str) -> None:
        self.failures.append(message)
        print(f"FAILED: {message}", file=sys.stderr)

    def safely(self, fn):
        """Call ``fn``; an exception it raises is a failed operation."""
        try:
            return fn()
        except Exception:  # noqa: BLE001 — a failed call is a result
            self.fail(traceback.format_exc())
            return None

    @property
    def failed_share(self) -> float:
        return min(len(self.failures), self.attempted) / max(self.attempted, 1)

    def outcome(self, metrics: dict[str, tuple[float, str]]) -> dict:
        """The JSON result line."""
        attempted = max(self.attempted, 1)
        return {
            "correct": not self.failures,
            "attempted": attempted,
            "failed": min(len(self.failures), attempted),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }

    def close(self) -> str | None:
        """Stop the session and the JVM; returns the last application id."""
        app_id = None
        if self.spark is not None:
            app_id = self.spark.sparkContext.applicationId
            self.spark.stop()
            self.spark = None
        shutdown_jvm()
        return app_id

    def setup(self) -> None:
        for _ in range(N_SETUPS):
            if self.spark is not None:
                self.spark.stop()
                self.spark = None
            with self.tracer.span("bench.setup") as root:
                with self.tracer.span("session.start"):
                    self.spark = new_session(self.work, self.traced)
                with self.tracer.span("tables.input"):
                    self.attempted += 1
                    self.inputs = self.wl.setup(self.spark, self.seed)
            self.setups.append(root)

    def iteration(self, label: int | None, sample_rss: bool = False):
        """One timed job; its outputs are collected and checked after the
        clock stops.  With ``sample_rss`` the peak RSS of the process tree
        is sampled while the job runs, and only then.  Returns the job's
        wall time, its call timings, its outputs and its span."""
        import procmem
        import workloads

        calls = workloads.Calls()
        self.tracer.iteration = label
        rss = procmem.PeakRss() if sample_rss else contextlib.nullcontext()
        try:
            with self.tracer.span("bench.job") as root, rss:
                t0 = time.perf_counter()
                out = self.wl.job(self.spark, self.inputs, calls)
                wall = time.perf_counter() - t0
        finally:
            if sample_rss:
                self.peak_rss_mb = rss.peak_mb
            self.attempted += calls.attempted
            self.tracer.iteration = None
        t = time.perf_counter()
        for err in self.wl.check(self.inputs, self.wl.collect(out)):
            self.fail(err)
        self.phases["checks"] = self.phases.get("checks", 0.0) + time.perf_counter() - t
        return wall, calls.seconds, out, root

    def execute(self, patches) -> dict[str, list]:
        """Set up, then run the workload's first pass in the fresh session
        (``cold``, timed as job_s, peak RSS sampled).  Traced, one traced
        and one untraced ``warm`` pass follow, then the costlier final
        check: it takes ~10 s, which untraced runs cannot afford within
        the comparison's time budget."""
        phases = self.phases
        t = time.perf_counter()
        self.setup()
        phases["setup"] = time.perf_counter() - t
        t = time.perf_counter()
        out = {"cold": [self.iteration(None, sample_rss=True)], "warm": []}
        if self.traced:
            # traced before untraced: any warm-up still under way favours
            # the untraced pass, so trace_overhead_s errs high, not low
            patches.install()
            try:
                out["traced"] = [self.iteration(0)]
                patches.release_forced()
            finally:
                patches.restore()
            out["warm"] = [self.iteration(None)]
        phases["passes"] = time.perf_counter() - t
        if self.traced and hasattr(self.wl, "final_check"):
            t = time.perf_counter()
            self.attempted += 1
            for err in self.wl.final_check(self.spark):
                self.fail(err)
            phases["final check"] = time.perf_counter() - t
        return out


def _median(values):
    return statistics.median(values) if values else 0.0


def run(args) -> int:
    if not (ROOT / "motive_spark" / "__init__.py").is_file():
        print(f"perfbench: no motive_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    import spans as tr
    import workloads

    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    try:
        pinned = pin_environment(work)
        wl = workloads.make(args.workload, str(work), tiny=args.tiny)
        r = Run(wl, args.seed, bool(args.trace), work)
        capture = getattr(wl, "capturing", contextlib.nullcontext)
        with capture():
            try:
                runs = r.safely(lambda: r.execute(tr.Patches(r.tracer)))
            finally:
                app_id = r.close()
        if runs is None:
            print(json.dumps(r.outcome({})))
            return 1
        report, metrics = summarize(args, r, runs, pinned, work / "events" / str(app_id))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # another run may still use it
            work.parent.rmdir()
    for line in report:
        print(line)
    print(json.dumps(r.outcome(metrics)))
    return 0


def summarize(args, r: Run, runs: dict[str, list], pinned, event_log: Path):
    """Human-readable report lines and the metrics of the JSON line."""
    import spans as tr

    results = runs["cold"]
    setup_s = [sp.end - sp.start for sp in r.setups]
    job_s = results[0][0]
    report = [
        f"perfbench {args.workload} seed={args.seed} trace={args.trace} "
        f"master=local[{cores()}] " + " ".join(f"{k}={v}" for k, v in pinned.items()),
        "phases (s): " + ", ".join(f"{k}={v:.1f}" for k, v in r.phases.items()),
        f"setup_s samples: {' '.join(f'{x:.3f}' for x in setup_s)} "
        f"(the first includes the JVM launch); job_s {job_s:.3f}; "
        f"peak RSS during the timed pass {r.peak_rss_mb:.1f} MB",
    ]
    calls: dict[str, list[float]] = {}
    for _w, secs, _out, _root in results:
        for name, s in secs.items():
            calls.setdefault(name, []).append(s)
    call_med = {k: _median(v) for k, v in calls.items()}
    report.append("calls (median s): " + ", ".join(f"{k}={v:.3f}" for k, v in call_med.items()))
    files = r.inputs.get("files", 0)
    to_dense = call_med.get("extract.repo_edges", 0) + call_med.get("graph.normalize_ids", 0)
    pr_wall = call_med.get("kernels.pagerank", 0) + call_med.get("kernels.pagerank.resume", 0)
    last = results[-1][2]
    if to_dense:
        report.append(f"files_per_s = {files / to_dense:.6g} files/s")
    if pr_wall:
        rate = last["pagerank_edges"] * last["pagerank_supersteps"] / pr_wall
        report.append(f"pagerank_edges_per_s = {rate:.6g} edges/s")
    report.append(
        f"failed_share = {r.failed_share:.6g} ratio "
        f"({len(r.failures)} failures, {r.attempted} operations)"
    )

    if not r.traced:
        values = {"setup_s": _median(setup_s), "job_s": job_s, "peak_rss_mb": r.peak_rss_mb}
        metrics = {name: (values[name], unit) for name, unit in END_TO_END}
    else:
        untraced_s = _median([w for w, *_ in runs["warm"]])
        traced_s = _median([w for w, *_ in runs["traced"]])
        counters = {}
        if event_log.is_file():
            counters = tr.read_event_log(str(event_log))
        else:
            r.fail(f"event log {event_log} missing")
        layer = tr.layer_metrics(
            r.tracer,
            [root for *_, root in runs["traced"]],
            r.setups,
            counters,
            cores(),
            {i: res[2]["pagerank_edges"] for i, res in enumerate(runs["traced"])},
            files,
        )
        layer["trace_overhead_s"] = traced_s - untraced_s
        # the spans were kept in memory during the run; write them out now
        spans_json = json.dumps([dataclasses.asdict(sp) for sp in r.tracer.spans])
        print(f"spans {spans_json}", file=sys.stderr)
        metrics = {k: (layer[k], unit) for k, unit in tr.per_layer_specs()}
        shares = tr.layer_self_shares(r.tracer, runs["traced"][-1][3])
        ranked = sorted(((v, k) for k, v in shares.items() if k != "bench"), reverse=True)
        dominant = ranked[0][1] if ranked else "none"
        expected = EXPECTED_DOMINANT[args.workload]
        report += [
            "layer self-time shares of the traced job: "
            + ", ".join(f"{k}={v:.1%}" for v, k in ranked)
            + f", bench glue={shares.get('bench', 0.0):.1%}",
            f"dominant layer: {dominant} (expected one of {', '.join(expected)})"
            + ("" if dominant in expected else " -- DIFFERS FROM EXPECTATION"),
            f"warm pass untraced={untraced_s:.3f} s, traced={traced_s:.3f} s; "
            "checkpoint.save_s includes the superstep the write triggers",
        ]
    report += [f"{k} = {v:.6g} {u}" for k, (v, u) in metrics.items()]
    return report, metrics


def parse_args(argv=None):
    import workloads

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument(
        "--seconds", type=float, required=True,
        help="accepted for the runner's interface; a run is always one timed pass",
    )
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true", help="smoke-test input sizes")
    return p.parse_args(argv)


if __name__ == "__main__":
    sys.exit(run(parse_args()))
