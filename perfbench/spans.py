"""Spans around the program's layer entry points, and per-layer metrics.

The traced run wraps each layer's public functions where their callers
look them up (module attributes), so the program's own code is not
changed.  Each span:

* records (name, parent, start, end) in memory;
* tags the Spark jobs it starts with a job group ``<group>#<iteration>``
  so per-layer Spark counters can be read back from the event log;
* forces a lazy DataFrame result inside the span, so the work a call
  sets up is charged to the layer that set it up.

A span's self time is its duration minus the part of it covered by its
children; the self times of every span under a root add up to the root's
duration.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import re
import statistics
import time
from dataclasses import dataclass

METRIC_NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")

# span name -> Spark-counter group (the modules named by the benchmark)
COUNTER_GROUP = {
    "extract.repo_edges": "extract",
    "graph.normalize_ids": "graph",
    "graph.build_csr": "graph",
    "kernels.pagerank": "kernels.pagerank",
    "kernels.connected_components": "kernels.components",
    "kernels.label_propagation": "kernels.labelprop",
    "kernels.triangle_count": "kernels.triangles",
    "checkpoint.save": "checkpoint",
    "checkpoint.load": "checkpoint",
    "motifs.extractor": "motifs",
    "mdl.size_with_search": "mdl",
    "mdl.precompute_globals": "mdl",
    "mdl.score": "mdl",
    "experiment.self": "experiment",
}
COUNTER_GROUPS = (
    "extract",
    "graph",
    "kernels.pagerank",
    "kernels.components",
    "kernels.labelprop",
    "kernels.triangles",
    "checkpoint",
    "motifs",
    "mdl",
    "experiment",
)
SPARK_COUNTERS = (
    ("spark_jobs", "count"),
    ("tasks", "count"),
    ("shuffle_write_mb", "MB"),
    ("shuffle_read_mb", "MB"),
    ("spill_mb", "MB"),
    ("gc_s", "s"),
    ("task_cpu_s", "s"),
    ("core_util", "ratio"),
)
# span self times reported as ``<span name>_s``
TIMED_SPANS = (
    "session.start",
    "tables.input",
    "extract.repo_edges",
    "graph.normalize_ids",
    "graph.build_csr",
    "kernels.pagerank",
    "kernels.connected_components",
    "kernels.label_propagation",
    "kernels.triangle_count",
    "checkpoint.save",
    "checkpoint.load",
    "motifs.extractor",
    "mdl.size_with_search",
    "mdl.precompute_globals",
    "mdl.score",
    "experiment.self",
)
# counts recorded at span boundaries (summed per traced iteration)
COUNTS = (
    ("extract.import_rows", "count"),
    ("extract.edges_out", "count"),
    ("graph.build_csr_calls", "count"),
    ("kernels.pagerank_supersteps", "count"),
    ("checkpoint.save_calls", "count"),
    ("checkpoint.bytes_written", "bytes"),
    ("motifs.samples", "count"),
    ("motifs.occurrences", "count"),
    ("mdl.eval_rounds", "count"),
    ("experiment.output_bytes", "bytes"),
)
# ratios and rates derived per traced iteration
DERIVED = (
    ("extract.resolved_ratio", "ratio"),
    ("extract.files_per_s", "files/s"),
    ("kernels.pagerank_superstep_s", "s"),
    ("kernels.pagerank_edges_per_s", "edges/s"),
    ("motifs.distinct_ratio", "ratio"),
)


def per_layer_specs() -> list[tuple[str, str]]:
    """Every per-layer metric the traced run reports, with its unit."""
    specs = [(f"{name}_s", "s") for name in TIMED_SPANS]
    specs += list(COUNTS) + list(DERIVED)
    specs += [
        (f"{group}.{counter}", unit)
        for group in COUNTER_GROUPS
        for counter, unit in SPARK_COUNTERS
    ]
    specs.append(("trace_overhead_s", "s"))
    return specs


def layer_of(span_name: str) -> str:
    return span_name.split(".", 1)[0]


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float | None = None
    iteration: int | None = None


class Tracer:
    """In-memory span recorder.

    ``set_group`` is called with a job-group id on span entry and with the
    enclosing span's id on exit (``None`` outside every span).
    """

    def __init__(self, clock=time.perf_counter, set_group=None):
        self.clock = clock
        self.set_group = set_group or (lambda group: None)
        self.spans: list[Span] = []
        self.counts: dict[tuple[int | None, str], float] = {}
        self.observations: dict[tuple[int | None, str], list[float]] = {}
        self.iteration: int | None = None
        self._stack: list[Span] = []
        self._ids = itertools.count()

    def group_id(self, span: Span) -> str | None:
        group = COUNTER_GROUP.get(span.name)
        if group is None:
            return None
        return f"{group}#{span.iteration}"

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            next(self._ids),
            parent.id if parent else None,
            name,
            self.clock(),
            iteration=self.iteration,
        )
        self.spans.append(sp)
        self._stack.append(sp)
        self.set_group(self.group_id(sp))
        try:
            yield sp
        finally:
            sp.end = self.clock()
            self._stack.pop()
            self.set_group(self.group_id(self._stack[-1]) if self._stack else None)

    def count(self, name: str, value: float) -> None:
        key = (self.iteration, name)
        self.counts[key] = self.counts.get(key, 0) + value

    def observe(self, name: str, value: float) -> None:
        self.observations.setdefault((self.iteration, name), []).append(value)

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the union of its children's intervals."""
        children: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                children.setdefault(sp.parent, []).append(sp)
        out = {}
        for sp in self.spans:
            covered, last = 0.0, sp.start
            for ch in sorted(children.get(sp.id, ()), key=lambda c: c.start):
                lo, hi = max(ch.start, last), min(ch.end, sp.end)
                if hi > lo:
                    covered += hi - lo
                    last = hi
            out[sp.id] = (sp.end - sp.start) - covered
        return out

    def self_by_name(self, root: Span) -> dict[str, float]:
        """Self time per span name over ``root`` and its descendants."""
        selfs = self.self_times()
        inside = {root.id}
        out: dict[str, float] = {}
        for sp in self.spans:  # spans are recorded parent-first
            if sp.id in inside or sp.parent in inside:
                inside.add(sp.id)
                out[sp.name] = out.get(sp.name, 0.0) + selfs[sp.id]
        return out


# ---------------------------------------------------------------- patching


def _force(value, keep: list):
    """Materialize lazy DataFrames (cache + count) and return them."""
    from pyspark.sql import DataFrame

    if isinstance(value, DataFrame):
        value = value.cache()
        value.count()
        keep.append(value)
        return value
    if isinstance(value, tuple):
        return tuple(_force(v, keep) for v in value)
    return value


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


class Patches:
    """Installs span wrappers on the layers' entry points; ``restore``
    puts the originals back."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.forced: list = []
        self._saved: list[tuple[object, str, object]] = []

    def _set(self, owner, attr: str, value) -> None:
        self._saved.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def _wrap(self, owner, attr: str, span_name: str, force: bool = True, after=None):
        orig = getattr(owner, attr)
        tr, forced = self.tracer, self.forced

        def wrapper(*args, **kwargs):
            with tr.span(span_name):
                out = orig(*args, **kwargs)
                if force:
                    out = _force(out, forced)
            if after is not None:
                after(out)
            return out

        self._set(owner, attr, wrapper)

    def install(self) -> None:
        import motive_spark.checkpoint as ckpt
        import motive_spark.experiment as experiment
        import motive_spark.extract as extract
        import motive_spark.graph.csr as csr
        import motive_spark.graph.normalize as normalize
        import motive_spark.kernels as kernels
        import motive_spark.mdl.score as score
        import motive_spark.mdl.search as search

        tr = self.tracer

        # extract: the import rows feeding the resolve join are counted
        # outside the span (a bench-side job on the captured DataFrame)
        captured_imports: list = []
        orig_imports = extract.extract_imports

        def extract_imports(code):
            out = orig_imports(code)
            captured_imports.append(out)
            return out

        self._set(extract, "extract_imports", extract_imports)

        def after_repo_edges(out):
            tr.count("extract.edges_out", out.count())
            if captured_imports:
                tr.count("extract.import_rows", captured_imports.pop().count())
            captured_imports.clear()

        self._wrap(extract, "repo_edges", "extract.repo_edges", after=after_repo_edges)
        self._wrap(normalize, "normalize_ids", "graph.normalize_ids")
        self._wrap(
            csr, "build_csr", "graph.build_csr",
            after=lambda _out: tr.count("graph.build_csr_calls", 1),
        )

        orig_pagerank = kernels.pagerank

        def pagerank(*args, **kwargs):
            counters = kwargs.get("counters_out")
            if counters is None:
                counters = kwargs["counters_out"] = []
            n_before = len(counters)
            with tr.span("kernels.pagerank"):
                out = _force(orig_pagerank(*args, **kwargs), self.forced)
            steps = counters[n_before:]
            tr.count("kernels.pagerank_supersteps", len(steps))
            for row in steps:
                tr.observe("kernels.pagerank_superstep_s", row["superstep_sec"])
            return out

        self._set(kernels, "pagerank", pagerank)
        self._wrap(kernels, "connected_components", "kernels.connected_components")
        self._wrap(kernels, "label_propagation", "kernels.label_propagation")
        self._wrap(kernels, "triangle_count", "kernels.triangle_count")

        # checkpoint: only durable (directory-backed) saves and loads; the
        # ephemeral in-memory mode is the kernels' own lineage truncation
        # and stays inside the kernel span.  A save runs the superstep the
        # write triggers, so save time includes that superstep's compute.
        orig_save = ckpt.CheckpointManager.save
        orig_load = ckpt.CheckpointManager.load

        def save(mgr, df, iteration, **metrics):
            if mgr.base_dir is None:
                return orig_save(mgr, df, iteration, **metrics)
            before = _dir_bytes(mgr.base_dir)
            with tr.span("checkpoint.save"):
                out = orig_save(mgr, df, iteration, **metrics)
            tr.count("checkpoint.save_calls", 1)
            tr.count("checkpoint.bytes_written", _dir_bytes(mgr.base_dir) - before)
            return out

        def load(mgr, iteration):
            with tr.span("checkpoint.load"):
                return _force(orig_load(mgr, iteration), self.forced)

        self._set(ckpt.CheckpointManager, "save", save)
        self._set(ckpt.CheckpointManager, "load", load)

        orig_extractor = experiment.MotifExtractor

        def motif_extractor(edges, *args, **kwargs):
            with tr.span("motifs.extractor"):
                ex = orig_extractor(edges, *args, **kwargs)
                ex.occurrences().count()  # the constructor only plans
            tr.count("motifs.samples", kwargs["samples"])
            tr.count("motifs.occurrences", ex.occurrences().count())
            tr.count("motifs.distinct_sampled", ex.motifs().agg({"freq": "sum"}).first()[0] or 0)
            return ex

        self._set(experiment, "MotifExtractor", motif_extractor)
        self._wrap(experiment, "size_with_search", "mdl.size_with_search")
        self._wrap(score, "precompute_globals", "mdl.precompute_globals", force=False)
        rounds = lambda _out: tr.count("mdl.eval_rounds", 1)  # noqa: E731
        self._wrap(score, "score_groups_local", "mdl.score", force=False, after=rounds)
        self._wrap(search, "score_motifs", "mdl.score", after=rounds)

        orig_fast = experiment.fast_experiment

        def fast_experiment(edges, output_dir, **kwargs):
            with tr.span("experiment.self"):
                out = orig_fast(edges, output_dir, **kwargs)
            tr.count("experiment.output_bytes", _dir_bytes(output_dir))
            return out

        self._set(experiment, "fast_experiment", fast_experiment)

    def release_forced(self) -> None:
        for df in self.forced:
            df.unpersist()
        self.forced.clear()

    def restore(self) -> None:
        while self._saved:
            owner, attr, value = self._saved.pop()
            setattr(owner, attr, value)


# ---------------------------------------------------------- event log


def read_event_log(path: str) -> dict[str, dict[str, float]]:
    """Sum task metrics per job group from a Spark event log.

    Returns {job group: {spark_jobs, tasks, shuffle_write_mb,
    shuffle_read_mb, spill_mb, gc_s, task_cpu_s, run_s}}.
    """
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}

    def acc(group: str) -> dict[str, float]:
        return out.setdefault(group, {c: 0.0 for c, _ in SPARK_COUNTERS} | {"run_s": 0.0})

    with open(path) as f:
        for line in f:
            if '"SparkListenerJobStart"' in line:
                ev = json.loads(line)
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if not group:
                    continue
                acc(group)["spark_jobs"] += 1
                for sid in ev.get("Stage IDs", ()):
                    stage_group.setdefault(sid, group)
            elif '"SparkListenerTaskEnd"' in line:
                ev = json.loads(line)
                group = stage_group.get(ev.get("Stage ID"))
                tm = ev.get("Task Metrics")
                if group is None or not tm:
                    continue
                a = acc(group)
                a["tasks"] += 1
                sw = tm.get("Shuffle Write Metrics") or {}
                sr = tm.get("Shuffle Read Metrics") or {}
                a["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
                a["shuffle_read_mb"] += (
                    sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                ) / 2**20
                a["spill_mb"] += (
                    tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
                ) / 2**20
                a["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                a["task_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                a["run_s"] += tm.get("Executor Run Time", 0) / 1e3
    return out


def median(values, default=0.0) -> float:
    values = list(values)
    return statistics.median(values) if values else default


def layer_metrics(
    tracer: Tracer,
    roots: list[Span],
    setup_roots: list[Span],
    spark_counters: dict[str, dict[str, float]],
    cores: int,
    edges_by_iteration: dict[int, int],
    files: int,
) -> dict[str, float]:
    """Per-layer metrics: medians over the traced job iterations
    (``roots``) and the traced setups (``setup_roots``)."""
    per_it: list[dict[str, float]] = []
    for root in roots:
        it = root.iteration
        selfs = tracer.self_by_name(root)
        m: dict[str, float] = {}
        for name in TIMED_SPANS:
            m[f"{name}_s"] = selfs.get(name, 0.0)
        for name, _unit in COUNTS:
            m[name] = tracer.counts.get((it, name), 0.0)
        rows = m["extract.import_rows"]
        m["extract.resolved_ratio"] = m["extract.edges_out"] / rows if rows else 0.0
        to_dense = sum(
            sp.end - sp.start
            for sp in tracer.spans
            if sp.iteration == it and sp.name in ("extract.repo_edges", "graph.normalize_ids")
        )
        m["extract.files_per_s"] = files / to_dense if to_dense and rows else 0.0
        m["kernels.pagerank_superstep_s"] = median(
            tracer.observations.get((it, "kernels.pagerank_superstep_s"), ())
        )
        pr_wall = sum(
            sp.end - sp.start
            for sp in tracer.spans
            if sp.iteration == it and sp.name == "kernels.pagerank"
        )
        m["kernels.pagerank_edges_per_s"] = (
            edges_by_iteration.get(it, 0) * m["kernels.pagerank_supersteps"] / pr_wall
            if pr_wall
            else 0.0
        )
        drawn = m["motifs.samples"]
        m["motifs.distinct_ratio"] = (
            tracer.counts.get((it, "motifs.distinct_sampled"), 0.0) / drawn if drawn else 0.0
        )
        self_by_group: dict[str, float] = {}
        for name, t in selfs.items():
            g = COUNTER_GROUP.get(name)
            if g:
                self_by_group[g] = self_by_group.get(g, 0.0) + t
        for group in COUNTER_GROUPS:
            c = spark_counters.get(f"{group}#{it}", {})
            for counter, _unit in SPARK_COUNTERS:
                if counter != "core_util":
                    m[f"{group}.{counter}"] = c.get(counter, 0.0)
            wall = self_by_group.get(group, 0.0)
            m[f"{group}.core_util"] = c.get("run_s", 0.0) / (wall * cores) if wall else 0.0
        per_it.append(m)

    out = {k: median(m[k] for m in per_it) for k in per_it[0]} if per_it else {}
    for name in ("session.start", "tables.input"):
        out[f"{name}_s"] = median(
            tracer.self_by_name(r).get(name, 0.0) for r in setup_roots
        )
    return out


def layer_self_shares(tracer: Tracer, root: Span) -> dict[str, float]:
    """Self time per layer (first name component) as a share of the root."""
    total = root.end - root.start
    shares: dict[str, float] = {}
    for name, t in tracer.self_by_name(root).items():
        layer = layer_of(name)
        shares[layer] = shares.get(layer, 0.0) + t / total
    return shares
