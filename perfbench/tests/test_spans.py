"""Span self-time arithmetic, metric names and failure counting."""

import json
from pathlib import Path

import pytest

import run
import spans
import workloads


class FakeClock:
    def __init__(self):
        self.now = 0.0

    def __call__(self):
        return self.now


def test_nested_self_times_add_up_to_root():
    clock = FakeClock()
    tr = spans.Tracer(clock=clock)
    with tr.span("bench.job") as root:
        clock.now = 1.0
        with tr.span("experiment.self"):
            clock.now = 2.0
            with tr.span("motifs.extractor"):
                clock.now = 5.0
            clock.now = 6.0
            with tr.span("mdl.size_with_search"):
                clock.now = 7.0
                with tr.span("mdl.score"):
                    clock.now = 9.0
                with tr.span("mdl.score"):
                    clock.now = 9.5
            clock.now = 10.0
        clock.now = 10.5
    selfs = tr.self_by_name(root)
    assert selfs == {
        "bench.job": 1.5,
        "experiment.self": 2.5,
        "motifs.extractor": 3.0,
        "mdl.size_with_search": 1.0,
        "mdl.score": 2.5,
    }
    assert sum(selfs.values()) == pytest.approx(root.end - root.start)
    shares = spans.layer_self_shares(tr, root)
    assert shares["mdl"] == pytest.approx(3.5 / 10.5)
    assert sum(shares.values()) == pytest.approx(1.0)


def test_child_interval_outside_parent_is_clamped():
    tr = spans.Tracer()
    parent = spans.Span(0, None, "kernels.pagerank", 0.0, 4.0)
    early = spans.Span(1, 0, "graph.build_csr", -1.0, 1.0)
    overlap = spans.Span(2, 0, "checkpoint.save", 0.5, 2.0)
    tr.spans = [parent, early, overlap]
    assert tr.self_times()[0] == pytest.approx(2.0)


def test_self_by_name_ignores_other_roots():
    clock = FakeClock()
    tr = spans.Tracer(clock=clock)
    with tr.span("bench.setup"):
        with tr.span("session.start"):
            clock.now = 3.0
    with tr.span("bench.job") as job:
        with tr.span("kernels.pagerank"):
            clock.now = 4.0
    assert tr.self_by_name(job) == {"bench.job": 0.0, "kernels.pagerank": 1.0}


def test_job_groups_follow_the_innermost_counted_span():
    seen = []
    tr = spans.Tracer(set_group=seen.append)
    tr.iteration = 3
    with tr.span("bench.job"):
        with tr.span("kernels.pagerank"):
            with tr.span("checkpoint.save"):
                pass
    assert seen == [
        None,
        "kernels.pagerank#3",
        "checkpoint#3",
        "kernels.pagerank#3",
        None,
        None,
    ]


def _benchmark_json():
    return json.loads((Path(__file__).resolve().parents[2] / "BENCHMARK.json").read_text())


def test_metric_names_follow_the_rule():
    names = [n for n, _ in spans.per_layer_specs()] + [n for n, _ in run.END_TO_END]
    assert len(names) == len(set(names))
    for name in names:
        assert spans.METRIC_NAME.fullmatch(name), name
    assert not spans.METRIC_NAME.fullmatch("_leading")
    assert not spans.METRIC_NAME.fullmatch("has space")
    assert not spans.METRIC_NAME.fullmatch("x" * 65)


def test_benchmark_json_lists_what_the_run_reports():
    spec = _benchmark_json()
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == spans.per_layer_specs()
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    for w in spec["workloads"]:
        assert w["why"] == workloads.make(w["name"], ".").why


class _FakeWorkload:
    def __init__(self, raise_in_job=False, mismatches=()):
        self.raise_in_job = raise_in_job
        self.mismatches = list(mismatches)

    def job(self, spark, inputs, calls):
        with calls("first"):
            pass
        with calls("second"):
            if self.raise_in_job:
                raise RuntimeError("boom")
        return {}

    def collect(self, out):
        return out

    def check(self, inputs, got):
        return self.mismatches


def _run(wl):
    return run.Run(wl, seed=1, traced=False, work=Path("."))


def test_exception_counts_as_a_failed_operation():
    r = _run(_FakeWorkload(raise_in_job=True))
    assert r.safely(lambda: r.iteration(None)) is None
    out = r.outcome({})
    assert (out["correct"], out["attempted"], out["failed"]) == (False, 2, 1)
    assert r.failed_share == pytest.approx(0.5)


def test_oracle_mismatch_counts_as_a_failed_operation():
    r = _run(_FakeWorkload(mismatches=["pagerank: max |diff| 1e-3"]))
    r.safely(lambda: r.iteration(None))
    r.safely(lambda: r.iteration(None))
    out = r.outcome({"job_s": (1.0, "s")})
    assert (out["correct"], out["attempted"], out["failed"]) == (False, 4, 2)
    assert out["metrics"] == {"job_s": {"value": 1.0, "unit": "s"}}
    assert r.failed_share == pytest.approx(0.5)


def test_clean_run_has_no_failures():
    r = _run(_FakeWorkload())
    r.safely(lambda: r.iteration(None, sample_rss=True))
    out = r.outcome({})
    assert (out["correct"], out["attempted"], out["failed"]) == (True, 2, 0)
    assert r.failed_share == 0.0
    assert r.peak_rss_mb > 0
