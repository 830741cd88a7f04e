"""The benchmark's workloads: seeded inputs, the timed calls, the checks.

Each workload has

* ``setup(spark, seed)`` — build, cache and count the inputs;
* ``job(spark, inputs, calls)`` — the user-facing calls that are timed;
  returns live handles to the outputs;
* ``collect(outputs)`` — pull the outputs into Python (not timed);
* ``check(inputs, collected)`` — compare them against the references in
  ``oracles`` and return the mismatches;
* ``final_check(spark)`` — an optional costlier check run once per traced run.

The program is reached only through module attributes (``extract.repo_edges``,
``kernels.pagerank``, ...) so that the traced run's wrappers see every call.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import shutil
import time
from dataclasses import dataclass

import numpy as np

import oracles


class Calls:
    """Wall time of each user-facing call, and the number attempted."""

    def __init__(self):
        self.seconds: dict[str, float] = {}
        self.attempted = 0

    @contextlib.contextmanager
    def __call__(self, name: str):
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.seconds[name] = self.seconds.get(name, 0.0) + time.perf_counter() - t0


@dataclass(frozen=True)
class CodeGraphSize:
    n_repos: int = 500
    files_per_repo: int = 16
    imports_per_file: int = 3
    pagerank_supersteps: int = 5
    lp_rounds: int = 2


@dataclass(frozen=True)
class CsrSize:
    n_vertices: int = 25_000
    n_draws: int = 100_000
    first_supersteps: int = 5
    total_supersteps: int = 7


@dataclass(frozen=True)
class MotifSize:
    n_repos: int = 150
    files_per_repo: int = 16
    imports_per_file: int = 3
    samples: int = 600
    max_motifs: int = 8
    search_depth: int = 2


def _code_table(spark, n_repos, files_per_repo, imports_per_file, seed):
    from motive_spark import tables

    code = tables.synth_code_table(
        spark,
        n_repos=n_repos,
        files_per_repo=files_per_repo,
        imports_per_file=imports_per_file,
        seed=seed,
    ).cache()
    return code, code.count()


def _code_to_dense(code, calls):
    """Code table -> dense directed repo edges (cached) and vertex map."""
    from pyspark.sql import functions as F

    from motive_spark import extract
    from motive_spark.graph import normalize

    with calls("extract.repo_edges"):
        named = extract.repo_edges(code)
    with calls("graph.normalize_ids"):
        dense, vmap = normalize.normalize_ids(
            named.select(F.col("src_repo").alias("src"), F.col("dst_repo").alias("dst"))
        )
        dense = dense.cache()
        n_edges = dense.count()
    return dense, vmap, n_edges


class CodeGraph:
    name = "codegraph"
    why = (
        "code table to repo graph to PageRank, components, label propagation "
        "and triangles: the north-star pipeline; extract and kernels busy, "
        "checkpoint and motifs idle"
    )

    def __init__(self, size: CodeGraphSize = CodeGraphSize()):
        self.size = size
        self._expected_edges = None
        self._ref = None
        self._lp_hash = None

    def setup(self, spark, seed):
        s = self.size
        code, rows = _code_table(
            spark, s.n_repos, s.files_per_repo, s.imports_per_file, seed
        )
        return {"code": code, "files": rows}

    def job(self, spark, inp, calls):
        from motive_spark import kernels

        s = self.size
        dense, vmap, n_edges = _code_to_dense(inp["code"], calls)
        with calls("kernels.pagerank"):
            ranks = kernels.pagerank(dense, max_iter=s.pagerank_supersteps, tol=None)
        with calls("kernels.connected_components"):
            comps = kernels.connected_components(dense)
        with calls("kernels.label_propagation"):
            labels = kernels.label_propagation(dense, iters=s.lp_rounds)
        with calls("kernels.triangle_count"):
            n_tri = kernels.triangle_count(dense).first()[0]
        return {
            "dense": dense, "vmap": vmap, "ranks": ranks, "comps": comps,
            "labels": labels, "triangles": n_tri, "pagerank_edges": n_edges,
            "pagerank_supersteps": s.pagerank_supersteps,
        }

    def collect(self, out):
        got = {
            "dense": out["dense"].collect(),
            "vmap": out["vmap"].collect(),
            "ranks": {int(r[0]): float(r[1]) for r in out["ranks"].collect()},
            "comps": {int(r[0]): int(r[1]) for r in out["comps"].collect()},
            "labels": {int(r[0]): int(r[1]) for r in out["labels"].collect()},
            "triangles": int(out["triangles"]),
        }
        out["dense"].unpersist()
        return got

    def _check_edges(self, inp, got) -> list[str]:
        """The dense edges, mapped back through the vertex map, must be the
        edges an independent extraction finds in the collected code table."""
        if self._expected_edges is None:
            self._expected_edges = oracles.repo_edge_set(
                inp["code"].select("repo", "lang", "content").collect()
            )
        name_to_id = {k: int(i) for k, i in got["vmap"]}
        if sorted(name_to_id.values()) != list(range(len(name_to_id))):
            return ["normalize_ids: vertex ids are not 0..n-1"]
        try:
            want = {(name_to_id[a], name_to_id[b]) for a, b in self._expected_edges}
        except KeyError as missing:
            return [f"normalize_ids: repo {missing} has no vertex id"]
        have = {(int(a), int(b)) for a, b in got["dense"]}
        if have != want:
            return [f"repo_edges: {len(have - want)} unexpected, {len(want - have)} missing edges"]
        return []

    def check(self, inp, got):
        errs = self._check_edges(inp, got)
        if errs:
            return errs
        if self._ref is None:
            e = np.array(sorted(got["dense"]), dtype=np.int64).reshape(-1, 2)
            n = len(got["vmap"])
            adj = oracles.undirected_adjacency(e[:, 0], e[:, 1])
            self._ref = {
                "ranks": oracles.pagerank(e[:, 0], e[:, 1], n, self.size.pagerank_supersteps),
                "comps": oracles.components(e[:, 0], e[:, 1], range(n)),
                "labels": oracles.label_propagation(adj, self.size.lp_rounds),
                "triangles": oracles.triangles(adj),
            }
        ref = self._ref
        errs = oracles.compare_ranks("pagerank", got["ranks"], ref["ranks"], 1e-6)
        if got["comps"] != ref["comps"]:
            errs.append("connected_components: differs from union-find")
        if got["labels"] != ref["labels"]:
            errs.append("label_propagation: differs from the reference rounds")
        lp_hash = oracles.output_hash(got["labels"].items())
        if self._lp_hash is not None and lp_hash != self._lp_hash:
            errs.append("label_propagation: output hash changed between runs")
        self._lp_hash = lp_hash
        if got["triangles"] != ref["triangles"]:
            errs.append(f"triangle_count: {got['triangles']} != {ref['triangles']}")
        return errs


def hub_edges(spark, n_vertices, n_draws, seed):
    """Hub-skewed directed edges: src uniform, dst = floor(n * u^3).

    Drawn JVM-side from xxhash64 of (row, seed), so the graph depends on
    the seed only, not on partitioning.
    """
    from pyspark.sql import functions as F

    def uniform(tag):
        h = F.pmod(F.xxhash64(F.col("id"), F.lit(seed), F.lit(tag)), F.lit(1 << 40))
        return h.cast("double") / float(1 << 40)

    return (
        spark.range(n_draws)
        .select(
            (uniform("src") * n_vertices).cast("long").alias("src"),
            F.floor(F.lit(float(n_vertices)) * F.pow(uniform("dst"), 3)).cast("long").alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
    )


class CsrPagerank:
    name = "csr_pagerank"
    why = (
        "hub-skewed graph through the salted CSR PageRank, checkpointed and "
        "then resumed: graph.csr and checkpoint busy, extract and motifs idle"
    )

    def __init__(self, size: CsrSize = CsrSize(), work_dir: str = "."):
        self.size = size
        self.work_dir = work_dir
        self._ref = None

    def setup(self, spark, seed):
        s = self.size
        edges = hub_edges(spark, s.n_vertices, s.n_draws, seed).cache()
        return {"edges": edges, "n_edges": edges.count()}

    def job(self, spark, inp, calls):
        from motive_spark import kernels

        s = self.size
        ckpt = os.path.join(self.work_dir, "pagerank-checkpoint")
        shutil.rmtree(ckpt, ignore_errors=True)
        with calls("kernels.pagerank"):
            kernels.pagerank(
                inp["edges"], max_iter=s.first_supersteps, tol=None,
                checkpoint_dir=ckpt, strategy="csr",
            )
        with calls("kernels.pagerank.resume"):
            ranks = kernels.pagerank(
                inp["edges"], max_iter=s.total_supersteps, tol=None,
                checkpoint_dir=ckpt, resume=True, strategy="csr",
            )
        return {
            "ranks": ranks,
            "pagerank_edges": inp["n_edges"],
            "pagerank_supersteps": s.total_supersteps,
        }

    def collect(self, out):
        pdf = out["ranks"].toPandas()
        return {"ranks": dict(zip(pdf["id"].tolist(), pdf["rank"].tolist()))}

    def check(self, inp, got):
        if self._ref is None:
            e = inp["edges"].toPandas()[["src", "dst"]].to_numpy(dtype=np.int64)
            ids, dense = np.unique(e, return_inverse=True)
            dense = dense.reshape(-1, 2)
            ranks = oracles.pagerank(
                dense[:, 0], dense[:, 1], len(ids), self.size.total_supersteps
            )
            self._ref = (ids, ranks)
        ids, ranks = self._ref
        index = {int(v): i for i, v in enumerate(ids)}
        if set(got["ranks"]) != set(index):
            return ["pagerank (resumed): vertex set differs from the input's"]
        dense_got = {index[v]: r for v, r in got["ranks"].items()}
        return oracles.compare_ranks("pagerank (resumed)", dense_got, ranks, 1e-6)


def repo_graph(spark, n_repos, files_per_repo, imports_per_file, seed):
    """Directed repo-dependency edges drawn the way the synthetic code
    table draws its imports: file f of repo r imports ``imports_per_file``
    other repos chosen by xxhash64 of (f, seed, j).  Dense ids 0..n-1."""
    from pyspark.sql import functions as F

    files = spark.range(n_repos * files_per_repo).withColumn(
        "repo", (F.col("id") / files_per_repo).cast("long")
    )
    edges = None
    for j in range(imports_per_file):
        h = F.pmod(F.xxhash64(F.col("id"), F.lit(seed), F.lit(j)), F.lit(n_repos - 1))
        tgt = F.when(h >= F.col("repo"), h + 1).otherwise(h)
        part = files.select(F.col("repo").alias("src"), tgt.alias("dst"))
        edges = part if edges is None else edges.union(part)
    return edges.dropDuplicates(["src", "dst"])


class MotifLocal:
    name = "motif_local"
    why = (
        "directed motif search scored by the driver-local MDL scorer on a "
        "repo graph: motifs, mdl and experiment busy, extract and kernels idle"
    )

    def __init__(self, size: MotifSize = MotifSize(), work_dir: str = "."):
        self.size = size
        self.work_dir = work_dir
        self._captured = None
        self._numbers_hash = None
        self._seed = 0

    def setup(self, spark, seed):
        s = self.size
        self._seed = seed
        edges = repo_graph(
            spark, s.n_repos, s.files_per_repo, s.imports_per_file, seed
        ).cache()
        return {"edges": edges, "n_edges": edges.count()}

    @contextlib.contextmanager
    def capturing(self):
        """Keep the last size_with_search call (inputs and result) for the
        scorer cross-check; restores the original on exit."""
        import motive_spark.experiment as experiment

        orig = experiment.size_with_search

        def capture(edges, occurrences, **kwargs):
            result = orig(edges, occurrences, **kwargs)
            self._captured = (edges, occurrences, kwargs, result)
            return result

        experiment.size_with_search = capture
        try:
            yield
        finally:
            experiment.size_with_search = orig

    def job(self, spark, inp, calls):
        from motive_spark import experiment

        s = self.size
        out_dir = os.path.join(self.work_dir, "motif-output")
        shutil.rmtree(out_dir, ignore_errors=True)
        with calls("experiment.fast_experiment"):
            experiment.fast_experiment(
                inp["edges"], out_dir, samples=s.samples, min_size=3, max_size=4,
                max_motifs=s.max_motifs, directed=True, seed=self._seed,
                search_depth=s.search_depth,
            )
        return {"out_dir": out_dir, "pagerank_edges": 0}

    def collect(self, out):
        import pandas as pd

        return {
            "numbers": pd.read_csv(os.path.join(out["out_dir"], "numbers.csv")),
            "search": self._captured[3].collect(),
        }

    def check(self, inp, got):
        errs = []
        numbers = got["numbers"]
        if numbers.empty:
            return errs + ["fast_experiment: numbers.csv has no motifs"]
        search = {(int(r["canon"]), int(r["k"]), r["model"]): r for r in got["search"]}
        for row in numbers.itertuples(index=False):
            for model in ("er", "el"):
                r = search.get((int(row.canon), int(row.k), model))
                want = r["factor"] if r is not None else None
                value = getattr(row, f"factor_{model}")
                if want is None or not abs(value - want) <= 1e-6:
                    errs.append(
                        f"numbers.csv: factor_{model} of motif {row.canon}/k={row.k} "
                        f"is {value}, search gave {want}"
                    )
        digest = hashlib.sha256(numbers.to_csv(index=False).encode()).hexdigest()
        if self._numbers_hash is not None and digest != self._numbers_hash:
            errs.append("numbers.csv changed between runs")
        self._numbers_hash = digest
        return errs

    def final_check(self, spark):
        """Score every motif with both scorer strategies: at all of its
        selected occurrences, and at each cutoff the search chose.  The
        two strategies must agree, and agree with the search's sizes."""
        from motive_spark.mdl import score

        edges, occ, kw, result = self._captured
        by_motif: dict[tuple[int, int], list] = {}
        for r in occ.select("canon", "k", "occ_id", "vertices", "mask", "ex_degree").collect():
            by_motif.setdefault((int(r["canon"]), int(r["k"])), []).append(r)
        searched: dict[tuple[int, int, int], list] = {}
        for (canon, k), occs in by_motif.items():
            searched[(canon, k, len(occs))] = []
        for r in result.collect():
            if r["cutoff"] > 0:
                searched.setdefault((int(r["canon"]), int(r["k"]), int(r["cutoff"])), []).append(
                    (r["model"], float(r["size"]))
                )
        rows, want = [], {}
        for gid, ((canon, k, cutoff), sizes) in enumerate(sorted(searched.items())):
            ranked = sorted(by_motif[(canon, k)], key=lambda r: (r["ex_degree"], r["occ_id"]))
            rows += [
                (gid, k, int(r["occ_id"]), [int(v) for v in r["vertices"]],
                 int(r["mask"]), int(r["ex_degree"]))
                for r in ranked[:cutoff]
            ]
            want[gid] = sizes
        occ_df = spark.createDataFrame(
            rows,
            "gid long, k int, occ_id long, vertices array<long>, mask long, ex_degree long",
        )
        edges_df = spark.createDataFrame(
            [tuple(r) for r in edges.select("src", "dst").collect()], "src long, dst long"
        )
        scored = {
            strategy: {
                int(r["canon"]): r
                for r in score.score_motifs(
                    edges_df, occ_df, directed=kw.get("directed", True),
                    group_col="gid", strategy=strategy,
                ).collect()
            }
            for strategy in ("local", "distributed")
        }
        errs = []
        for gid, sizes in want.items():
            local, dist = scored["local"].get(gid), scored["distributed"].get(gid)
            if local is None or dist is None:
                errs.append(f"scorer: group {gid} missing")
                continue
            for model in ("er", "el"):
                a, b = float(local[f"size_{model}"]), float(dist[f"size_{model}"])
                if not abs(a - b) <= 1e-6:
                    errs.append(f"scorers disagree on size_{model}: local {a}, distributed {b}")
            for model, size in sizes:
                if not abs(float(dist[f"size_{model}"]) - size) <= 1e-6:
                    errs.append(f"search size_{model} {size} differs from the rescored one")
        return errs


def make(name: str, work_dir: str, tiny: bool = False):
    """Workload by name; ``tiny`` shrinks every input for the smoke test."""
    if name == "codegraph":
        return CodeGraph(
            CodeGraphSize(n_repos=60, files_per_repo=4, pagerank_supersteps=3, lp_rounds=2)
            if tiny else CodeGraphSize()
        )
    if name == "csr_pagerank":
        return CsrPagerank(
            CsrSize(n_vertices=400, n_draws=2000, first_supersteps=2, total_supersteps=3)
            if tiny else CsrSize(),
            work_dir,
        )
    if name == "motif_local":
        return MotifLocal(
            MotifSize(n_repos=40, files_per_repo=4, samples=200, max_motifs=4)
            if tiny else MotifSize(),
            work_dir,
        )
    raise ValueError(f"unknown workload {name!r}")


WORKLOADS = ("codegraph", "csr_pagerank", "motif_local")
