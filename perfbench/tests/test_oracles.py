"""The independent references the benchmark checks outputs against."""

import numpy as np
import pytest

import oracles


def test_repo_edge_set_reads_every_language_template():
    rows = [
        ("repo_0", "python", "// file 0\nimport repo_1\ndef f(x): return x + 1"),
        ("repo_1", "java", "// file 1\nimport repo_2.core.Api;"),
        ("repo_2", "go", '// file 2\n\t"repo_0/pkg"'),
        ("repo_3", "rust", "// file 3\nuse repo_0::prelude::*;\nuse repo_9::prelude::*;"),
        ("repo_0", "cpp", "// file 4\n#include <repo_3/api.h>\n#include <repo_0/api.h>"),
    ]
    # repo_9 is not a repo of the table; a self-import is no edge
    assert oracles.repo_edge_set(rows) == {
        ("repo_0", "repo_1"),
        ("repo_1", "repo_2"),
        ("repo_2", "repo_0"),
        ("repo_3", "repo_0"),
        ("repo_0", "repo_3"),
    }


def test_pagerank_redistributes_dangling_mass():
    # 0 -> 1 -> 2, 2 dangling
    r = oracles.pagerank([0, 1], [1, 2], 3, supersteps=1)
    d = 0.85
    assert r.sum() == pytest.approx(1.0)
    assert r[0] == pytest.approx((1 - d) / 3 + d * (1 / 3) / 3)
    assert r[2] == pytest.approx((1 - d) / 3 + d * (1 / 3) + d * (1 / 3) / 3)


def test_pagerank_of_a_cycle_is_uniform():
    r = oracles.pagerank([0, 1, 2], [1, 2, 0], 3, supersteps=20)
    assert np.allclose(r, 1 / 3)


def test_components_use_the_smallest_id():
    comps = oracles.components([5, 1, 7], [3, 2, 8], [1, 2, 3, 5, 7, 8, 9])
    assert comps == {1: 1, 2: 1, 3: 3, 5: 3, 7: 7, 8: 7, 9: 9}


def test_label_propagation_breaks_ties_to_the_smallest_label():
    # path 0-1-2: round 1 -> 0 takes 1, 1 takes min(0, 2)=0, 2 takes 1
    adj = oracles.undirected_adjacency([0, 1], [1, 2])
    assert oracles.label_propagation(adj, 1) == {0: 1, 1: 0, 2: 1}
    assert oracles.label_propagation(adj, 2) == {0: 0, 1: 1, 2: 0}


def test_triangles_count_each_once():
    # K4 has four triangles; the pendant edge and duplicate add none
    src = [0, 0, 0, 1, 1, 2, 3, 1]
    dst = [1, 2, 3, 2, 3, 3, 4, 0]
    assert oracles.triangles(oracles.undirected_adjacency(src, dst)) == 4


def test_compare_ranks_flags_drift_and_mass():
    want = np.array([0.5, 0.5])
    assert oracles.compare_ranks("pr", {0: 0.5, 1: 0.5}, want, 1e-6) == []
    assert oracles.compare_ranks("pr", {0: 0.51, 1: 0.49}, want, 1e-6)
    assert oracles.compare_ranks("pr", {0: 0.5}, want, 1e-6)


def test_output_hash_ignores_row_order():
    assert oracles.output_hash([(2, 1), (1, 1)]) == oracles.output_hash([(1, 1), (2, 1)])
    assert oracles.output_hash([(1, 1)]) != oracles.output_hash([(1, 2)])
