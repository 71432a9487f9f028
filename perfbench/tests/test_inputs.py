"""The benchmark's generators on tiny inputs: same seed -> same inputs,
different seeds -> different inputs, every shape x class slot covered and
class-checked. No Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

import dataclasses

import numpy as np
import pandas as pd
import pytest
from admarus_spark.corpus import make_bench_corpus

from perfbench import inputs
from perfbench.tracing import _union_len
from perfbench.workloads import pct

N, VOCAB, GATE = 300, 100_000, 2000


@pytest.fixture(scope="module")
def base():
    return make_bench_corpus(N, 5, VOCAB)


@pytest.fixture(scope="module")
def df(base):
    return inputs.doc_freq(base)


def test_corpus_is_seeded():
    a, b, c = (make_bench_corpus(N, s, VOCAB) for s in (5, 5, 6))
    pd.testing.assert_frame_equal(a, b)
    assert not a["content"].equals(c["content"])


def test_grid_same_seed_same_queries(df):
    assert inputs.query_grid(df, N, GATE, 1) == inputs.query_grid(df, N, GATE, 1)
    assert inputs.query_grid(df, N, GATE, 1) != inputs.query_grid(df, N, GATE, 2)


@pytest.mark.parametrize("head_terms", [None, 3])
def test_grid_covers_every_shape_and_class(df, head_terms):
    order = []
    for seed in (3, 4):
        grid = inputs.query_grid(df, N, GATE, seed, head_terms=head_terms)
        assert len(grid) == len(inputs.SHAPES) * len(inputs.CLASSES)
        assert {(s.shape, s.cls) for s in grid} == {
            (sh, c) for sh in inputs.SHAPES for c in inputs.CLASSES
        }
        # the first half (the serve batch and the warm-up) has every shape
        # and every class
        half = grid[:len(grid) // 2]
        assert {s.shape for s in half} == set(inputs.SHAPES)
        assert {s.cls for s in half} == set(inputs.CLASSES)
        order.append([(s.shape, s.cls) for s in grid])
    assert order[0] == order[1]  # a seed changes the terms, not the positions


def test_gate_share_is_fixed_by_the_grid(df):
    for seed in range(4):
        grid = inputs.query_grid(df, N, GATE, seed)
        above = [s for s in grid if inputs.volume(s.text, df) >= GATE]
        # every multi-term head slot, and nothing else, carries more
        # postings than the gate
        assert {(s.shape, s.cls) for s in above} == {
            (sh, "head") for sh in inputs.SHAPES if sh != "term"
        }
        below = inputs.query_grid(df, N, GATE, seed, head_terms=3)
        assert all(inputs.volume(s.text, df) < GATE for s in below)


def test_class_guard_rejects_a_misfiled_query(df):
    grid = inputs.query_grid(df, N, GATE, 1)
    mid = next(s for s in grid if s.cls == "mid" and s.shape == "term")
    with pytest.raises(ValueError):
        inputs.check_query_class(dataclasses.replace(mid, cls="rare"), df, N, GATE)
    head = next(s for s in grid if s.cls == "head" and s.shape == "or")
    with pytest.raises(ValueError):
        inputs.check_query_class(head, df, N, GATE * 100)


def test_delta_is_seeded_and_half_changed(base):
    a = inputs.make_delta(base, 10, seed=5, vocab_size=VOCAB)
    b = inputs.make_delta(base, 10, seed=5, vocab_size=VOCAB)
    c = inputs.make_delta(base, 10, seed=6, vocab_size=VOCAB)
    pd.testing.assert_frame_equal(a, b)
    assert not a["content"].equals(c["content"])
    assert len(a) == 10
    assert a["path"].isin(set(base["path"])).sum() == 5  # changed content, same path
    assert (a["content_sha256"] == a["content"].map(inputs.sha256_hex)).all()


def test_apply_delta_upserts_by_repo_and_path(base):
    d = inputs.make_delta(base, 10, seed=5, vocab_size=VOCAB)
    state = inputs.apply_delta(base, d)
    assert len(state) == len(base) + 5
    merged = state.set_index(["repo", "path"])["content"]
    for _, r in d.iterrows():
        assert merged[(r["repo"], r["path"])] == r["content"]


def test_ops_tables_are_seeded():
    small = dict(n_docs=50, n_vecs=20, dim=8, n_events=100, n_lineitem=100)
    a, b, c = inputs.ops_tables(1, **small), inputs.ops_tables(1, **small), inputs.ops_tables(2, **small)
    for name in a:
        pd.testing.assert_frame_equal(a[name], b[name])
    assert not a["documents"]["text"].equals(c["documents"]["text"])
    assert a["embeddings"]["embedding"].map(len).eq(8).all()
    assert list(a["lineitem"].columns)[0] == "l_orderkey"


def test_union_length_and_percentile():
    assert _union_len([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert _union_len([(0, 2)], 1, 10) == 1
    assert pct(list(range(1, 11)), 90) == 9
    assert pct([7.0], 90) == 7.0
    assert np.isclose(pct([1, 2, 3, 4], 50), 2)
