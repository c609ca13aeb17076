"""Functional tests for the r8 exactness & structure-mining band
(queries/mining.py) on the real smoke corpus — the convergence and
cross-generator-equality claims the oracles alone can't express."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from mapreducer_pi_cs4433_spark.functions import dedup
from mapreducer_pi_cs4433_spark.queries.catalog import QUERIES
from mapreducer_pi_cs4433_spark.queries.extensions import ensure_graph_edges
from mapreducer_pi_cs4433_spark.queries.mining import (
    _KCORE_K,
    _KCORE_PEELS,
    _PMI_MIN_SUPPORT,
    _PMI_TOP_K,
    _kcore_degree_table,
)
from mapreducer_pi_cs4433_spark.sources.loaders import load_table

from .conftest import SF_CORRECTNESS, SF_SMOKE


@pytest.mark.parametrize(
    "sf_dir",
    [
        SF_SMOKE,
        SF_CORRECTNESS,
        pytest.param(
            "/root/testdata/sf0.1",
            marks=pytest.mark.skipif(
                not os.environ.get("SPARK_GRAFT_FULL"),
                reason="set SPARK_GRAFT_FULL=1 for sf0.1",
            ),
        ),
    ],
)
def test_kcore_peels_converged_on_corpus(spark, sf_dir):
    """The capped peel is the TRUE k-core at the test scale factors
    (sf0.001 and sf0.01 every run, sf0.1 under the full gate): it equals
    an independent Python peel of the collected edge artifact run to its
    fixpoint, so the census the oracle checks is the converged
    decomposition, not a truncated approximation."""
    from collections import defaultdict

    sym = ensure_graph_edges(spark, sf_dir)
    adj = defaultdict(set)
    for r in sym.collect():
        adj[r.src].add(r.dst)
    nodes, rounds = set(adj), 0
    while True:
        keep = {n for n in nodes if len(adj[n] & nodes) >= _KCORE_K}
        if keep == nodes:
            break
        nodes, rounds = keep, rounds + 1
    assert rounds <= _KCORE_PEELS
    want = {(n, len(adj[n] & nodes)) for n in nodes}
    got = {
        (r.src, r.c)
        for r in _kcore_degree_table(
            spark, sf_dir, _KCORE_K, _KCORE_PEELS
        ).collect()
    }
    assert got == want
    assert got  # the co-purchase graph has a non-trivial 3-core


def test_kcore_members_have_core_degree_at_least_k(spark):
    """Converged-core invariant: every surviving node's WITHIN-CORE
    degree is >= k (the defining property of a k-core)."""
    rows = QUERIES["graph_kcore_census"](spark, SF_SMOKE).collect()
    assert rows
    assert min(r.core_degree for r in rows) >= _KCORE_K


def test_prefix_filter_equals_exact_join_on_corpus(spark):
    """All three candidate generators agree on the real corpus at the
    catalog parameters: prefix filtering (provably lossless) emits the
    inverted-index full join's exact pair set."""
    docs = load_table(spark, SF_SMOKE, "documents")
    got = {
        (r.id_a, r.id_b, round(r.jaccard, 12))
        for r in dedup.prefix_filter_jaccard_pairs(
            docs, k=12, threshold=0.5
        ).collect()
    }
    want = {
        (r.id_a, r.id_b, round(r.jaccard, 12))
        for r in dedup.ngram_jaccard_pairs(docs, k=12, threshold=0.5).collect()
    }
    assert got == want
    assert got  # planted near-dups exist


def test_pmi_output_contract(spark):
    """Every emitted collocation clears min-support, lift is
    non-negative, the cut is at most K rows, and rows arrive in the
    documented (lift desc, support desc, w1, w2) order."""
    rows = QUERIES["text_collocation_pmi"](spark, SF_SMOKE).collect()
    assert 0 < len(rows) <= _PMI_TOP_K
    assert all(r.n_pair >= _PMI_MIN_SUPPORT for r in rows)
    assert all(r.lift_e9 >= 0 for r in rows)
    keys = [(-r.lift_e9, -r.n_pair, r.w1, r.w2) for r in rows]
    assert keys == sorted(keys)
