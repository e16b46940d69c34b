"""Unit/property tests for the mining family (heavy hitters, PageRank).

The SQL-expressible members (heavy_hitter_terms, doc_lm_perplexity,
revenue_autocorrelation) are differential-tested via the registry oracle;
here we test the parts an oracle can't see: the Misra-Gries sketch bound
and the iterative PageRank invariants.
"""

from __future__ import annotations

import pandas as pd
import pytest

from end_to_end_data_lakehouse_pipeline_spark.plans import mining


def _mg(stream_batches, cap):
    out = list(mining.mg_partition_fn(cap)(iter(stream_batches)))
    assert len(out) == 1
    return set(out[0]["term"])


def test_misra_gries_keeps_heavy_terms_under_pressure():
    # 50k-distinct-rare-term stream with one term at 2% share; CAP=1000
    # means every term above 1/1000 share MUST survive the sketch.
    rare = [f"r{i}" for i in range(50_000)]
    heavy = ["heavy"] * 1_000  # 1k of 51k ~ 2% share
    batches = [
        pd.DataFrame({"term": rare[i : i + 5000] + heavy[i // 10 : i // 10 + 100]})
        for i in range(0, 50_000, 5000)
    ]
    survivors = _mg(batches, cap=1000)
    assert "heavy" in survivors
    assert len(survivors) <= 2 * 1000 + 5000  # bounded, not the full 50k


def test_misra_gries_bounded_memory():
    batches = [
        pd.DataFrame({"term": [f"t{i}_{j}" for j in range(1000)]}) for i in range(20)
    ]
    # all-distinct stream: after every compaction the counter map must stay
    # around CAP (never the full 20k distinct terms)
    survivors = _mg(batches, cap=100)
    assert len(survivors) <= 1100


def test_misra_gries_exact_when_under_cap():
    batches = [pd.DataFrame({"term": ["a", "a", "b"]})]
    assert _mg(batches, cap=1000) == {"a", "b"}


@pytest.mark.usefixtures("spark")
def test_pagerank_invariants(spark, sf_dir):
    df = mining.build_pagerank_copurchase(spark, sf_dir).toPandas()
    assert len(df) == mining.PR_TOP
    assert (df["rank"] > 0).all()
    # ranks sorted desc with deterministic tiebreak
    assert list(df["rank"]) == sorted(df["rank"], reverse=True)
    # full rank vector is a probability distribution over nodes
    arcs = mining._copurchase_edges(spark, sf_dir)
    n_nodes = arcs.select("src").distinct().count()
    # rebuild full ranks cheaply by re-running one power step count check:
    # the top-k masses alone must be < 1 and >> uniform share
    assert df["rank"].sum() < 1.0
    assert df["rank"].iloc[0] > 1.0 / n_nodes


def test_label_propagation_invariants(spark, sf_dir):
    from end_to_end_data_lakehouse_pipeline_spark.plans.advanced import (
        build_label_propagation_communities,
    )

    rows = build_label_propagation_communities(spark, sf_dir).collect()
    assert rows
    # every community label is itself a node id (labels start as ids and
    # only propagate); member counts positive; deterministic rerun
    assert all(r.n_members >= 1 for r in rows)
    again = build_label_propagation_communities(spark, sf_dir).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_label_propagation_rejects_labels_outside_pack_range(spark):
    """The winner pack -c*10^19 + lab orders like (c DESC, lab ASC) only
    for 0 <= lab < 10^19; a negative node id must fail the query, not
    pick a wrong winner."""
    from end_to_end_data_lakehouse_pipeline_spark.plans.advanced import lpa_rounds

    ok = lpa_rounds(spark.createDataFrame([(1, 2), (2, 1)], "src long, dst long"))
    assert sorted(map(tuple, ok.collect())) == [(1, 2), (2, 1)]
    bad = spark.createDataFrame(
        [(-1, 2), (2, -1), (2, 3), (3, 2)], "src long, dst long"
    )
    with pytest.raises(Exception, match=r"0 <= label < 10\^19, got -1"):
        lpa_rounds(bad).collect()
