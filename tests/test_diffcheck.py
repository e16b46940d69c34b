"""tools/diffcheck.py --touched: which registered queries a change
selects."""

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

from diffcheck import touched_queries  # noqa: E402

from end_to_end_data_lakehouse_pipeline_spark import plans  # noqa: E402

PKG = "end_to_end_data_lakehouse_pipeline_spark/"


def test_builder_module_selects_its_own_queries():
    specs = plans.specs()
    got = touched_queries([PKG + "plans/bpe.py", "tests/test_bpe.py", "README.md"], specs)
    assert sorted(got) == ["bpe_apply_merges", "bpe_train_merges"]
    assert "label_propagation_communities" in touched_queries([PKG + "plans/advanced.py"], specs)
    assert touched_queries(["tests/test_catalog.py", "tools/tz_probe.py"], specs) == []


def test_builder_module_also_selects_the_builders_that_import_it():
    specs = plans.specs()
    got = set(touched_queries([PKG + "plans/text.py"], specs))
    mod = {n: spec.fn.__module__.rsplit(".", 1)[1] for n, spec in specs.items()}
    # importers of text.py, directly (dedup, bpe, advanced) and through
    # another builder (pipeline and streaming_oracle import dedup/advanced)
    for m in ("text", "dedup", "bpe", "advanced", "pipeline", "streaming_oracle"):
        assert {n for n in specs if mod[n] == m} <= got, m
    # a builder that imports no other builder stays out
    assert not {n for n in specs if mod[n] == "tpch"} & got
    assert "label_propagation_communities" in got
    assert set(touched_queries([PKG + "plans/dedup.py"], specs)) >= {
        n for n in specs if mod[n] in ("pipeline", "streaming_oracle")
    }


def test_shared_modules_select_every_query():
    specs = plans.specs()
    for path in (PKG + "catalog.py", PKG + "session.py", PKG + "sources/txnlog.py",
                 PKG + "plans/parity.py", "__spark_entry__.py"):
        assert touched_queries([path], specs) == list(specs), path
