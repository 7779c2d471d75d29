"""Size-gated broadcast on SF-scaled dimensions (r12 verdict #1): the
~27 customer/supplier/part hint sites must hint below the footprint
budget (shipped lakes — bench plans unchanged) and LEAVE THE DECISION
TO AQE above it (100 TB design point: a forced broadcast of a
corpus-scaled table is a guaranteed OOM). Both regimes produce
identical results; only where the join strategy is decided moves.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from aws_imdb_data_pipeline_spark.sources import tables
from aws_imdb_data_pipeline_spark.sources.tables import (
    DEFAULT_DIM_BROADCAST_BYTES,
    load_table,
    maybe_broadcast,
    table_bytes,
)

# Headline queries the sf100 sweep measured super-linear under the
# forced hint (SCALE §53) — the gate's primary beneficiaries.
GATED = ["shipping_priority", "top_parts_by_brand_revenue",
         "order_part_names"]


def _analyzed(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


def test_table_bytes_is_stat_only(sf_dir):
    got = table_bytes(sf_dir, "part")
    want = os.stat(os.path.join(sf_dir, "part.parquet")).st_size
    assert got == want > 0
    # every shipped dimension sits far under the default budget
    for t in ("customer", "supplier", "part"):
        assert table_bytes(sf_dir, t) < DEFAULT_DIM_BROADCAST_BYTES


def test_gate_hints_below_budget(spark, sf_dir):
    part = load_table(spark, sf_dir, "part")
    hinted = maybe_broadcast(part, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    plan = _analyzed(li.join(hinted, li.l_partkey == hinted.p_partkey))
    assert "ResolvedHint" in plan


def test_gate_defers_to_aqe_above_budget(spark, sf_dir, monkeypatch):
    monkeypatch.setattr(tables, "DEFAULT_DIM_BROADCAST_BYTES", 0)
    part = load_table(spark, sf_dir, "part")
    ungated = maybe_broadcast(part, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    plan = _analyzed(li.join(ungated, li.l_partkey == ungated.p_partkey))
    assert "ResolvedHint" not in plan


@pytest.mark.parametrize("name", GATED)
def test_both_regimes_same_rows(name, spark, sf_dir, monkeypatch):
    """The gate only moves WHERE the strategy is decided — values are
    identical either way, and with the hint stripped the engine (AQE /
    size estimate) still picks a working plan on the tiny lake."""
    from aws_imdb_data_pipeline_spark.plans import REGISTRY

    hinted = REGISTRY[name].fn(spark, sf_dir)
    assert "ResolvedHint" in _analyzed(hinted), "gate must hint here"
    want = sorted(map(tuple, hinted.collect()))

    monkeypatch.setattr(tables, "DEFAULT_DIM_BROADCAST_BYTES", 0)
    unhinted = REGISTRY[name].fn(spark, sf_dir)
    assert "ResolvedHint" not in _analyzed(unhinted)
    assert sorted(map(tuple, unhinted.collect())) == want


# ---------------------------------------------------------------------------
# r13 verdict #3: catalog-statistics fact source + Catalyst plan
# estimate — the portable (object-store) variants of the gate's facts.
# ---------------------------------------------------------------------------
def test_catalog_mode_fact_source(spark, sf_dir):
    """Registered lake: footprint comes from ANALYZE'd catalog stats
    (no filesystem walk), load_table scans THROUGH the catalog, and
    values are identical to path mode."""
    from aws_imdb_data_pipeline_spark.sources.tables import (
        _CATALOG_LAKES,
        catalog_table_name,
        register_lake_catalog,
    )

    want = sorted(
        map(tuple, load_table(spark, sf_dir, "nation").collect())
    )
    try:
        names = register_lake_catalog(
            spark, sf_dir,
            analyze_columns={"customer": ("c_mktsegment", "c_custkey")},
        )
        assert names["customer"] == catalog_table_name(sf_dir, "customer")
        # fact now served by DESCRIBE EXTENDED and equal to the walk
        assert table_bytes(sf_dir, "customer", spark=spark) == table_bytes(
            sf_dir, "customer"
        )
        # scans go through the metastore...
        cat_plan = load_table(
            spark, sf_dir, "customer"
        )._jdf.queryExecution().analyzed().toString()
        assert names["customer"] in cat_plan
        # ...and values are unchanged
        got = sorted(
            map(tuple, load_table(spark, sf_dir, "nation").collect())
        )
        assert got == want
    finally:
        _CATALOG_LAKES.pop(os.path.abspath(sf_dir), None)
        spark.conf.set("spark.sql.cbo.enabled", "false")


def test_plan_estimate_recovers_filtered_build_side(
    spark, sf_dir, monkeypatch
):
    """Fact #2: when the base table is over budget, Catalyst's size
    estimate of the actual (filtered/projected) build side keeps the
    hint where the relation is genuinely small — the §55
    shipping_priority recovery — while an unprojected over-budget
    frame still defers to AQE."""
    from aws_imdb_data_pipeline_spark.sources.tables import (
        _plan_size_bytes,
    )

    cust = load_table(spark, sf_dir, "customer")
    slim = cust.filter(F.col("c_mktsegment") == "BUILDING").select(
        "c_custkey"
    )
    base = table_bytes(sf_dir, "customer")
    est = _plan_size_bytes(slim)
    assert est is not None and 0 < est < base
    # a budget whose 4x relation-bytes form admits the slim estimate
    # (fact #2 fires) while the base footprint stays over it (fact #1
    # does not) and the full frame's estimate stays over 4x it
    budget = est // 4 + 1
    assert budget < base
    monkeypatch.setattr(tables, "DEFAULT_DIM_BROADCAST_BYTES", budget)
    li = load_table(spark, sf_dir, "orders")
    hinted = li.join(
        maybe_broadcast(slim, sf_dir, "customer"),
        li.o_custkey == slim.c_custkey,
    )
    assert "ResolvedHint" in _analyzed(hinted)
    full_est = _plan_size_bytes(cust)
    assert full_est is not None and full_est > 4 * budget
    unhinted = li.join(
        maybe_broadcast(cust, sf_dir, "customer"),
        li.o_custkey == cust.c_custkey,
    )
    assert "ResolvedHint" not in _analyzed(unhinted)
