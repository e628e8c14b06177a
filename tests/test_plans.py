"""Physical-plan audits: the properties that make the engine scale
(SURVEY §4) must hold in the executed plan, not just in intent."""

from __future__ import annotations

import re

import pyspark.sql.functions as F
import pytest

from gfwspark import queries, tables
from tests.conftest import SF_MED


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_flagship_single_fact_shuffle(spark):
    """The 10^12-row fact table crosses the network exactly once: one
    exchange for the fact side, one for the (tiny) annotation side."""
    df = queries.all_queries()["flagship_featurize"](spark, SF_MED)
    assert _plan(df).count("Exchange") <= 2


def test_window_stages_share_partitioning(spark):
    """All window stages collapse onto the same hashpartitioning — no
    Exchange between the as-of window, feature windows, and session
    window."""
    df = queries.all_queries()["flagship_featurize"](spark, SF_MED)
    plan = _plan(df)
    # every exchange is a source-side hashpartitioning on image-entity
    # keys; none appears between Window operators
    segments = plan.split("Exchange")
    assert "Window" not in segments[0] or plan.count("Exchange") <= 2


def test_column_pruning_reaches_scan(spark):
    """lag_lead selects 4 columns — the parquet scan must read exactly
    those (a scan reading all 6 events columns is wrong)."""
    df = queries.all_queries()["lag_lead"](spark, SF_MED)
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", _plan(df))
    assert schemas, "no ReadSchema in plan"
    cols = {c.split(":")[0] for c in schemas[0].split(",")}
    assert cols == {"event_id", "ts", "user_id", "value"}


def test_filter_pushdown_reaches_scan(spark):
    ev = tables.load_table(spark, SF_MED, "events").filter(
        F.col("event_type") == "purchase"
    ).select("event_id")
    plan = _plan(ev)
    assert "PushedFilters: [IsNotNull(event_type), EqualTo(event_type,purchase)]" in plan


def test_small_dim_join_broadcasts(spark):
    df = queries.all_queries()["equi_join_broadcast"](spark, SF_MED)
    assert "BroadcastHashJoin" in _plan(df)


def test_no_cartesian_products(spark):
    """No accidental nested-loop joins in any oracle-checked query
    (cross joins only against scalar/tiny broadcast frames)."""
    for name, fn in queries.all_queries().items():
        df = fn(spark, SF_MED)
        plan = _plan(df)
        for bad in re.findall(r"CartesianProduct", plan):
            raise AssertionError(f"{name}: CartesianProduct in plan")


def test_whole_stage_codegen_covers_flagship(spark):
    """The hot path stays JVM-side: the flagship plan contains codegen
    stages and no Python row UDFs (BatchEvalPython)."""
    spark.conf.set("spark.sql.adaptive.enabled", "false")  # AQE hides WSCG stars
    try:
        df = queries.all_queries()["flagship_featurize"](spark, SF_MED)
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert "*(" in plan  # whole-stage-codegen spans present
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_samplers_stay_jvm_side(spark):
    """The W4/W3 training samplers are pure DataFrame plans: no Python
    eval nodes anywhere, and the ranges dim joins via broadcast."""
    for name in ("range_anchored_windows", "sampled_time_windows"):
        plan = _plan(queries.all_queries()[name](spark, SF_MED))
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name
        assert "FlatMapGroupsInPandas" not in plan, name
    w4 = _plan(queries.all_queries()["range_anchored_windows"](spark, SF_MED))
    assert "BroadcastNestedLoopJoin" in w4 or "BroadcastHashJoin" in w4


def test_broadcast_asof_stays_jvm_side(spark):
    """The broadcast as-of probes its driver-built index with broadcast
    hash joins: no Python node anywhere, and no shuffle Exchange between
    the fact scan and the result (the facts never move)."""
    plan = _plan(queries.all_queries()["asof_join_broadcast"](spark, SF_MED))
    assert "MapInPandas" not in plan and "EvalPython" not in plan
    assert "BroadcastHashJoin" in plan
    assert "FileScan parquet" in plan
    assert not re.search(r"(?<!Broadcast)Exchange ", plan), plan


@pytest.mark.parametrize("form", ["materialized", "refs"])
def test_sliding_feature_windows_no_prestride_materialization(spark, form):
    """W1m scale invariant: the sliding-window extractor must NOT build
    a W-element array per input row and then discard (shift-1)/shift
    of them (fatal at the reference geometry W=12800, shift=767).  The
    scalable plan aggregates rows once into stride blocks, explodes
    each block into only the anchors that cover it (fan-out
    <= ceil(W/shift)+1) and rebuilds each window once in a groupBy — so
    collect_list may appear only inside an Aggregate, never inside a
    Window node, and the whole operator is a single exchange (the
    groupBy on (entity, anchor) reuses the entity hashpartitioning).

    The refs form shares that anchor stage but exists to skip the
    W/shift value amplification: no value array may appear anywhere in
    its plan, even when the input carries a value column."""
    from gfwspark import tables as t, windows as w

    ev = t.load_table(spark, SF_MED, "events").select("user_id", "ts", "value")
    if form == "refs":
        df = w.sliding_feature_window_refs(
            ev, window_size=12, shift=4, entity="user_id", ts="ts"
        )
    else:
        df = w.sliding_feature_windows(
            ev, "value", window_size=12, shift=4, entity="user_id", ts="ts"
        )
    plan = _plan(df)
    assert plan.count("Exchange") == 1
    for line in plan.splitlines():
        if "Window [" in line:
            assert "collect_list" not in line, "pre-stride materialization"
    # row-count sanity: output rows = number of stride anchors, and the
    # exploded intermediate is bounded by ceil(W/shift) * n_blocks
    assert "Generate explode" in plan
    # split-ts assemble: the final window aggregate collects value
    # blocks only — per-element timestamps must not ride through the
    # W/shift block copies (they'd double the bytes in the DRAM-bound
    # object aggregate; endpoints come from conditional element_at on
    # the <=2 unmasked per-block ts arrays instead).
    assert "element_at(_tss" in plan, (
        "endpoint timestamps must come from conditional element_at on "
        "the per-block ts arrays"
    )
    assert ".t AS win_end_ts" not in plan and ".t AS win_start_ts" not in plan, (
        "endpoint ts read from per-element structs — ts is riding "
        "through the block copies again"
    )
    if form == "refs":
        for token in ("_arr", "_val", "values", "value#"):
            assert token not in plan, f"value array {token!r} in the refs plan"


def test_aligned_windows_stays_jvm_side(spark):
    """W2 became a pure-DataFrame plan in round 3 (was applyInPandas):
    no Python eval nodes; the source-row mapping is a closed-form
    expression joined back to the facts."""
    plan = _plan(queries.all_queries()["aligned_windows"](spark, SF_MED))
    assert "FlatMapGroupsInPandas" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_winsorize_plan_single_exchange_no_join(spark):
    """Per-entity winsorization must compute its percentile bounds
    with a window over the entity partitioning, never by materializing
    an entity-keyed bounds dim and joining it back: at 10^12 rows that
    'dim' is a billion-row frame (a broadcast OOM / a second fact-size
    shuffle).  Plan contract: zero joins of any kind, zero
    BroadcastExchange, exactly one shuffle of the facts."""
    plan = _plan(queries.all_queries()["winsorize_features"](spark, SF_MED))
    assert "BroadcastExchange" not in plan
    assert "Join" not in plan  # covers SortMergeJoin/BroadcastHashJoin/etc.
    assert plan.count("Exchange") == 1


def test_corpus_prep_plan_shape(spark):
    """The composed corpus-prep flagship stays JVM-side end-to-end (no
    Python eval nodes anywhere in a 7-stage pipeline), never cross
    joins (the LSH band join and gram semi-join are key joins), and
    its benchmark/dedup dims broadcast rather than shuffling the
    corpus side."""
    plan = _plan(queries.all_queries()["llm_corpus_prep"](spark, SF_MED))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "FlatMapGroupsInPandas" not in plan
    # anti/semi membership joins against the (tiny relative to corpus)
    # drop-lists broadcast; corpus-side rows never shuffle for them
    assert "BroadcastHashJoin" in plan


def test_tfidf_repartitions_before_its_explode(spark):
    """tfidf_top_terms spreads the documents before exploding them: the
    round-robin Exchange sits below the Generate, so the explode runs
    at shuffle width instead of on the scan's single task followed by a
    shuffle of the whole token stream."""
    lines = _plan(queries.all_queries()["tfidf_top_terms"](spark, SF_MED)).splitlines()
    gen = [i for i, line in enumerate(lines) if "Generate explode" in line]
    rr = [i for i, line in enumerate(lines) if "RoundRobinPartitioning" in line]
    assert gen and rr
    # a tree string lists a node's children after it
    assert min(rr) > min(gen)
