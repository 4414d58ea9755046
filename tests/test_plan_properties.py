"""Plan-regression tests: the scale-critical physical-plan properties
the engine promises (pushdown reaching the scan, dimension joins
broadcasting, no Python in JVM-only paths) asserted from
explain("formatted") output, so a refactor that silently loses one
fails CI rather than a 100-TB run."""

import io
import contextlib

import pytest

import __spark_entry__ as entrymod


def _plan(spark, sf_dir, name):
    df = entrymod.queries()[name](spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_q6_filters_reach_the_scan(spark, sf_dir):
    p = _plan(spark, sf_dir, "tpch_q6")
    assert "PushedFilters" in p
    # the date-range predicate must be in the parquet pushdown, not a
    # post-scan filter only
    assert "GreaterThanOrEqual(l_shipdate" in p
    assert "LessThan(l_shipdate" in p
    # quantity bound pushes too
    assert "LessThan(l_quantity" in p


def test_q5_dimension_joins_broadcast(spark, sf_dir):
    p = _plan(spark, sf_dir, "tpch_q5")
    # all four dimension joins broadcast; the fact-fact join may be
    # broadcast at tiny SF, but there must be NO nested-loop join
    assert p.count("BroadcastHashJoin") >= 3
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_funnel_per_stage_pushdown(spark, sf_dir):
    p = _plan(spark, sf_dir, "funnel_counts")
    # each stage's event_type equality reaches its own scan
    for stage in ("view", "click", "purchase"):
        assert f"EqualTo(event_type,{stage})" in p, stage


def test_pip_join_has_single_python_stage_and_no_point_shuffle(
    spark, sf_dir
):
    p = _plan(spark, sf_dir, "pip_join")
    # exactly two Arrow-batched Python evaluations in the full query:
    # the GeoJSON span parse and the ray cast — nothing else leaves
    # the JVM, and never row-at-a-time
    assert p.count("ArrowEvalPython") == 2
    assert "BatchEvalPython" not in p
    # the polygon side broadcasts -> the point side never exchanges
    assert "BroadcastHashJoin" in p


def test_relational_aggregates_are_jvm_only(spark, sf_dir):
    for name in ("tpch_q1", "tpch_q13", "tpch_q21", "revenue_pareto"):
        p = _plan(spark, sf_dir, name)
        assert "Python" not in p, name
        assert "CartesianProduct" not in p, name


def test_grid_density_single_shuffle_jvm_only(spark, sf_dir):
    # (AQE formatted plans don't print WholeStageCodegen spans before
    # execution, so JVM-only-ness is asserted as no Python stages.)
    p = _plan(spark, sf_dir, "grid_density")
    # a prior test in the shared session may have cached the corpus —
    # the InMemoryTableScan then prints its STORED build plan inline;
    # everything below it is the input's plan, not this operator's
    # (test_round3f.py precedent)
    p = p.split("InMemoryTableScan")[0]
    assert "Python" not in p
    # one corpus-spread exchange + ONE aggregate shuffle on cell_id —
    # a third exchange would mean the map-side combine was lost.
    # (formatted output lists each node twice — tree and detail —
    # so count the "(n) Exchange" detail headers)
    import re

    assert len(re.findall(r"\(\d+\) Exchange", p)) <= 2


def test_ring_perimeter_is_map_only_jvm(spark, sf_dir):
    import re

    p = _plan(spark, sf_dir, "ring_perimeter")
    # pure map over the polygon generator: no SHUFFLE exchange (the
    # generator's hinted replicate BroadcastExchange is fine), no Python
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 0
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p


def test_zonal_stats_single_aggregate_over_broadcast_pip(spark, sf_dir):
    import re

    p = _plan(spark, sf_dir, "zonal_stats")
    # the PIP is the broadcast plan (one Arrow ray cast); the only
    # point-side shuffles are the deliberate single-file spread_scan
    # repartition and the ONE map-side-combined zone aggregate
    assert "BroadcastHashJoin" in p
    assert p.count("ArrowEvalPython") <= 2  # span parse + ray cast
    assert len(re.findall(r"\(\d+\) Exchange", p)) <= 2
    assert "HashAggregate" in p


def test_buffer_cells_single_shuffle_after_cover(spark, sf_dir):
    # the dilation is an explode of literal offsets + ONE
    # map-side-combined aggregate; the only Exchange in the whole plan
    # is that aggregate's (cover_tiles itself is map-only)
    import re
    p = _plan(spark, sf_dir, "buffer_cells")
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1
    # the corner projections are JVM slippy SQL: no Python stage
    assert not re.findall(r"\(\d+\) (?:Arrow|Batch)EvalPython", p)


def test_local_clustering_edge_list_computed_once(spark, sf_dir):
    # the co-occurrence self-join is pinned behind localCheckpoint: the
    # final plan joins ExistingRDD scans and NEVER re-expands the
    # lineitem parquet subtree (three consumers, one computation)
    p = _plan(spark, sf_dir, "local_clustering")
    assert "parquet" not in p.lower()
    assert "ExistingRDD" in p


def test_gearys_c_shape_matches_morans(spark, sf_dir):
    # same contract as morans_i: the rook adjacency join must be a
    # real equi-join (hash/merge), never a cartesian theta join.
    # (One-row scalar attaches — crossJoin(broadcast(tot/pstats)) —
    # legitimately plan as BroadcastNestedLoopJoin; morans_i shows the
    # identical audited shape, so only CartesianProduct is forbidden.)
    p = _plan(spark, sf_dir, "gearys_c")
    assert "CartesianProduct" not in p
    assert (
        p.count("BroadcastHashJoin")
        + p.count("SortMergeJoin")
        + p.count("ShuffledHashJoin")
        >= 1
    )


def test_geodesic_area_is_map_only_jvm(spark, sf_dir):
    # one codegen-native higher-order fold: no Exchange, no Python
    import re
    p = _plan(spark, sf_dir, "geodesic_area")
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 0
    assert "EvalPython" not in p
