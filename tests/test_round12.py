"""Round-12 optimization pins: internals changed for performance must
stay row-identical to their pre-r12 forms (the declared results are
separately hash-checked against DuckDB by driver_sim/the driver)."""

from pyspark.sql import functions as F


def test_probe_cells_driver_gemm_matches_distributed_crank(spark, sf_dir):
    """r12 #1: the driver-side exact-GEMM probe-cell ranking must emit
    exactly the rows of the distributed crank (same comparator, same
    (r desc, cell) tie-break) — the crank is the corpus-dependent term
    of the IVF routing spine shared by three declared queries."""
    from spark_ml_pipelines_example_spark.operators.similarity import (
        PROBE_ID_CAP,
        _ivf_index_for,
        _probe_cells,
        _probe_cells_distributed,
    )
    from spark_ml_pipelines_example_spark.queries.ml import KNN_PROBE_MOD

    assigned, cents = _ivf_index_for(spark, sf_dir)
    is_probe = (F.col("vec_id") % KNN_PROBE_MOD == 0) & (
        F.col("vec_id") < PROBE_ID_CAP
    )
    probes = assigned.filter(is_probe).select(F.col("vec_id").alias("pid"), "xq")
    new = sorted(
        tuple(r) for r in _probe_cells(spark, probes, cents, KNN_PROBE_MOD).collect()
    )
    old = sorted(
        tuple(r) for r in _probe_cells_distributed(spark, probes, cents).collect()
    )
    assert new and new == old


def test_pagerank_driver_replay_matches_distributed_loop(spark, sf_dir):
    """r12: the driver-replayed power iterations must emit the same
    6dp-rounded ranks as the per-round distributed loop (the declared
    rounding contract that already absorbs shuffle-order sum variance
    between Spark and DuckDB)."""
    from spark_ml_pipelines_example_spark.operators.pagerank import (
        _pagerank_distributed,
        pagerank,
    )
    from spark_ml_pipelines_example_spark.queries._util import t

    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .groupBy(F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst"))
        .agg(F.count("*").alias("w"))
    )

    def rounded(df):
        return sorted(
            (r["node"], round(r["pr"], 6)) for r in df.collect()
        )

    new = rounded(pagerank(edges))
    old = rounded(
        _pagerank_distributed(
            edges.select(
                F.col("src"), F.col("dst"), F.col("w").cast("double").alias("w")
            ),
            3,
            0.85,
        )
    )
    assert new and new == old


def test_driver_sim_oracle_fetch_is_decimal_exact():
    """ADVICE r10 #1 (taken in r12): the oracle side must reach
    _canon_cell as exact Decimals, not float64 — DECIMAL above 2^53 and
    HUGEINT (DuckDB SUM of integers) both survive, and canon equals the
    Spark-side integer/decimal form."""
    import sys
    from pathlib import Path

    import duckdb

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
    from driver_sim import _canon_cell

    con = duckdb.connect()
    pdf = (
        con.execute(
            "SELECT CAST('1000000000000001.23' AS DECIMAL(18,2)) AS big, "
            "SUM(x) AS hug FROM (SELECT 5 AS x)"
        )
        .fetch_arrow_table()
        .to_pandas()
    )
    assert _canon_cell(pdf["big"][0]) == "1000000000000001.23"  # exact >2^53
    assert _canon_cell(pdf["hug"][0]) == "5"  # HUGEINT == Spark long canon


def test_probe_cells_cap_falls_back_to_distributed(spark, sf_dir, monkeypatch):
    """Past the driver cap the ranking must plan distributed (a frame,
    not a local collect) — the 100 TB guard."""
    import spark_ml_pipelines_example_spark.operators.similarity as sim

    assigned, cents = sim._ivf_index_for(spark, sf_dir)
    probes = assigned.select(F.col("vec_id").alias("pid"), "xq").limit(5)
    monkeypatch.setattr(sim, "_PCELLS_DRIVER_CAP", 0)
    out = sim._probe_cells(spark, probes, cents, 20)
    # distributed plan carries the crank's window; the driver path would
    # have returned a LocalRelation-backed frame with no shuffle at all
    assert "window" in out._jdf.queryExecution().optimizedPlan().toString().lower()


def test_tree_depth2_replay_matches_distributed(spark, sf_dir):
    """r12: the joint-grid driver replay of the depth-2 CART must emit
    exactly the distributed plan's rows (same exact-int statistics, same
    comparator double, same (score desc, feature, threshold) tie-break)."""
    from spark_ml_pipelines_example_spark.queries import ml
    from spark_ml_pipelines_example_spark.queries.registry import load_all

    reg = load_all()
    new = sorted(map(tuple, reg["q_ml_tree_depth2_exact"].fn(spark, sf_dir).collect()))
    old = sorted(map(tuple, ml._tree_depth2_distributed(spark, sf_dir).collect()))
    assert new and new == old


def test_cv_stumps_replay_matches_distributed(spark, sf_dir):
    """r12: same pin for the 3-fold CV stump sweep (train-by-subtraction
    grid + out-of-fold scoring replayed on the driver)."""
    from spark_ml_pipelines_example_spark.queries import ml
    from spark_ml_pipelines_example_spark.queries.registry import load_all

    reg = load_all()
    new = sorted(map(tuple, reg["q_ml_cv_stumps_exact"].fn(spark, sf_dir).collect()))
    old = sorted(map(tuple, ml._cv_stumps_distributed(spark, sf_dir).collect()))
    assert new and new == old


def test_tree_grid_cap_falls_back_to_distributed(spark, sf_dir, monkeypatch):
    """Past the grid cap both queries must plan distributed (windowed
    frames, not a LocalRelation) — the pathological-domain guard."""
    import spark_ml_pipelines_example_spark.queries.ml as ml

    monkeypatch.setattr(ml, "_TREE2_GRID_CAP", 0)
    from spark_ml_pipelines_example_spark.queries.registry import load_all

    reg = load_all()
    for name in ("q_ml_tree_depth2_exact", "q_ml_cv_stumps_exact"):
        out = reg[name].fn(spark, sf_dir)
        plan = out._jdf.queryExecution().optimizedPlan().toString().lower()
        assert "window" in plan, name


def test_snapshot_queries_match_distributed_forms(spark, sf_dir):
    """r12: the footer-count history and the single-scan per-file
    time-travel combine must emit exactly the rows of the verbatim
    per-version union-of-aggregates forms."""
    from spark_ml_pipelines_example_spark.queries import scans
    from spark_ml_pipelines_example_spark.queries.registry import load_all
    from spark_ml_pipelines_example_spark.queries.scans import _snapshot_demo_table
    from spark_ml_pipelines_example_spark.sources.snapshots import manifest

    reg = load_all()
    tt_new = sorted(map(tuple, reg["q_scan_time_travel"].fn(spark, sf_dir).collect()))
    base, versions, _, _ = _snapshot_demo_table(spark, sf_dir, "q_scan_time_travel")
    tt_old = sorted(
        map(tuple, scans._time_travel_distributed(spark, base, versions).collect())
    )
    assert tt_new and tt_new == tt_old
    th_new = sorted(map(tuple, reg["q_scan_table_history"].fn(spark, sf_dir).collect()))
    base, vs, _, _ = _snapshot_demo_table(spark, sf_dir, "q_scan_table_history")
    msets = [set(manifest(base, v)["files"]) for v in vs]
    th_old = sorted(
        map(tuple, scans._table_history_distributed(spark, base, vs, msets).collect())
    )
    assert th_new and th_new == th_old


def test_time_travel_falls_back_when_a_manifest_file_has_no_partial(
    spark, sf_dir, monkeypatch
):
    """A manifest file that the per-file scan does not key back (forced
    here by mangling the scan's path form) must send q_scan_time_travel
    to the distributed form, not count as an empty file."""
    from spark_ml_pipelines_example_spark.queries import scans
    from spark_ml_pipelines_example_spark.queries.registry import load_all

    reg = load_all()
    base, versions, _, _ = scans._snapshot_demo_table(spark, sf_dir, "q_scan_time_travel")
    distributed = scans._time_travel_distributed
    expected = sorted(map(tuple, distributed(spark, base, versions).collect()))
    calls = []

    def spy(*args):
        calls.append(args)
        return distributed(*args)

    monkeypatch.setattr(scans, "_time_travel_distributed", spy)
    monkeypatch.setattr(scans, "unquote", lambda path: path + ".unkeyed")
    got = sorted(map(tuple, reg["q_scan_time_travel"].fn(spark, sf_dir).collect()))
    assert calls and got == expected


def test_snapshot_build_marker_reuses_and_invalidates(spark, sf_dir):
    """r12: re-invocation reuses the committed log (same versions, same
    files — no version drift from repeated commits); a fingerprint
    mismatch rebuilds from scratch."""
    import json
    import os

    from spark_ml_pipelines_example_spark.queries.scans import _snapshot_demo_table

    r1 = _snapshot_demo_table(spark, sf_dir, "q_scan_time_travel")
    r2 = _snapshot_demo_table(spark, sf_dir, "q_scan_time_travel")
    assert r1 == r2  # identical versions AND file lists: the log did not move
    marker = os.path.join(r1[0], "_build_marker.json")
    rec = json.load(open(marker))
    rec["fingerprint"]["size"] = -1
    json.dump(rec, open(marker, "w"))
    r3 = _snapshot_demo_table(spark, sf_dir, "q_scan_time_travel")
    assert r3[1] == (0, 1, 2, 3)  # fresh log, rebuilt from version 0
    assert json.load(open(marker))["fingerprint"]["size"] != -1
