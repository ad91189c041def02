"""Artifact-sync guards (VERDICT r4 #8): COVERAGE.md and SURVEY's
declared counts must regenerate in the same commit as any registry
change — these assertions fail the suite when they drift. The registry
itself reads no artifact: its order is the sorted query names."""

from __future__ import annotations

import builtins
import io
import re
from pathlib import Path

from spark_ml_pipelines_example_spark.queries.registry import REGISTRY, load_all

ROOT = Path(__file__).resolve().parents[1]

load_all()


def test_coverage_md_matches_registry():
    text = (ROOT / "COVERAGE.md").read_text()
    rows = re.findall(r"^\| `(q_\w+)` \|", text, re.M)
    assert len(rows) == len(REGISTRY), (
        f"COVERAGE.md has {len(rows)} rows, registry has {len(REGISTRY)} — "
        "rerun tools/generate_coverage.py"
    )
    assert set(rows) == set(REGISTRY)


def test_coverage_md_oracle_classes_match():
    text = (ROOT / "COVERAGE.md").read_text()
    for name, spec in REGISTRY.items():
        m = re.search(rf"^\| `{name}` \| (\w+) \|", text, re.M)
        assert m, f"{name} missing from COVERAGE.md"
        want = "SQL" if spec.oracle is not None else "rows"
        assert m.group(1) == want, (
            f"{name}: COVERAGE.md says {m.group(1)}, registry says {want}"
        )


def test_survey_declared_counts_match():
    text = (ROOT / "SURVEY.md").read_text()
    n_sql = sum(1 for s in REGISTRY.values() if s.oracle is not None)
    n_rows = len(REGISTRY) - n_sql
    assert f"{len(REGISTRY)} declared queries" in text, (
        "SURVEY.md total out of sync with the registry"
    )
    assert re.search(rf"\({n_sql}\s*\nSQL-oracled, {n_rows} rows-only", text) or (
        f"({n_sql} SQL-oracled, {n_rows} rows-only" in text
    ), "SURVEY.md SQL/rows-only split out of sync with the registry"


def test_bench_detail_matches_headline_list():
    """VERDICT r5 #6: BENCH_detail.json must carry exactly the bench
    HEADLINE list — the r4 artifact drifted by two queries because the
    detail file wasn't regenerated with the list change. Every HEADLINE
    name must also resolve in the registry (a renamed query would
    silently shrink the bench)."""
    import json

    import bench

    assert all(n in REGISTRY for n in bench.HEADLINE), (
        set(bench.HEADLINE) - set(REGISTRY)
    )
    assert len(set(bench.HEADLINE)) == len(bench.HEADLINE), "duplicate HEADLINE names"
    detail = json.loads((ROOT / "BENCH_detail.json").read_text())
    assert detail["n_queries"] == len(bench.HEADLINE), (
        f"BENCH_detail.json has {detail['n_queries']} queries, bench.HEADLINE "
        f"has {len(bench.HEADLINE)} — rerun python bench.py"
    )
    assert set(detail["queries"]) == set(bench.HEADLINE)


def test_load_all_is_sorted_and_reads_no_file(monkeypatch):
    """load_all() returns the registry in sorted-name order, whatever
    order the query modules were imported in, and opens no file once
    the modules are imported."""
    load_all()

    def refuse(*args, **kwargs):
        raise AssertionError(f"load_all() touched the filesystem: {args!r}")

    with monkeypatch.context() as m:
        m.setattr(builtins, "open", refuse)
        m.setattr(io, "open", refuse)
        m.setattr(Path, "glob", refuse)
        names = list(load_all())
    assert names == sorted(REGISTRY)


def test_rows_only_row_contract_complete():
    """VERDICT r5 #8: the pinned row-count contract covers EXACTLY the
    rows-only queries (a new rows-only query must declare its range; a
    rows-only -> SQL upgrade must retire its entry), and every driver-
    recorded rows-only count in the committed artifacts lands in range."""
    import json
    from pathlib import Path

    from spark_ml_pipelines_example_spark.queries.registry import (
        ROWS_ONLY_ROW_CONTRACT,
    )

    full = load_all()
    rows_only = {n for n, s in full.items() if s.oracle is None}
    assert set(ROWS_ONLY_ROW_CONTRACT) == rows_only
    root = Path(__file__).resolve().parents[1]
    for p in sorted(root.glob("CORRECTNESS_r*.json")):
        for name, row in json.loads(p.read_text()).items():
            if (
                name in ROWS_ONLY_ROW_CONTRACT
                and isinstance(row, dict)
                and row.get("err") == "no_oracle"
                and row.get("spark_rows") is not None
                and full[name].oracle is None  # still rows-only today
            ):
                lo, hi = ROWS_ONLY_ROW_CONTRACT[name]
                assert lo <= row["spark_rows"] <= hi, (name, p.name, row)
