"""Every output check passes on the program's real answers over a small
generated week, and fails once an answer is corrupted."""

import copy
import json
import shutil

import pytest

import checks
import lakegen
import workloads as W
from data_lakehouse_movilidad_publica_santiago_spark.analytics import business
from tracing import Tracer


@pytest.fixture(scope="module")
def week(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("perfbench") / "lake"
    batch = lakegen.generate(root, 5, n_daily=1, viajes_rows=800, etapas_rows=3000, subidas_rows=600)
    res = W.weekly_load(spark, Tracer(enabled=False), batch, 2, analytics=True)
    assert res.failed == 0, res.errors
    return batch, res


def test_load_check_passes_and_rejects_corruption(week, tmp_path):
    batch, res = week
    assert res.answers["rerun_status"] == "SKIPPED"
    assert checks.check_load(batch, batch.root, batch.root / "gold", "SKIPPED") == []
    # a re-run that loads again instead of skipping
    assert checks.check_load(batch, batch.root, batch.root / "gold", "OK")
    # a planted count the silver layer did not report
    wrong = copy.deepcopy(batch)
    cut = wrong.cuts[1]
    object.__setattr__(cut, "expected_quarantine", {**cut.expected_quarantine, "NEG_DISTANCE": 999})
    assert any("quarantine" in e for e in checks.check_load(wrong, batch.root, batch.root / "gold", "SKIPPED"))
    # a gold fact partition that lost rows
    gold = tmp_path / "gold"
    shutil.copytree(batch.root / "gold", gold)
    part = next(p for p in sorted((gold / "fct_validation").rglob("*.parquet")) if p.stat().st_size > 1000)
    part.unlink()
    assert any("fct_validation" in e for e in checks.check_load(batch, batch.root, gold, "SKIPPED"))


def test_analytics_check_passes_and_rejects_corruption(week):
    batch, res = week
    con = checks.analytics_twin(batch.root / "gold", business.GOLD_TABLES)
    answers = res.answers["analytics"]
    assert set(answers) == set(business.BUSINESS_QUERIES)
    for name, sql in business.BUSINESS_QUERIES.items():
        sql = sql.format(**W.ANALYTICS_PARAMS) if "{" in sql else sql
        rows = answers[name]
        assert checks.check_query(con, name, sql, rows) == [], name
        if not rows:
            continue
        bad = copy.deepcopy(rows)
        col = next((k for k, v in bad[0].items() if isinstance(v, (int, float)) and not isinstance(v, bool)), None)
        if col is not None:
            bad[0][col] = (bad[0][col] or 0) * 3 + 7
            assert checks.check_query(con, name, sql, bad), f"{name}: corrupted {col} passed"
        assert checks.check_query(con, name, sql, rows[1:] or rows * 2), f"{name}: dropped row passed"


def test_serving_check_passes_and_rejects_corruption(week, spark):
    batch, _ = week
    lake = W.SilverLake(spark, batch.root)
    con = checks.serving_twin(batch.root)
    for req in [r for reqs in W.request_catalog(5, per_type=3).values() for r in reqs]:
        rows = W.serve(lake, req)
        assert checks.check_request(con, req, rows) == [], req
        if not rows:
            continue
        bad = copy.deepcopy(rows)
        col = next(k for k, v in bad[0].items() if isinstance(v, (int, float)) and not isinstance(v, bool))
        bad[0][col] = (bad[0][col] or 0) * 3 + 7
        assert checks.check_request(con, req, bad), f"{req}: corrupted {col} passed"
        if len(rows) > 1:
            assert checks.check_request(con, req, rows[1:]), f"{req}: dropped row passed"


def test_quality_json_is_what_the_load_check_reads(week):
    batch, _ = week
    q = next((batch.root / "processed" / "_quality").rglob("quality.json"))
    assert "quarantine_reason_distribution" in json.loads(q.read_text())
