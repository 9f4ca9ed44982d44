"""Spark six-metric report == vendored reference oracle (quirks Q1-Q9)
on the IoT-mirror fixture (SURVEY.md §5.2: the reference's own flagship
artifact, reproduced end-to-end in Spark)."""

from __future__ import annotations

import pytest

from data_quality_assessment_spark.plans import report
from data_quality_assessment_spark.sources.fixture_gen import gen_iot
from tests.oracle import oracle_six_metrics


@pytest.fixture(scope="module", params=[7, 8, 9])
def iot(request):
    return gen_iot(400, n_entities=15, seed=request.param)


def test_six_metrics_match_oracle(spark, iot):
    want = oracle_six_metrics(iot)
    got = report.six_metric_report(
        spark.createDataFrame(iot.astype(object).where(iot.notna(), None))
    ).collect()[0]
    assert got.dupe == pytest.approx(want.dupe, abs=1e-9)
    assert got.regularity == pytest.approx(want.regularity, abs=1e-9)
    assert got.outliers == pytest.approx(want.outliers, abs=1e-9)
    assert got.format_adherence == pytest.approx(want.format_adherence, abs=1e-9)
    assert got.unknown_absence == pytest.approx(want.unknown_absence, abs=1e-9)
    assert got.completeness == pytest.approx(want.completeness, abs=1e-6)
    assert got.avg_score == pytest.approx(want.avg(), abs=2e-3)


def test_reference_report_matches_oracle(spark, iot, tmp_path):
    """EP1 end to end (``jobs/run_reference_report.py``'s entry) over a
    reference-format JSON array: packet count, the W3 time range (the
    +05:30 offset stripped, sensor-local wall clock) and the dupe / IAT
    scores of the vendored oracle."""
    import json

    data = tmp_path / "packets.json"
    records = iot.astype(object).where(iot.notna(), None).to_dict("records")
    data.write_text(json.dumps(records))
    schema = tmp_path / "schema.json"
    schema.write_text(json.dumps({
        "type": "object",
        "properties": {
            "entity_id": {"type": "string"},
            "observationDateTime": {"type": "string"},
            "payload_str": {"type": "string"},
            "payload_num": {"type": "number"},
        },
        "required": ["entity_id", "observationDateTime"],
    }))

    got = report.reference_report(
        spark, str(data), str(schema), "entity_id"
    ).collect()[0]
    local = iot["observationDateTime"].str[:19].str.replace("T", " ")
    assert got.n_packets == len(iot)
    assert (got.start_time, got.end_time) == (local.min(), local.max())
    want = oracle_six_metrics(iot)
    assert got.dupe == pytest.approx(want.dupe, abs=1e-9)
    assert got.regularity == pytest.approx(want.regularity, abs=1e-9)
    assert got.outliers == pytest.approx(want.outliers, abs=1e-9)
