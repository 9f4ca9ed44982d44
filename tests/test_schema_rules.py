"""JSON-Schema rule engine: semantics per metricModules.py incl. Q7."""

from __future__ import annotations

import pytest

from data_quality_assessment_spark.functions.schema_rules import (
    JsonSchema,
    schema_metrics,
    validate,
)

SCHEMA = JsonSchema.from_dict({
    "properties": {
        "speed": {"type": "number"},
        "name": {"type": "string"},
        "ok": {"type": "boolean"},
    },
    "required": ["speed", "name"],
    "additionalProperties": False,
})

ROWS = [
    (0, '{"speed": 42, "name": "a", "ok": true}'),   # valid
    (1, '{"speed": null, "name": "a"}'),              # null typed field (Q6)
    (2, '{"speed": "fast", "name": "a"}'),            # type error
    (3, '{"name": "a"}'),                             # required absent
    (4, '{"speed": 1.5, "name": "a", "zzz": 1}'),     # unknown attr
    (5, '{}'),                                        # both required absent
    (6, '{"speed": 3, "name": 7}'),                   # name wrong type
]


@pytest.fixture(scope="module")
def validated(spark):
    df = spark.createDataFrame(ROWS, "id long, payload string")
    return {
        r.id: r
        for r in validate(df, "payload", SCHEMA).collect()
    }


def test_valid_record(validated):
    r = validated[0]
    assert (r.v_type_err_cnt, r.v_add_err, r.v_req_err_cnt,
            r.v_missing_cnt, r.v_err_any) == (0, 0, 0, 0, 0)


def test_null_typed_field_is_type_error_and_missing(validated):
    r = validated[1]  # Q6/V3: null fails the type AND counts missing
    assert r.v_type_err_cnt == 1
    assert r.v_req_err_cnt == 0  # present, so not a 'required' error
    assert r.v_missing_cnt == 1
    assert r.v_err_any == 1


def test_wrong_type(validated):
    assert validated[2].v_type_err_cnt == 1
    assert validated[6].v_type_err_cnt == 1


def test_required_absent_counts_per_error(validated):
    assert validated[3].v_req_err_cnt == 1
    assert validated[5].v_req_err_cnt == 2  # per-error, not per-record
    assert validated[5].v_missing_cnt == 2


def test_unknown_attribute(validated):
    assert validated[4].v_add_err == 1
    assert validated[4].v_err_any == 1


def test_metrics_formulas(spark):
    df = spark.createDataFrame(ROWS, "id long, payload string")
    m = schema_metrics(df, "payload", SCHEMA).collect()[0]
    n = len(ROWS)
    assert m.err_count == 6        # all but record 0 violate something
    assert m.add_err_count == 1
    assert m.req_err_cnt == 3      # records 3 (1) + 5 (2)
    assert m.missing_cnt == 4      # records 1, 3, 5x2
    assert m.format_score == pytest.approx(1 - (6 - 1 - 3) / n, abs=1e-6)
    assert m.unknown_score == pytest.approx(1 - 1 / n, abs=1e-6)
    assert m.completeness_score == pytest.approx(1 - 4 / (n * 2), abs=1e-6)


def test_q7_format_can_exceed_one(spark):
    """Q7: req_err_cnt is per-error while err_count is per-record, so
    the reference's F1 exceeds 1 when records miss many required keys."""
    rows = [(i, "{}") for i in range(4)]
    df = spark.createDataFrame(rows, "id long, payload string")
    m = schema_metrics(df, "payload", SCHEMA).collect()[0]
    # err=4 (per record), req=8 (per error) -> 1 - (4-0-8)/4 = 2.0
    assert m.format_score == pytest.approx(2.0)


def test_malformed_json_is_error(spark):
    df = spark.createDataFrame([(0, "not json{")], "id long, payload string")
    r = validate(df, "payload", SCHEMA).collect()[0]
    assert r.v_err_any == 1


def test_required_outside_properties_checks_presence(spark):
    """A required key NOT listed in properties is still checked against
    the record's actual keys (valid JSON Schema does not require
    required ⊆ properties) — present keys must not count as missing
    (ADVICE r1 #3)."""
    schema = JsonSchema.from_dict({
        "properties": {"a": {"type": "number"}},
        "required": ["a", "extra_req"],
    })
    df = spark.createDataFrame(
        [('{"a": 1, "extra_req": "here"}',), ('{"a": 1}',),
         ('{"a": 1, "extra_req": null}',)],
        "payload string",
    )
    rows = {i: r for i, r in enumerate(
        validate(df, "payload", schema).collect()
    )}
    assert rows[0].v_req_err_cnt == 0 and rows[0].v_missing_cnt == 0
    assert rows[1].v_req_err_cnt == 1 and rows[1].v_missing_cnt == 1
    # JSON null: present for the required check, missing for completeness
    assert rows[2].v_req_err_cnt == 0 and rows[2].v_missing_cnt == 1


def test_nested_object_validation_draft7_parity(spark):
    """One-level nested schemas (EnvAQM shape): nested null/wrong-type
    counts as a type error; nested absent-required counts into
    v_req_err_cnt; a wrong-typed parent yields only its own error."""
    schema = JsonSchema.from_dict({
        "properties": {
            "so2": {
                "type": "object",
                "properties": {"avgOverTime": {"type": "number"}},
                "required": ["avgOverTime"],
            },
        },
        "required": ["so2"],
        "additionalProperties": False,
    })
    df = spark.createDataFrame(
        [('{"so2": {"avgOverTime": 1.5}}',),        # clean
         ('{"so2": {"avgOverTime": null}}',),        # nested null -> type err
         ('{"so2": {"avgOverTime": "x"}}',),         # nested wrong type
         ('{"so2": {}}',),                           # nested required absent
         ('{"so2": 5}',)],                           # parent wrong type only
        "payload string",
    )
    rows = validate(df, "payload", schema).collect()
    assert [r.v_type_err_cnt for r in rows] == [0, 1, 1, 0, 1]
    assert [r.v_req_err_cnt for r in rows] == [0, 0, 0, 1, 0]
    assert [r.v_err_any for r in rows] == [0, 1, 1, 1, 1]
