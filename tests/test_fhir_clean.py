"""Fixture-driven tests for the cleaning composition (P5/F9-F13/U2) and
the per-table quality suites (A2-A5), mirroring the reference's
clean_*_df chains and run_quality_checks output."""

from __future__ import annotations

import os

import pytest

from ehr_data_pipeline_spark.fhir.clean import clean_all
from ehr_data_pipeline_spark.fhir.extract import extract_all
from ehr_data_pipeline_spark.fhir.ingest import read_and_route
from ehr_data_pipeline_spark.fhir.quality import fhir_quality_report

FIXTURE_DIR = os.path.join(os.path.dirname(__file__), "fixtures", "fhir")


@pytest.fixture(scope="module")
def raw_tables(spark):
    return {
        rt: df.cache()
        for rt, df in extract_all(read_and_route(spark, FIXTURE_DIR)).items()
    }


@pytest.fixture(scope="module")
def clean_tables(raw_tables):
    return {rt: df.cache() for rt, df in clean_all(raw_tables).items()}


def by_id(df, key="resource_id"):
    return {r[key]: r.asDict() for r in df.collect()}


def test_clean_patient(clean_tables):
    rows = by_id(clean_tables["Patient"])
    # P5: null-resource_id patient dropped; U2: p9 deduped → 5 rows
    assert set(rows) == {"p1", "p2", "p3", "pm", "p9"}
    # U2 keep-first is deterministic by fullUrl: p9a (female) wins
    assert rows["p9"]["resource_gender"] == "female"
    p2 = rows["p2"]
    # F9: invalid date/datetime/phone formats nulled
    assert p2["resource_birthDate"] is None
    assert p2["resource_deceasedDateTime"] is None
    assert p2["contact_number"] is None
    # F12: integer present + boolean null → True
    assert p2["resource_multipleBirthBoolean"] is True
    assert p2["resource_multipleBirthInteger"] == 2
    # F13: missing integers filled with 0; F12 leaves absent-int booleans alone
    p1 = rows["p1"]
    assert p1["resource_multipleBirthInteger"] == 0
    assert p1["resource_multipleBirthBoolean"] is False
    assert p1["contact_number"] == "555-123-4567"  # valid phone kept
    assert p1["resource_birthDate"] == "1980-01-02"
    # F10: out-of-range lat/lon nulled
    p3 = rows["p3"]
    assert p3["latitude"] is None and p3["longitude"] is None
    assert rows["p1"]["latitude"] == 42.36  # in-range kept


def test_clean_encounter(clean_tables):
    rows = by_id(clean_tables["Encounter"])
    # P5 drops e3/em (no patient reference)
    assert set(rows) == {"e1", "e2"}
    # F11: out-of-order period swapped
    e2 = rows["e2"]
    assert e2["resource_period_start"] == "2020-01-01T00:00:00+00:00"
    assert e2["resource_period_end"] == "2020-02-02T00:00:00+00:00"
    # in-order period untouched
    e1 = rows["e1"]
    assert e1["resource_period_start"] == "2020-01-01T10:00:00-05:00"


def test_clean_condition(clean_tables):
    rows = by_id(clean_tables["Condition"])
    # P5 on (resource_id, patient_id) drops c2 and cm
    assert set(rows) == {"c1", "c3"}
    c3 = rows["c3"]
    assert c3["resource_onsetDateTime"] == "2020-03-01T00:00:00+00:00"
    assert c3["resource_abatementDateTime"] == "2020-09-01T00:00:00+00:00"


def test_clean_observation(clean_tables):
    rows = by_id(clean_tables["Observation"])
    # o2 (null id) and om (null patient_id) dropped; o9 deduped keep-first
    assert set(rows) == {"o1", "o9"}
    assert rows["o9"]["resource_status"] == "final"  # fullUrl o9a < o9b


def test_clean_immunization(clean_tables):
    rows = clean_tables["Immunization"].collect()
    # i2 (no encounter ref) and im dropped
    assert len(rows) == 1
    assert rows[0]["vaccine_type"] == "Influenza"


def test_clean_careplan(clean_tables):
    rows = {r["resource_subject_reference"]: r.asDict() for r in clean_tables["CarePlan"].collect()}
    assert len(rows) == 3  # careplan has no dropna/dedup
    cp2 = rows["p2"]
    # F11 swap on DATE-format periods
    assert cp2["resource_period_start"] == "2020-01-01"
    assert cp2["resource_period_end"] == "2020-06-01"


def test_quality_suite_report(raw_tables):
    report = fhir_quality_report(raw_tables)
    rows = {(r["table_name"], r["error_type"]): r for r in report.collect()}
    assert len(rows) == 20  # 7 patient + 4 condition + 3 encounter + 3 careplan + 2 observation + 1 immunization

    def n(table, error):
        return rows[(table, error)]["n_violations"]

    # A2 format checks (nulls skipped)
    assert n("patient_df", "BirthDate Errors") == 1  # p2 '1975/03/04'
    assert n("patient_df", "DeceasedDateTime Errors") == 1  # 'notadate'
    assert n("patient_df", "Contact Number Errors") == 1  # '12345'
    assert n("patient_df", "Latitude Errors") == 1  # 123.45
    assert n("patient_df", "Longitude Errors") == 1  # -200.5
    # A3 logical: '1975/03/04' < 'notadate' lexicographically → no violation
    assert n("patient_df", "Birthdate vs DeceasedDateTime Logical Compliance") == 0
    # A4 keep=False: the p9 group contributes 2, not 1
    assert n("patient_df", "Duplicate Resource.ID") == 2
    pct = rows[("patient_df", "Duplicate Resource.ID")]["pct"]
    assert abs(pct - 100.0 * 2 / 7) < 1e-12

    assert n("condition_df", "Logical Date Compliance") == 1  # c3 onset > abatement
    assert n("condition_df", "Invalid OnsetDateTime Format") == 0
    assert n("condition_df", "Duplicate Check") == 0

    assert n("encounter_df", "Invalid Period End Format") == 1  # 'bogus-end'
    assert n("encounter_df", "Invalid Period Start Format") == 0

    # careplan periods validate as DATE
    assert n("careplan_df", "Invalid Period Start Format") == 0
    assert n("careplan_df", "Logical Date Compliance") == 1  # cp2

    assert n("observation_df", "Duplicate Resource.ID") == 2  # o9 group
    assert n("observation_df", "Invalid EffectiveDateTime Format") == 0

    # immunization date must be a DATETIME: plain date '2020-01-15' violates
    # (while the format CLEANER accepts date-or-datetime — i2 keeps it)
    assert n("immunization_df", "Invalid Resource.Date Format") == 1


def test_full_pipeline_end_to_end(spark, clean_tables):
    """Spine check: every cleaned table is non-empty, keyed, and the
    patient star joins hold (condition/careplan patient_ids resolve)."""
    patients = {r["patient_id"] for r in clean_tables["Patient"].collect()}
    cond_pids = {r["patient_id"] for r in clean_tables["Condition"].collect()}
    assert cond_pids <= patients
    enc_refs = {
        r["resource_patient_reference"] for r in clean_tables["Encounter"].collect()
    }
    assert enc_refs <= patients


def _old_two_pass_report(df, checks, table_name="table", duplicate=None):
    """The pre-one-pass suite expression, kept verbatim as the pin: the
    single check aggregate unioned with a separate duplicate branch — a
    groupBy count filtered to groups > 1, crossJoined with a second
    total-count scan."""
    from pyspark.sql import functions as F

    from ehr_data_pipeline_spark.operators.quality import quality_report

    report = quality_report(df, checks, table_name=table_name)
    if duplicate is None:
        return report
    keys, error_type = duplicate
    dup_rows = (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") > 1)
        .agg(F.coalesce(F.sum("cnt"), F.lit(0)).cast("bigint").alias("n"))
    )
    total = df.agg(F.count(F.lit(1)).alias("t"))
    return report.unionByName(
        dup_rows.crossJoin(total).select(
            F.lit(table_name).alias("table_name"),
            F.lit(error_type).alias("error_type"),
            F.col("n").alias("n_violations"),
            F.when(F.col("t") > 0, F.lit(100.0) * F.col("n") / F.col("t"))
            .otherwise(F.lit(0.0))
            .alias("pct"),
        )
    )


def _report_rows(df):
    assert [(f.name, f.dataType.simpleString()) for f in df.schema.fields] == [
        ("table_name", "string"), ("error_type", "string"),
        ("n_violations", "bigint"), ("pct", "double"),
    ]
    return [tuple(r) for r in df.collect()]


def _fhir_report_both_ways(tables, monkeypatch):
    import ehr_data_pipeline_spark.fhir.quality as fq

    new = _report_rows(fhir_quality_report(tables))
    with monkeypatch.context() as m:
        m.setattr(fq, "quality_report", _old_two_pass_report)
        old = _report_rows(fhir_quality_report(tables))
    return new, old


def test_one_pass_suite_matches_two_pass_on_fixtures(raw_tables, monkeypatch):
    """Equivalence pin: every suite's one-pass report equals the old
    two-pass expression row for row (order, values and exact pct)."""
    new, old = _fhir_report_both_ways(raw_tables, monkeypatch)
    assert new == old
    rows = {(t, e): (n, p) for t, e, n, p in new}
    assert rows[("patient_df", "Duplicate Resource.ID")][0] == 2  # p9 group
    assert rows[("observation_df", "Duplicate Resource.ID")][0] == 2


def test_one_pass_suite_matches_two_pass_on_empty_tables(raw_tables, monkeypatch):
    """Empty inputs: format checks stay null (SUM over no rows), duplicate
    checks stay 0, every pct is 0.0 — as the two-pass form gave."""
    empty = {rt: df.limit(0) for rt, df in raw_tables.items()}
    new, old = _fhir_report_both_ways(empty, monkeypatch)
    assert new == old
    assert len(new) == 20
    for _, error_type, n, pct in new:
        assert n == (0 if "Duplicate" in error_type else None), error_type
        assert pct == 0.0


def test_one_pass_duplicate_check_groups_null_keys(spark):
    """Null duplicate keys group together (groupBy semantics), in both
    forms: (None, None)×2 + ('a', None)×2 + ('b', 2)×3 are duplicates,
    the singleton groups are not."""
    from pyspark.sql import functions as F

    from ehr_data_pipeline_spark.operators.quality import quality_report

    keys = [(None, None)] * 2 + [(None, 1), ("a", 1)] + [("a", None)] * 2 + [("b", 2)] * 3
    df = spark.createDataFrame(
        [(k1, k2, i) for i, (k1, k2) in enumerate(keys)],
        "k1 string, k2 int, v int",
    )
    checks = {"Odd V": F.col("v") % 2 == 1, "Null K2": F.col("k2").isNull()}
    dup = (("k1", "k2"), "Duplicate K")
    new = _report_rows(quality_report(df, checks, table_name="t", duplicate=dup))
    old = _report_rows(_old_two_pass_report(df, checks, table_name="t", duplicate=dup))
    assert new == old
    assert new[-1] == ("t", "Duplicate K", 7, 100.0 * 7 / 9)
