"""Per-table quality-check suites (A2/A3/A4/A5) — the engine form of the
reference's ``DataQualityChecker.run_quality_checks``
(data_quality_checker.py:105-163), preserving its table names, error-type
labels, and report shape ``(table_name, error_type, n_violations, pct)``.

Execution shape: each table's suite reads its input ONCE
(``quality_report``). Tables without a duplicate check fold every format
and logical-date check into one aggregate; tables with one group by the
duplicate keys once, carrying the check sums as partial aggregates, and a
global aggregate over the groups gives every report row. The reference
instead loops Python per check per row — at 100 TB this suite is one pass
per table (six scans, four of them with one small shuffle), all results
dimension-sized.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ehr_data_pipeline_spark.functions.validation import (
    is_valid_date,
    is_valid_datetime,
    is_valid_latitude,
    is_valid_longitude,
    is_valid_phone,
)
from ehr_data_pipeline_spark.operators.quality import quality_report


def invalid(col: str, valid: Column) -> Column:
    """A2 semantics: non-null AND failing the validator
    (data_quality_checker.py:34-45 skips nulls)."""
    return F.col(col).isNotNull() & ~valid


def out_of_order(start: str, end: str) -> Column:
    """A3 semantics: both non-null AND start > end (lexicographic,
    data_quality_checker.py:83-94)."""
    s, e = F.col(start), F.col(end)
    return s.isNotNull() & e.isNotNull() & (s > e)


def condition_checks(df: DataFrame) -> DataFrame:
    """data_quality_checker.py:111-117."""
    return quality_report(
        df,
        {
            "Invalid OnsetDateTime Format": invalid(
                "resource_onsetDateTime", is_valid_datetime(F.col("resource_onsetDateTime"))
            ),
            "Invalid AbatementDateTime Format": invalid(
                "resource_abatementDateTime",
                is_valid_datetime(F.col("resource_abatementDateTime")),
            ),
            "Logical Date Compliance": out_of_order(
                "resource_onsetDateTime", "resource_abatementDateTime"
            ),
        },
        table_name="condition_df",
        duplicate=(("fullUrl", "resource_id"), "Duplicate Check"),
    )


def encounter_checks(df: DataFrame) -> DataFrame:
    """data_quality_checker.py:120-125."""
    return quality_report(
        df,
        {
            "Invalid Period Start Format": invalid(
                "resource_period_start", is_valid_datetime(F.col("resource_period_start"))
            ),
            "Invalid Period End Format": invalid(
                "resource_period_end", is_valid_datetime(F.col("resource_period_end"))
            ),
        },
        table_name="encounter_df",
        duplicate=(("resource_id",), "Duplicate Resource.ID"),
    )


def careplan_checks(df: DataFrame) -> DataFrame:
    """data_quality_checker.py:128-133 — careplan periods validate as plain
    DATEs, not datetimes."""
    return quality_report(
        df,
        {
            "Invalid Period Start Format": invalid(
                "resource_period_start", is_valid_date(F.col("resource_period_start"))
            ),
            "Invalid Period End Format": invalid(
                "resource_period_end", is_valid_date(F.col("resource_period_end"))
            ),
            "Logical Date Compliance": out_of_order(
                "resource_period_start", "resource_period_end"
            ),
        },
        table_name="careplan_df",
    )


def patient_checks(df: DataFrame) -> DataFrame:
    """data_quality_checker.py:136-145."""
    return quality_report(
        df,
        {
            "BirthDate Errors": invalid(
                "resource_birthDate", is_valid_date(F.col("resource_birthDate"))
            ),
            "DeceasedDateTime Errors": invalid(
                "resource_deceasedDateTime",
                is_valid_datetime(F.col("resource_deceasedDateTime")),
            ),
            "Contact Number Errors": invalid(
                "contact_number", is_valid_phone(F.col("contact_number"))
            ),
            "Latitude Errors": invalid("latitude", is_valid_latitude(F.col("latitude"))),
            "Longitude Errors": invalid(
                "longitude", is_valid_longitude(F.col("longitude"))
            ),
            "Birthdate vs DeceasedDateTime Logical Compliance": out_of_order(
                "resource_birthDate", "resource_deceasedDateTime"
            ),
        },
        table_name="patient_df",
        duplicate=(("resource_id",), "Duplicate Resource.ID"),
    )


def observation_checks(df: DataFrame) -> DataFrame:
    """data_quality_checker.py:148-152."""
    return quality_report(
        df,
        {
            "Invalid EffectiveDateTime Format": invalid(
                "resource_effectiveDateTime",
                is_valid_datetime(F.col("resource_effectiveDateTime")),
            ),
        },
        table_name="observation_df",
        duplicate=(("resource_id",), "Duplicate Resource.ID"),
    )


def immunization_checks(df: DataFrame) -> DataFrame:
    """data_quality_checker.py:155-158."""
    return quality_report(
        df,
        {
            "Invalid Resource.Date Format": invalid(
                "resource_date", is_valid_datetime(F.col("resource_date"))
            ),
        },
        table_name="immunization_df",
    )


CHECK_SUITES = {
    "Patient": patient_checks,
    "CarePlan": careplan_checks,
    "Condition": condition_checks,
    "Encounter": encounter_checks,
    "Immunization": immunization_checks,
    "Observation": observation_checks,
}


def fhir_quality_report(tables: dict[str, DataFrame]) -> DataFrame:
    """Full-suite report across all six tables (run_quality_checks parity,
    used for the reference's initial and final quality checks at
    json_pipeline.py:516-529 and :702-722)."""
    reports = [CHECK_SUITES[rt](df) for rt, df in tables.items() if rt in CHECK_SUITES]
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return out
