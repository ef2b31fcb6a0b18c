"""Formula DSL vectors from FIXTURES.md §F8."""

import pytest
from pyspark.sql import functions as F

from industrial_data_pipeline_spark.functions.formula import (
    FormulaError,
    compile_formula,
    dependency_order,
    emit_sql,
    referenced_ids,
    validate,
)
from industrial_data_pipeline_spark.operators.derived import backfill_derived

from tests.fixtures import T0, archive_rows


def test_referenced_ids_order_and_dedup():
    assert referenced_ids("$7 + $8 * $7 - $9") == [7, 8, 9]


def test_dependency_order_puts_readers_after_their_sources():
    # 10 reads 11, which is listed after it; 12 reads only sources
    assert dependency_order({10: "$11 * 2", 11: "$1 + $2",
                             12: "$1"}) == [11, 12, 10]


@pytest.mark.parametrize("formulas", [
    {10: "$10 + 1"},                              # self-reference
    {10: "$11 * 2", 11: "$10 + 1"},               # two-step cycle
    {10: "$1", 11: "$13", 12: "$11", 13: "$12"},  # cycle behind a root
])
def test_dependency_order_rejects_cycles(formulas):
    with pytest.raises(FormulaError, match="cycle"):
        dependency_order(formulas)


def test_validate_unknown_id_raises():
    with pytest.raises(FormulaError, match="non-existent"):
        validate("$999 + 1", known_ids={7, 8})


@pytest.mark.parametrize("bad", [
    "$7; DROP TABLE x",          # injection (reference is injectable!)
    "$7 + CASE WHEN 1 THEN 2 END",
    "abs($7)",
    "$7 $8",
    "($7 + 2",
    "",
    "+",
])
def test_rejects_non_grammar(bad):
    with pytest.raises(FormulaError):
        validate(bad)


def test_emit_sql_null_safe_division():
    sql = emit_sql("$7 / $10", lambda i: f"c{i}")
    assert "NULLIF" in sql


@pytest.mark.parametrize("formula,a,b,expected", [
    ("$1 + $2", 3.0, 4.0, 7.0),
    ("($1 + $2) / 2", 3.0, 4.0, 3.5),
    ("($1 * 2) - $2", 3.0, 4.0, 2.0),
    ("-$1 + $2", 3.0, 4.0, 1.0),
    ("$1 / $2", 1.0, 0.0, None),     # div-by-zero → NULL (documented)
    ("$1 + $2", 3.0, None, None),    # NULL propagation
])
def test_evaluation(spark, formula, a, b, expected):
    df = spark.createDataFrame([(a, b)], "c1 double, c2 double")
    col = compile_formula(formula, lambda i: f"c{i}")
    got = df.select(col.alias("v")).first()["v"]
    if expected is None:
        assert got is None
    else:
        assert got == pytest.approx(expected)


def test_backfill_alignment_guard(spark):
    """Misaligned sources: derived rows exist only where ALL sources
    are present and non-NULL (database.py:593 / :701-714 semantics)."""
    archive = spark.createDataFrame(
        archive_rows(), "attribute_id long, timestamp timestamp, value double")
    out = backfill_derived(archive, 9, "($2 + $3) / 2").collect()
    # attr 3 present on even minutes only; attr 2 NULL at minute 10
    minutes = sorted((r["timestamp"] - T0).total_seconds() / 60 for r in out)
    assert minutes == [m for m in range(0, 60, 2) if m != 10]
    by_min = {int((r["timestamp"] - T0).total_seconds() / 60): r["value"]
              for r in out}
    assert by_min[4] == pytest.approx(((100 + 4) + (200 + 4)) / 2)
    assert all(r["attribute_id"] == 9 for r in out)


def test_backfill_no_refs_is_noop(spark):
    archive = spark.createDataFrame(
        archive_rows(), "attribute_id long, timestamp timestamp, value double")
    assert backfill_derived(archive, 9, "1 + 2").count() == 0
