"""IEEE/XDM numeric edge matrices vs the reference goldens
(/root/reference/tests/output/{addition,...,modulo}; tests.sh:524-529)."""

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from xidel_spark.functions.numeric import ser_double, xdm_div, xdm_idiv, xdm_mod

GOLDEN_DIR = Path("/root/reference/tests/output")
VALUES = [float("-inf"), -1.0, -0.0, float("nan"), 0.0, 1.0, float("inf")]


@pytest.fixture(scope="module")
def matrix(spark):
    rows = [(i, a, j, b) for i, a in enumerate(VALUES) for j, b in enumerate(VALUES)]
    return spark.createDataFrame(rows, "i int, a double, j int, b double").cache()


def rows_of(df, col):
    got = df.select("i", "j", col).collect()
    grid = {}
    for r in got:
        grid.setdefault(r["i"], {})[r["j"]] = r[2]
    return ["\n".join([]) or " ".join(grid[i][j] for j in range(7)) for i in range(7)]


def golden(name):
    return GOLDEN_DIR.joinpath(name).read_text().strip().splitlines()


@pytest.mark.needs_reference
@pytest.mark.parametrize(
    "name,expr",
    [
        ("addition", lambda a, b: ser_double(a + b)),
        ("subtraction", lambda a, b: ser_double(a - b)),
        ("multiplication", lambda a, b: ser_double(a * b)),
        ("division", lambda a, b: ser_double(xdm_div(a, b))),
        ("divisionInt", xdm_idiv),
        ("modulo", xdm_mod),
    ],
)
def test_numeric_matrix_matches_golden(matrix, name, expr):
    out = rows_of(matrix.withColumn("r", expr(F.col("a"), F.col("b"))), "r")
    assert out == golden(name), f"{name}: {out}"


def test_idiv_mod_huge_quotient_no_ansi_abort(spark):
    """regression: a finite quotient past 2^63 must yield err:FOAR0002 for
    idiv (XPath overflow) and a finite value for mod — not a job-aborting
    ANSI CAST_OVERFLOW."""
    df = spark.createDataFrame(
        [(1e300, 1.0), (-1e300, 1.0), (5e18, 1.0), (7.0, 2.0)], "a double, b double"
    )
    rows = df.select(
        xdm_idiv(F.col("a"), F.col("b")).alias("i"),
        xdm_mod(F.col("a"), F.col("b")).alias("m"),
    ).collect()
    assert [r["i"] for r in rows] == ["err:FOAR0002", "err:FOAR0002", "5000000000000000000", "3"]
    assert rows[0]["m"] == "0" and rows[3]["m"] == "1"
