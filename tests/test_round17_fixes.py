"""Round-17 optimization invariants.

The r17 construction-latency work rebuilt the three chattiest GEM
kernels (harmonize_coordinates, split_ownership, expand_years) so each
Column is ONE server-side ``F.expr`` parse instead of a chain of py4j
Column-object round-trips. That is only legitimate if the analyzed
plan is EXACTLY what the Column-built form produced — these tests pin
that equivalence by rebuilding the pre-r17 Column forms inline and
comparing normalized analyzed plans (expression IDs stripped).

Two kernels have since been re-planned on purpose: harmonize_coordinates
computes its per-location summary as window aggregates instead of a
groupBy + join-back, and the equal-share split counts owners with
``size(split(...))`` instead of a row-id window. Their plans no longer
match the Column-built forms, so those two are pinned by exact VALUE
identity against the same verbatim Column-built oracles, on an
adversarial frame. The strict split and expand_years keep their plan
identities.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from gem_data_wrangle_spark.functions import strings as S
from gem_data_wrangle_spark.functions.conditional import case_when_capacity
from gem_data_wrangle_spark.operators import kernels as K


def _norm(df) -> str:
    """Analyzed plan with expression IDs normalized."""
    return re.sub(r"#\d+", "#N", df._jdf.queryExecution().analyzed().toString())


@pytest.fixture(scope="module")
def units(spark):
    return spark.range(0, 40).selectExpr(
        "concat('U', id) as `GEM unit/phase ID`",
        "concat('L', id % 7) as `GEM location ID`",
        "cast(id % 180 - 90 as double) as Latitude",
        "cast(id % 360 - 180 as double) as Longitude",
        "case id % 3 when 0 then concat('A', id % 5, ' [40%]; B', id % 5, ' [60%]') "
        "when 1 then concat('A', id % 5, ' [100%]') "
        "else concat('A', id % 5, '; B', id % 5) end as Owner",
        "cast(id % 500 as string) as `Capacity (MW)`",
        "cast(1990 + id % 45 as string) as `Start year`",
        "case when id % 11 = 0 then cast(2015 + id % 25 as string) end as `Planned retirement`",
    )


def _harmonize_column_built(df, location_col, lat_col="Latitude", lon_col="Longitude"):
    """The pre-r17 Column-built harmonize_coordinates, verbatim."""
    lat, lon = F.col(lat_col), F.col(lon_col)
    n_rows = F.count(F.lit(1))
    na_poisoning_mean = lambda c: F.when(  # noqa: E731
        F.count(c) < n_rows, F.lit(None).cast("double")
    ).otherwise(F.avg(c))
    pair = F.struct(lat.alias("a"), lon.alias("b"))
    summary = df.groupBy(location_col).agg(
        (F.min(pair) != F.max(pair)).alias("_coords_differ"),
        na_poisoning_mean(lat).alias("_lat_mean"),
        na_poisoning_mean(lon).alias("_lon_mean"),
        F.first(lat, ignorenulls=False).alias("_lat_first"),
        F.first(lon, ignorenulls=False).alias("_lon_first"),
    )
    summary = summary.select(
        location_col,
        F.when(F.col("_coords_differ"), F.col("_lat_mean"))
        .otherwise(F.col("_lat_first"))
        .alias(lat_col),
        F.when(F.col("_coords_differ"), F.col("_lon_mean"))
        .otherwise(F.col("_lon_first"))
        .alias(lon_col),
    )
    return df.drop(lat_col, lon_col).join(summary, on=location_col, how="left")


def _split_column_built(
    df, owner_col, capacity_col, equal_share, pct_grammar,
    out_owner="company_name", out_share="ownership_share",
    out_alloc="capacity_allocated", row_id_col="row_id",
):
    """The pre-r17 Column-built split_ownership, verbatim."""
    exploded = K.add_row_id(df, row_id_col).withColumn(
        "_owner_part", S.explode_split(F.col(owner_col))
    )
    exploded = exploded.withColumns(
        {
            out_owner: S.owner_name(F.col("_owner_part")),
            "_pct": S.owner_pct(F.col("_owner_part"), grammar=pct_grammar),
        }
    )
    if equal_share:
        w = Window.partitionBy(row_id_col)
        share = F.coalesce(F.col("_pct"), F.lit(1.0) / F.count(F.lit(1)).over(w))
    else:
        share = F.col("_pct")
    return (
        exploded.withColumn(out_share, share)
        .withColumn(
            out_alloc, F.col(capacity_col).try_cast("double") * F.col(out_share)
        )
        .drop("_owner_part", "_pct")
    )


def _expand_column_built(
    df, start_year_col, retirement_col, alloc_col="capacity_allocated",
    year_start=2023, year_end=2050,
    out_year="production_year", out_value="capacity",
):
    """The pre-r17 Column-built expand_years, verbatim."""
    year = F.col(out_year)
    start = F.col(start_year_col).try_cast("double")
    ret = (
        F.col(retirement_col).try_cast("double")
        if retirement_col is not None
        else F.lit(None).cast("double")
    )
    return df.withColumn(
        out_year, F.explode(F.sequence(F.lit(year_start), F.lit(year_end)))
    ).withColumn(
        out_value,
        case_when_capacity(year, start, ret, F.col(alloc_col), horizon_end=year_end),
    )


# Every trap both rewritten kernels must reproduce: a NULL location
# whose units disagree, one NULL latitude in a multi-unit location,
# agreeing and disagreeing coordinates (means are exact in binary, so
# the window's and the aggregate's summation orders cannot differ),
# agreeing NULL latitudes, a single-unit location; owners with a
# trailing "; ", an empty string, a NULL, single and multiple owners,
# with and without percents.
_ADVERSARIAL = [
    ("U0", None, 10.0, 20.0, "A [40%]; B", "100"),
    ("U1", None, 30.0, 40.0, "A; B; ", "50"),
    ("U2", "L1", None, 1.5, "", "10"),
    ("U3", "L1", 2.5, 3.5, None, "20"),
    ("U4", "L1", 4.5, 4.0, "C [100%]", "30"),
    ("U5", "L2", 1.25, 2.25, "D", "40"),
    ("U6", "L2", 1.25, 2.25, "D; E", "N/A"),
    ("U7", "L3", 0.5, -0.5, "F [25%]; G; ", "80"),
    ("U8", "L3", 1.5, 0.5, "G", None),
    ("U9", "L4", None, 7.0, "H;I", "12"),
    ("U10", "L4", None, 7.0, "; ", "6"),
    ("U11", "L5", -45.0, 170.0, "J [60%]; K [40%]", "99"),
]


@pytest.fixture(scope="module")
def adversarial(spark):
    return spark.createDataFrame(
        _ADVERSARIAL,
        "`GEM unit/phase ID` string, `GEM location ID` string, "
        "Latitude double, Longitude double, Owner string, `Capacity (MW)` string",
    ).repartition(3)


def _rows(df) -> list:
    return sorted((tuple(r) for r in df.collect()), key=repr)


def test_harmonize_coordinates_values_identical(adversarial):
    new = K.harmonize_coordinates(adversarial, "GEM location ID")
    old = _harmonize_column_built(adversarial, "GEM location ID")
    assert new.columns == old.columns
    assert _rows(new) == _rows(old)
    coords = {
        r["GEM unit/phase ID"]: (r["Latitude"], r["Longitude"]) for r in new.collect()
    }
    assert coords["U0"] == (None, None)        # NULL location: no match
    assert coords["U2"] == (None, 3.0)         # NULL poisons only lat's mean
    assert coords["U5"] == (1.25, 2.25)        # agreeing units keep the value
    assert coords["U9"] == (None, 7.0)         # agreeing NULLs stay NULL


@pytest.mark.parametrize("grammar", ["ref_hydro", "bracketed"])
def test_split_ownership_equal_share_values_identical(adversarial, grammar):
    new = K.split_ownership(
        adversarial, "Owner", "Capacity (MW)", equal_share=True, pct_grammar=grammar
    )
    old = _split_column_built(
        adversarial, "Owner", "Capacity (MW)", equal_share=True, pct_grammar=grammar
    )
    assert new.columns == old.columns
    assert _rows(new) == _rows(old)
    # trailing separator and empty string count as owners in both forms
    assert new.filter("Owner = 'A; B; '").count() == 3
    assert new.filter("Owner = ''").count() == 1
    assert new.filter("Owner is null").count() == 0


@pytest.mark.parametrize("equal_share,grammar", [
    (False, "ref_coal"),
])
def test_split_ownership_plan_identical(units, equal_share, grammar):
    new = K.split_ownership(
        units, "Owner", "Capacity (MW)",
        equal_share=equal_share, pct_grammar=grammar,
    )
    old = _split_column_built(
        units, "Owner", "Capacity (MW)",
        equal_share=equal_share, pct_grammar=grammar,
    )
    assert _norm(new) == _norm(old)


@pytest.mark.parametrize("retirement", ["Planned retirement", None])
def test_expand_years_plan_identical(units, retirement):
    src = K.split_ownership(
        units, "Owner", "Capacity (MW)", equal_share=False, pct_grammar="ref_coal"
    )
    new = K.expand_years(
        src, start_year_col="Start year", retirement_col=retirement
    )
    old = _expand_column_built(
        src, start_year_col="Start year", retirement_col=retirement
    )
    assert _norm(new) == _norm(old)


def test_lit_double_array_matches_elementwise(spark):
    """The one-round-trip literal builder must produce the SAME
    optimized plan and values as the element-wise F.array(F.lit(...))
    form it replaced — including exponent-formatted, negative-zero and
    non-finite (fallback path) values."""
    from gem_data_wrangle_spark.operators.similarity import _lit_double_array

    df = spark.range(2).selectExpr("cast(id as double) as x")
    for vals in (
        [1.0, -1.0],
        [1e-05, 3.141592653589793, 12345678901234.5, -0.0],
        [float("inf"), 1.0],  # non-finite → element-wise fallback
    ):
        a = df.select(F.array(*[F.lit(v) for v in vals]).alias("p"))
        b = df.select(_lit_double_array(vals).alias("p"))
        na = re.sub(r"#\d+", "#N", a._jdf.queryExecution().optimizedPlan().toString())
        nb = re.sub(r"#\d+", "#N", b._jdf.queryExecution().optimizedPlan().toString())
        assert na == nb
        assert a.collect() == b.collect()


def test_lsh_bucket_values_stable(spark):
    """lsh_bucket's literal-construction change may not move a single
    bucket bit: pin the bucket strings on a deterministic frame."""
    from gem_data_wrangle_spark.operators.similarity import (
        as_double_array,
        hyperplanes,
        lsh_bucket,
    )

    df = spark.range(16).selectExpr(
        "id as vec_id",
        "transform(sequence(1, 8), j -> cast((id * j) % 7 - 3 as double)) as v",
    )
    planes = hyperplanes(4, 8)
    rows = df.select(
        "vec_id", lsh_bucket(as_double_array(F.col("v")), planes).alias("b")
    ).collect()
    elementwise = df.select(
        "vec_id",
        F.concat(*[
            F.when(
                F.aggregate(
                    F.zip_with(
                        as_double_array(F.col("v")),
                        F.array(*[F.lit(x) for x in plane]),
                        lambda x, y: x * y,
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ) > 0, F.lit("1"),
            ).otherwise(F.lit("0"))
            for plane in planes
        ]).alias("b"),
    ).collect()
    assert rows == elementwise


def test_split_ownership_values_unchanged(units):
    """Value-level spot check on top of the plan identity: the share
    math survives the D-suffix literal rewrite."""
    rows = (
        K.split_ownership(
            units, "Owner", "Capacity (MW)",
            equal_share=True, pct_grammar="ref_hydro",
        )
        .groupBy()
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("ownership_share"), 6).alias("share_sum"),
            F.round(F.sum("capacity_allocated"), 6).alias("alloc_sum"),
        )
        .collect()[0]
    )
    old = (
        _split_column_built(
            units, "Owner", "Capacity (MW)",
            equal_share=True, pct_grammar="ref_hydro",
        )
        .groupBy()
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("ownership_share"), 6).alias("share_sum"),
            F.round(F.sum("capacity_allocated"), 6).alias("alloc_sum"),
        )
        .collect()[0]
    )
    assert rows == old
