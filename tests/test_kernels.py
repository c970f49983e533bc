"""Kernel semantics against hand-built GEM-shaped fixtures — every
sentinel/variant from FIXTURES.md §A1/A3 (multi-owner with/without
percent, coal-vs-hydro fallback asymmetry, coordinate disagreement,
NA-poisoning mean, year-expansion capacity cases, binational split)."""

import pytest
from pyspark.sql import functions as F

from gem_data_wrangle_spark.operators import kernels as K

OWNER_ROWS = [
    # (unit, owner_cell, capacity)
    ("u1", "A Corp [50%]; B Ltd [50%]", "1000"),
    ("u2", "Solo Inc [100%]", "500"),
    ("u3", "X; Y; Z", "300"),            # no percents
    ("u4", "Mix Co [25%]; NoPct Co", "400"),
    ("u5", None, "100"),
]


def _owners_df(spark):
    return spark.createDataFrame(OWNER_ROWS, "unit string, Owner string, cap string")


def test_split_ownership_strict_drops_missing_pct(spark):
    """Coal/gasoil: owner without [NN%] → NULL share → NULL allocation
    (GEM/Coalplants_GEM.R:104-116; 353 such cells in the real tracker)."""
    out = K.split_ownership(
        _owners_df(spark).filter(F.col("Owner").isNotNull()),
        "Owner", "cap", equal_share=False,
    )
    rows = {(r["unit"], r["company_name"]): r for r in out.collect()}
    assert rows[("u1", "A Corp")]["capacity_allocated"] == 500.0
    assert rows[("u1", "B Ltd")]["capacity_allocated"] == 500.0
    assert rows[("u3", "X")]["ownership_share"] is None
    assert rows[("u3", "X")]["capacity_allocated"] is None
    assert rows[("u4", "Mix Co")]["capacity_allocated"] == 100.0
    assert rows[("u4", "NoPct Co")]["capacity_allocated"] is None
    # null-skipping sum drops the missing-pct capacity (u3 sums to 0)
    sums = dict(
        out.groupBy("unit")
        .agg(F.coalesce(F.sum("capacity_allocated"), F.lit(0.0)).alias("s"))
        .collect()
    )
    assert sums["u3"] == 0.0
    assert sums["u4"] == 100.0


def test_split_ownership_equal_share(spark):
    """Hydro & friends: missing percent → 1/n within the original row
    (GEM/Hydroplants_GEM.R:174-190)."""
    out = K.split_ownership(
        _owners_df(spark).filter(F.col("Owner").isNotNull()),
        "Owner", "cap", equal_share=True,
    )
    rows = {(r["unit"], r["company_name"]): r for r in out.collect()}
    assert rows[("u3", "X")]["ownership_share"] == pytest.approx(1 / 3)
    assert rows[("u3", "Y")]["capacity_allocated"] == pytest.approx(100.0)
    # explicit percents still win
    assert rows[("u4", "Mix Co")]["ownership_share"] == 0.25
    # the no-pct partner falls back to 1/n of the ROW (n=2), not 75%
    assert rows[("u4", "NoPct Co")]["ownership_share"] == 0.5
    # shares of an all-defaulted row sum to 1
    total = (
        out.filter(F.col("unit") == "u3")
        .agg(F.sum("ownership_share").alias("s"))
        .collect()[0]["s"]
    )
    assert total == pytest.approx(1.0)


def test_split_ownership_refuses_escaped_string_literals(spark):
    """Its regex literals are escaped for the default SQL lexer: a session
    with escapedStringLiterals=true fails at plan-build time instead of
    splitting owners with different patterns."""
    key = "spark.sql.parser.escapedStringLiterals"
    df = _owners_df(spark)
    saved = spark.conf.get(key)
    spark.conf.set(key, "true")
    try:
        for equal_share in (False, True):
            with pytest.raises(ValueError, match="escapedStringLiterals"):
                K.split_ownership(df, "Owner", "cap", equal_share=equal_share)
    finally:
        spark.conf.set(key, saved)
    assert K.split_ownership(df, "Owner", "cap", equal_share=True).count() == 8


def test_harmonize_coordinates_mean_vs_single(spark):
    df = spark.createDataFrame(
        [
            ("L1", "u1", 10.0, 20.0),
            ("L1", "u2", 12.0, 22.0),   # disagreement → mean
            ("L2", "u3", 5.0, 6.0),
            ("L2", "u4", 5.0, 6.0),     # agreement → the value
            ("L3", "u5", 1.0, 2.0),
            ("L3", "u6", None, 2.0),    # NA-poisoning mean (R parity)
        ],
        "loc string, unit string, Latitude double, Longitude double",
    )
    out = {r["unit"]: r for r in K.harmonize_coordinates(df, "loc").collect()}
    assert out["u1"]["Latitude"] == 11.0 and out["u1"]["Longitude"] == 21.0
    assert out["u3"]["Latitude"] == 5.0
    # location with one NULL coordinate: mean() without na.rm → NA
    assert out["u5"]["Latitude"] is None


def test_expand_years_capacity_cases(spark):
    df = spark.createDataFrame(
        [("u1", "2025", "2030", 100.0), ("u2", "2020", None, 50.0)],
        "unit string, start string, retire string, capacity_allocated double",
    )
    out = K.expand_years(df, "start", "retire")
    rows = {(r["unit"], r["production_year"]): r["capacity"] for r in out.collect()}
    assert len(rows) == 2 * 28  # always exactly 28 years per unit
    assert rows[("u1", 2023)] == 0.0      # before start
    assert rows[("u1", 2025)] == 100.0    # active
    assert rows[("u1", 2030)] == 0.0      # retired (inclusive)
    assert rows[("u1", 2050)] == 0.0
    assert rows[("u2", 2023)] == 50.0     # no retirement → active throughout
    assert rows[("u2", 2050)] == 50.0


def test_binational_split(spark):
    df = spark.createDataFrame(
        [
            ("L1", "U1", "Yes", "France", "Spain", 100.0, 40.0, 60.0),
            ("L2", "U2", "No", "Chile", None, 80.0, None, None),
        ],
        "`GEM location ID` string, `GEM unit ID` string, Binational string, "
        "`Country 1` string, `Country 2` string, `Capacity (MW)` double, "
        "`Cap 1` double, `Cap 2` double",
    )
    out = K.binational_split(
        df,
        id_cols=("GEM location ID", "GEM unit ID"),
        primary_overrides={"Capacity (MW)": "Cap 1"},
        secondary_overrides={"Country 1": "Country 2", "Capacity (MW)": "Cap 2"},
    )
    rows = {r["GEM unit ID"]: r for r in out.collect()}
    assert set(rows) == {"U1", "U1_2", "U2"}
    assert rows["U1"]["Country 1"] == "France" and rows["U1"]["Capacity (MW)"] == 40.0
    assert rows["U1_2"]["Country 1"] == "Spain" and rows["U1_2"]["Capacity (MW)"] == 60.0
    assert rows["U1_2"]["GEM location ID"] == "L1_2"
    assert rows["U2"]["Capacity (MW)"] == 80.0
    assert "Cap 2" not in out.columns


def test_surrogate_ids_deterministic_and_unique(spark):
    df = spark.createDataFrame(
        [("b",), ("a",), ("c",), ("a",), (None,)], "company_name string"
    )
    out = K.surrogate_ids(df, "company_name")
    rows = out.collect()
    ids = {r["company_name"]: r["company_id"] for r in rows}
    assert ids["a"] == "TFL00000001"  # ordered by name → deterministic
    assert ids["b"] == "TFL00000002"
    assert ids["c"] == "TFL00000003"
    assert ids[None] is None
    # rerun → identical mapping
    again = {r["company_name"]: r["company_id"] for r in K.surrogate_ids(df, "company_name").collect()}
    assert again == ids


def test_salted_sum_equals_plain_groupby(spark, sf_dir):
    from gem_data_wrangle_spark.operators.skew import salted_sum

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    plain = {
        r["l_returnflag"]: r["s"]
        for r in li.groupBy("l_returnflag").agg(F.sum("l_quantity").alias("s")).collect()
    }
    salted = {
        r["l_returnflag"]: r["s"]
        for r in salted_sum(li, ["l_returnflag"], {"s": "l_quantity"}, num_salts=16).collect()
    }
    assert set(plain) == set(salted)
    for k in plain:
        assert abs(plain[k] - salted[k]) < 1e-6


def test_skew_safe_variants_equal_window_paths(spark, sf_dir):
    """VERDICT r3 item 8: the skew_safe two-phase formulations of
    window_count_share (count agg + join-back) and dedup_first_per_key
    (min_by over an order struct) must return exactly what the window
    paths return — verified on a deliberately skewed frame (one key
    holds ~20% of rows)."""
    from gem_data_wrangle_spark.operators import aggregates as A

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").withColumn(
        "l_orderkey",
        F.when(F.col("l_linenumber") % 5 == 0, F.lit(424242)).otherwise(
            F.col("l_orderkey")
        ),
    )
    w = sorted(tuple(r) for r in A.window_count_share(li, ["l_orderkey"]).collect())
    s = sorted(
        tuple(r)
        for r in A.window_count_share(li, ["l_orderkey"], skew_safe=True).collect()
    )
    assert w == s and len(w) == li.count()

    # deterministic dedup needs a TOTAL order (operator docstring);
    # order by every non-key column so ties are full-row-identical
    order = [c for c in li.columns if c != "l_orderkey"]
    dw = sorted(
        tuple(r) for r in A.dedup_first_per_key(li, ["l_orderkey"], order).collect()
    )
    ds = sorted(
        tuple(r)
        for r in A.dedup_first_per_key(
            li, ["l_orderkey"], order, skew_safe=True
        ).collect()
    )
    assert dw == ds
    with pytest.raises(ValueError):
        A.dedup_first_per_key(
            li, ["l_orderkey"], [F.col("l_linenumber").desc()], skew_safe=True
        )


def test_skew_safe_count_share_keeps_null_keys_and_schema(spark):
    """ADVICE r4: skew_safe window_count_share must (a) keep rows whose
    partition key is NULL — the window path treats NULL as a group, so
    the join-back must be null-safe — and (b) return the window path's
    exact column order, not join-keys-first."""
    from gem_data_wrangle_spark.operators import aggregates as A

    df = spark.createDataFrame(
        [("x", "k1", 1.0), ("y", None, None), ("z", None, None)],
        "payload string, grp string, explicit double",
    )
    w = A.window_count_share(
        df, ["grp"], explicit_share=F.col("explicit"), out_col="share"
    )
    s = A.window_count_share(
        df, ["grp"], explicit_share=F.col("explicit"), out_col="share",
        skew_safe=True,
    )
    assert s.columns == w.columns == ["payload", "grp", "explicit", "share"]
    rows_w = sorted(tuple(r) for r in w.collect())
    rows_s = sorted(tuple(r) for r in s.collect())
    assert rows_s == rows_w
    # the two NULL-key rows form one group of 2 → equal share 0.5
    assert [r for r in rows_s if r[1] is None] == [
        ("y", None, None, 0.5),
        ("z", None, None, 0.5),
    ]


def test_skew_safe_count_share_replaces_existing_out_col(spark):
    """ADVICE r5: when df already has a column named out_col, the
    window path replaces it in place — the skew_safe path must do the
    same, not emit a duplicate/ambiguous column."""
    from gem_data_wrangle_spark.operators import aggregates as A

    df = spark.createDataFrame(
        [("x", "k1", 9.9), ("y", "k1", 9.9), ("z", "k2", 9.9)],
        "payload string, grp string, share double",
    )
    w = A.window_count_share(df, ["grp"], out_col="share")
    s = A.window_count_share(df, ["grp"], out_col="share", skew_safe=True)
    assert s.columns == w.columns == ["payload", "grp", "share"]
    assert sorted(map(tuple, s.collect())) == sorted(map(tuple, w.collect())) == [
        ("x", "k1", 0.5), ("y", "k1", 0.5), ("z", "k2", 1.0),
    ]


def test_bucketed_join_elides_exchange(spark, tmp_path):
    from gem_data_wrangle_spark.sources.bucketing import bucketed_join, write_bucketed

    a = spark.range(0, 1000).withColumnRenamed("id", "k")
    b = spark.range(0, 1000).withColumnRenamed("id", "k")
    write_bucketed(a, "t_bucket_a", "k", num_buckets=8, sort_by="k")
    write_bucketed(b, "t_bucket_b", "k", num_buckets=8, sort_by="k")
    joined = bucketed_join(spark, "t_bucket_a", "t_bucket_b", on="k")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert joined.count() == 1000
    # co-located: no shuffle exchange below the join
    assert "Exchange hashpartitioning" not in plan
    spark.sql("DROP TABLE IF EXISTS t_bucket_a")
    spark.sql("DROP TABLE IF EXISTS t_bucket_b")


def test_upsert_snapshot(spark):
    from gem_data_wrangle_spark.operators.kernels import upsert_snapshot

    cur = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
    upd = spark.createDataFrame([(2, "B"), (3, "c")], ["k", "v"])
    out = {r.k: r.v for r in upsert_snapshot(cur, upd, ["k"]).collect()}
    assert out == {1: "a", 2: "B", 3: "c"}


def test_scd2_from_snapshots(spark):
    from gem_data_wrangle_spark.operators.kernels import scd2_from_snapshots

    snaps = spark.createDataFrame(
        [
            ("plant1", "2022", "OwnerA"),
            ("plant1", "2023", "OwnerA"),
            ("plant1", "2024", "OwnerB"),
            ("plant2", "2023", "OwnerX"),
            ("plant2", "2024", "OwnerX"),
        ],
        ["asset", "release", "owner"],
    )
    hist = scd2_from_snapshots(snaps, ["asset"], "release", ["owner"])
    rows = {(r.asset, r.owner): (r.valid_from, r.valid_to) for r in hist.collect()}
    assert rows[("plant1", "OwnerA")] == ("2022", "2024")
    assert rows[("plant1", "OwnerB")] == ("2024", None)
    assert rows[("plant2", "OwnerX")] == ("2023", None)
    assert len(rows) == 3
