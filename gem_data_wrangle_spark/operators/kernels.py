"""Compound kernels — the reference's signature operators (SURVEY §2.10-§2.12).

Each kernel is a DataFrame→DataFrame composition of built-in Column
expressions; no UDFs, no shuffles beyond the semantically required
ones, so the whole kernel stays inside whole-stage codegen.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from gem_data_wrangle_spark.functions import strings as S


def _sql_str(s: str) -> str:
    """A Python string as a Spark SQL string literal (regexes carry
    backslashes; the SQL lexer consumes one escaping level)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _q(name: str) -> str:
    """A column name as a backtick-quoted SQL identifier (GEM headers
    carry spaces, slashes and parens)."""
    return "`" + name.replace("`", "``") + "`"


def add_row_id(df: DataFrame, col: str = "row_id") -> DataFrame:
    """Stable pre-explode row identifier (``GEM/Hydroplants_GEM.R:162``).

    ``monotonically_increasing_id`` is partition-local and shuffle-free;
    it is only ever used as a *grouping key* (never as a dense rank), so
    its non-contiguity is irrelevant and it scales to any cluster size —
    unlike ``row_number()`` over a global window, which would funnel
    every row through one partition.
    """
    return df.withColumn(col, F.monotonically_increasing_id())


def split_ownership(
    df: DataFrame,
    owner_col: str,
    capacity_col: str,
    equal_share: bool,
    out_owner: str = "company_name",
    out_share: str = "ownership_share",
    out_alloc: str = "capacity_allocated",
    row_id_col: str = "row_id",
    pct_grammar: str = "bracketed",
) -> DataFrame:
    """The ownership-split kernel (SURVEY §2.10) — both reference
    variants behind one flag:

    * ``equal_share=False`` — coal/gasoil semantics
      (``GEM/Coalplants_GEM.R:104-116``): an owner without ``[NN%]``
      keeps a NULL share → NULL allocated capacity → contributes 0 to
      the later null-skipping sum (capacity silently dropped; 353 such
      cells exist in the coal tracker).
    * ``equal_share=True`` — hydro/nuclear/solar/wind/bio/geo semantics
      (``GEM/Hydroplants_GEM.R:159-193``): missing percents default to
      an equal split ``1/n`` among the row's owners, where ``n`` is
      ``size(split(owner))`` taken before the explode — exactly the
      number of exploded parts, trailing separators and empty strings
      included (no collapse).

    Scale: narrow in both variants — no exchange, no window, no join.
    The owner count is a per-row expression, so the explode and the
    share math stay in one codegen stage, and whatever partitioning the
    input carries (e.g. ``harmonize_coordinates``' location shuffle)
    survives for the downstream group-sum.

    ``pct_grammar`` selects the percent-extraction grammar (the
    reference scripts use two different regexes — see
    ``functions.strings.owner_pct``).

    Construction note (r17, guide §1.2 "per-task work" — driver
    edition): every Column below is built as ONE server-side
    ``F.expr`` parse instead of a chain of py4j Column-object calls.
    The strict variant's analyzed plan is IDENTICAL to the Column-built
    form; the equal-share variant returns IDENTICAL values to the
    Column-built row-id window form (both asserted in
    tests/test_round17_fixes.py). SQL-literal traps encoded here: ``100.0``
    lexes as DECIMAL(4,1) in Spark SQL, so doubles are written with
    the ``D`` suffix; regex literals pay one extra escaping level
    (``_sql_str``), which assumes the session's
    ``spark.sql.parser.escapedStringLiterals`` is ``false``; with it
    ``true`` the regexes would parse to different patterns and silently
    mis-split, so that setting is refused here with a ``ValueError``.
    """
    escaped = df.sparkSession.conf.get("spark.sql.parser.escapedStringLiterals")
    if escaped.strip().lower() == "true":
        raise ValueError(
            "split_ownership needs spark.sql.parser.escapedStringLiterals=false: "
            "its regex literals are escaped for the default SQL lexer"
        )
    part = "_owner_part"
    name_sql = f"trim(regexp_extract({_q(part)}, {_sql_str(S.OWNER_NAME_RE)}, 0))"
    pct_re = _sql_str(S._PCT_GRAMMARS[pct_grammar])
    pct_extract = f"regexp_extract({_q(part)}, {pct_re}, 1)"
    pct_sql = (
        f"case when {pct_extract} != '' "
        f"then cast({pct_extract} as double) / 100.0D end"
    )
    split_sql = f"split({_q(owner_col)}, {_sql_str(S.OWNER_SEP)})"
    src = add_row_id(df, row_id_col)
    helpers = ["_owner_part", "_pct"]
    if equal_share:
        # only this branch adds the helper, so the strict variant's plan
        # is untouched; a NULL owner explodes to no rows either way
        src = src.withColumn("_n_owners", F.expr(f"size({split_sql})"))
        helpers.append("_n_owners")
        share = F.expr("coalesce(_pct, 1.0D / _n_owners)")
    else:
        share = F.col("_pct")
    exploded = src.withColumn(part, F.expr(f"explode({split_sql})"))
    exploded = exploded.withColumns(
        {out_owner: F.expr(name_sql), "_pct": F.expr(pct_sql)}
    )
    return (
        exploded.withColumn(out_share, share)
        .withColumn(
            out_alloc,
            F.expr(f"try_cast({_q(capacity_col)} as double) * {_q(out_share)}"),
        )
        .drop(*helpers)
    )


def harmonize_coordinates(
    df: DataFrame,
    location_col: str,
    lat_col: str = "Latitude",
    lon_col: str = "Longitude",
) -> DataFrame:
    """Coordinate harmonization (``GEM/Coalplants_GEM.R:63-76``, in all
    8 scripts): per location, if units disagree on (lat, lon) take the
    mean, else the single value, replacing the originals on every unit
    row. The reference joins a per-location summary back; here each
    summary value is a window aggregate over the location, with the
    join's semantics kept: a NULL location gets NULL coordinates, and
    the columns come out in the join's order (location, the rest,
    lat, lon).

    R parity note: the reference's ``mean()`` has no ``na.rm``, so one
    NULL coordinate poisons the mean for that location — emulated with
    the ``when(count(col) < count(*), NULL)`` guard.

    Scale: one hash shuffle on the location key and nothing else — no
    join, so no broadcast decision and no second pass over the input.
    The window holds one location's rows at a time, so the skew bound is
    rows per location (units of one plant, not a growing dimension).
    The output stays hash-partitioned by location, which a downstream
    group-sum keyed on the location reuses without an exchange of its
    own (``plans.gem.run_fuel_pipeline``).
    """
    # "more than one distinct (lat, lon)" as min(struct) != max(struct):
    # a count_distinct would not run as a window aggregate at all;
    # min/max detect exactly the same condition (structs are never
    # null, so min/max see every row and differ iff two rows disagree).
    #
    # The pair is one named column: written inline, Catalyst would
    # project (and shuffle) a separate struct copy per min/max call.
    # Every window aggregate shares one spec, so Catalyst plans a single
    # Window operator; the projection is one selectExpr parse (one
    # driver round-trip, not one per Column).
    loc, lat, lon = _q(location_col), _q(lat_col), _q(lon_col)
    w = f"over (partition by {loc})"

    def harmonized(c: str) -> str:
        na_mean = (
            f"case when count({c}) {w} < count(1) {w} then cast(null as double) "
            f"else avg({c}) {w} end"
        )
        return (
            f"case when {loc} is null then cast(null as double) "
            f"when min(_pair) {w} != max(_pair) {w} then {na_mean} "
            f"else first({c}) {w} end"
        )

    rest = [_q(c) for c in df.columns if c not in (location_col, lat_col, lon_col)]
    return df.withColumn("_pair", F.expr(f"struct({lat} as a, {lon} as b)")).selectExpr(
        loc, *rest, f"{harmonized(lat)} as {lat}", f"{harmonized(lon)} as {lon}"
    )


def expand_years(
    df: DataFrame,
    start_year_col: str,
    retirement_col: str | None,
    alloc_col: str = "capacity_allocated",
    year_start: int = 2023,
    year_end: int = 2050,
    out_year: str = "production_year",
    out_value: str = "capacity",
) -> DataFrame:
    """Year-range expansion + per-year capacity case
    (``GEM/Coalplants_GEM.R:134-152``).

    The reference cross-joins a literal 28-row table
    (``tidyr::crossing``); here it is ``explode(sequence(...))`` — a
    *narrow* transformation (no shuffle, no join), which matters when
    the left side is 100 TB: a crossJoin would force an exchange, the
    explode is free and stays in codegen.
    """
    # Construction note (r17): the per-year case is one server-side
    # F.expr parse (same analyzed plan as the Column-built
    # case_when_capacity — tests/test_round17_fixes.py; doubles carry
    # the D suffix so the SQL lexer does not read them as DECIMAL).
    year = _q(out_year)
    start = f"try_cast({_q(start_year_col)} as double)"
    ret = (
        f"try_cast({_q(retirement_col)} as double)"
        if retirement_col is not None
        else "cast(null as double)"
    )
    case_sql = (
        f"case when {year} < {start} then 0.0D "
        f"when {ret} is not null and {year} >= {ret} "
        f"and {ret} <= {year_end} then 0.0D "
        f"else {_q(alloc_col)} end"
    )
    return df.withColumn(
        out_year, F.expr(f"explode(sequence({year_start}, {year_end}))")
    ).withColumn(out_value, F.expr(case_sql))


def binational_split(
    df: DataFrame,
    flag_col: str = "Binational",
    id_cols: Sequence[str] = ("GEM location ID", "GEM unit ID"),
    primary_overrides: dict[str, str] | None = None,
    secondary_overrides: dict[str, str] | None = None,
) -> DataFrame:
    """Binational-asset splitter (``GEM/Hydroplants_GEM.R:23-74``):
    rows flagged ``Yes`` are duplicated; the copy gets ``_2``-suffixed
    IDs and its country/capacity/geo columns overwritten from the
    ``... 2`` companion columns; the companion columns are nulled
    everywhere. Pure column remapping + union — no shuffle at all.

    ``secondary_overrides`` maps target column → source ``... 2``
    column for the duplicated copy; ``primary_overrides`` (optional)
    for the original copy (e.g. ``Capacity`` ← ``Country 1 Capacity``).

    R parity note: the reference splits with ``GEM[GEM$Binational=="No",]``
    / ``=="Yes"`` — a row with an NA flag matches neither and (base-R
    ``[`` with an NA index) would inject an all-NA row. This operator
    keeps NA-flag rows on the national side instead (documented
    divergence; the sane reading of the intent).
    """
    secondary_overrides = secondary_overrides or {}
    primary_overrides = primary_overrides or {}
    drop_cols = sorted(set(secondary_overrides.values()) | set(primary_overrides.values()))

    is_bi = F.col(flag_col) == "Yes"
    non_bi = df.filter(~is_bi | F.col(flag_col).isNull()).drop(*drop_cols)
    bi = df.filter(is_bi)

    primary = bi.withColumns(
        {tgt: F.col(src) for tgt, src in primary_overrides.items()}
    ).drop(*drop_cols)
    secondary = bi.withColumns(
        {
            **{c: F.concat(F.col(c), F.lit("_2")) for c in id_cols},
            **{tgt: F.col(src) for tgt, src in secondary_overrides.items()},
        }
    ).drop(*drop_cols)
    return non_bi.unionByName(primary).unionByName(secondary)


def surrogate_ids(
    df: DataFrame,
    name_col: str,
    id_col: str = "company_id",
    prefix_format: str = "TFL%08d",
    materialize: bool = True,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Deterministic surrogate company IDs (``GEM/TotalData_GEM.R:21-34``).

    The reference draws seeded random 8-digit numbers for the distinct
    names; the semantics that matter are *deterministic, unique, stable
    within a run* — not the values. Implemented as a dense global
    numbering of the distinct names ordered by name, computed in two
    phases so no stage funnels through a single partition:

    1. range-partition the distinct names by ``name_col`` (partition
       order == name order), number each partition locally with a
       ``row_number`` window keyed on ``spark_partition_id()``;
    2. collect the per-partition counts (one bounded action over
       ``|shuffle partitions|`` rows — the same contract as
       ``RDD.zipWithIndex``), turn the exclusive prefix sums into a
       literal map, and add ``offset + local row_number``.

    Every shuffle is distributed (range exchange + one hash exchange on
    the partition id); the old single global ``Window.orderBy`` — an
    ``Exchange SinglePartition`` scale-killer on unbounded keys — is
    gone (asserted in ``tests/test_plans.py``).

    ``materialize`` (default True): ``df`` feeds BOTH the distinct-name
    dim (through the eager counts action below) and the returned join,
    so a lazy input subtree executes twice per action — for
    ``consolidate_total`` that re-ran every per-fuel pipeline
    (measured: the all-8 capstone spent construct 16.3 s + write
    19.7 s at sf0.1, two full executions of the 8-pipeline union —
    optimization guide §1.2/§5: materialize a reused intermediate).
    The default truncates ``df`` once via lazy ``localCheckpoint``
    (blocks populate on the counts action and are reused by the
    returned join; ContextCleaner reclaims them when the caller drops
    the frame). ``checkpoint_dir`` selects a durable
    ``DataFrame.checkpoint`` instead for cluster runs (executor loss
    drops localCheckpoint blocks — the ``graph._checkpointer``
    trade-off). ``materialize=False`` keeps the fully lazy plan for
    callers that would rather recompute than store the intermediate
    (e.g. when ``df`` is a cheap scan at 100 TB and storage is the
    scarcer resource — two scans beat one materialization there).
    Cluster sizing/durability notes: SCALE.md "Cluster note: the r16
    materialize=True defaults".
    """
    if materialize:
        from gem_data_wrangle_spark.operators.graph import (  # noqa: PLC0415
            _checkpointer,
        )

        df = _checkpointer(checkpoint_dir)(df, False)
    names = (
        df.select(name_col).where(F.col(name_col).isNotNull()).distinct()
    )
    spark = df.sparkSession
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    ranged = names.repartitionByRange(n_parts, F.col(name_col).asc()).withColumn(
        "_pid", F.spark_partition_id()
    )
    local = ranged.withColumn(
        "_rn", F.row_number().over(Window.partitionBy("_pid").orderBy(name_col))
    )
    # persist BEFORE the counts action (ADVICE r8): RangePartitioner
    # samples boundaries per-execution, so without pinning, the join
    # below would re-run the range shuffle with potentially different
    # placement than the counted one — a stale offsets map and
    # silently wrong/duplicate ids. The cache pins the physical RDD
    # (fixed boundaries); even eviction-recompute replays it. Stays
    # cached for the session — |distinct names| rows, dim-sized.
    local = local.persist()
    counts = {
        r["_pid"]: r["_cnt"]
        for r in local.groupBy("_pid").agg(F.count("*").alias("_cnt")).collect()
    }
    offsets, running = {}, 0
    for pid in sorted(counts):
        offsets[pid] = running
        running += counts[pid]
    # offsets widen to long EXPLICITLY: F.lit(python_int) is int32
    # while it fits, and int32 offset + int32 row_number wraps past
    # 2^31 distinct names (the rank_normalize width bug class)
    off_map = F.create_map(
        *[
            lit
            for pid, off in offsets.items()
            for lit in (F.lit(pid), F.lit(off).cast("long"))
        ]
    )
    dim = local.withColumn(
        id_col,
        F.format_string(
            prefix_format,
            F.element_at(off_map, F.col("_pid")) + F.col("_rn").cast("long"),
        ),
    ).drop("_pid", "_rn")
    # No forced broadcast: the dim is |distinct names| rows and GROWS
    # with the data — AQE broadcasts it at runtime while it fits under
    # autoBroadcastJoinThreshold and falls back to a distributed hash
    # join when it doesn't (a hint here would OOM the driver at 100×
    # key cardinality).
    return df.join(dim, on=name_col, how="left")


def upsert_snapshot(current: DataFrame, updates: DataFrame, key_cols: list[str]) -> DataFrame:
    """Plain-parquet UPSERT: rows from ``updates`` replace same-key rows
    in ``current``; unmatched current rows survive. One anti-join +
    union — pair with ``sink_parquet_replace_partitions`` to rewrite
    only the touched partitions of a 100 TB table.
    """
    survivors = current.join(updates.select(*key_cols), on=key_cols, how="left_anti")
    return survivors.unionByName(updates)


def scd2_from_snapshots(
    snapshots: DataFrame,
    key_cols: list[str],
    snapshot_col: str,
    tracked_cols: list[str],
) -> DataFrame:
    """Slowly-changing-dimension (type 2) history from periodic full
    snapshots (the tracker-release pattern: GEM publishes a full xlsx
    every release; owners/statuses drift between releases): collapse
    consecutive snapshots with identical tracked values into one
    validity interval per key — ``valid_from`` inclusive, ``valid_to``
    exclusive (NULL = current).

    Plan: one window per key ordered by snapshot (lag to detect
    change), a running change-count to group rows into intervals, then
    one aggregation — two passes over one key-partitioned shuffle, no
    self-join.
    """
    from pyspark.sql import Window  # noqa: PLC0415

    w = Window.partitionBy(*key_cols).orderBy(snapshot_col)
    tracked = F.struct(*[F.col(c) for c in tracked_cols])
    changed = (
        F.lag(tracked).over(w).isNull() | (F.lag(tracked).over(w) != tracked)
    ).cast("int")
    grouped = snapshots.withColumn(
        "_chg",
        F.sum(changed).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    intervals = grouped.groupBy(*key_cols, "_chg").agg(
        *[F.first(c).alias(c) for c in tracked_cols],
        F.min(snapshot_col).alias("valid_from"),
        F.max(snapshot_col).alias("_last_seen"),
    )
    w2 = Window.partitionBy(*key_cols).orderBy("valid_from")
    return (
        intervals.withColumn("valid_to", F.lead("valid_from").over(w2))
        .drop("_chg", "_last_seen")
    )
