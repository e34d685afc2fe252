"""Diff core — the reference's own capability surface (SURVEY.md §2.A).

Semantics reconstructed from the public dataframe-diff tool family
(menorah84/dataframe_differ; cf. capitalone/datacompy and the
G-Research spark-extension ``diff`` convention). The reference checkout is
empty (SURVEY.md §0), so the binding contract here is SURVEY.md §1.3:

Output schema of a keyed diff::

    diff_status: string in {'N','C','I','D'}   # N=no-change C=changed
                                               # I=insert(right-only)
                                               # D=delete(left-only)
    <key columns...>                           # coalesced left/right
    <col>_left, <col>_right                    # for every compared column

Scale design (100 TB): one null-safe full-outer shuffle join on the key
columns is the whole cost; every comparison is a Catalyst expression
(whole-stage-codegen'd, no Python). Summaries are map-side-combinable
aggregations. Functions that only need matched keys
(``column_mismatch_stats``, ``changed_sample``) use an inner join instead,
which Catalyst may broadcast. ``report()`` is one full-outer join feeding
one conditional aggregate, plus the ``changed_sample`` query only when a
row changed; its schema section is read on the driver. Nothing collects
row-level data to the driver beyond that sample.
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass
from functools import reduce
from operator import and_, or_

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

STATUS_COL = "diff_status"
INSERT, DELETE, CHANGE, NOCHANGE = "I", "D", "C", "N"


def _neq(lc: Column, rc: Column, atol: float = 0.0, rtol: float = 0.0,
         dtype: T.DataType | None = None) -> Column:
    """Null-safe "values differ" predicate; optionally tolerant for numerics.

    Tolerant comparison (SURVEY.md §2.A6): equal iff
    ``abs(l - r) <= atol + rtol * abs(r)``; null==null; exact elsewhere.
    """
    if (atol or rtol) and isinstance(dtype, T.NumericType):
        both_null = lc.isNull() & rc.isNull()
        within = F.abs(lc - rc) <= (F.lit(atol) + F.lit(rtol) * F.abs(rc))
        eq = both_null | (lc.isNotNull() & rc.isNotNull() & within)
        return ~eq
    return ~lc.eqNullSafe(rc)


@dataclass
class _Joined:
    """A null-safe join of the two sides plus the comparison of each
    compared column: ``neq[c]`` is column ``c``'s tolerant "differs"
    predicate and ``any_change`` their OR, as :func:`diff` defines them.
    """

    df: DataFrame
    keys: list[str]
    cols: list[str]
    neq: dict[str, Column]
    any_change: Column

    def diff_columns(self, status: Column, with_change_cols: bool) -> list[Column]:
        """:func:`diff`'s output columns, given its status column."""
        out = [status.alias(STATUS_COL)]
        out += [
            F.coalesce(F.col(f"l.{k}"), F.col(f"r.{k}")).alias(k) for k in self.keys
        ]
        for c in self.cols:
            out.append(F.col(f"l.{c}").alias(f"{c}_left"))
            out.append(F.col(f"r.{c}").alias(f"{c}_right"))
        if with_change_cols:
            name_or_null = [F.when(self.neq[c], F.lit(c)) for c in self.cols]
            changed = F.when(
                status == CHANGE,
                F.array_join(F.array_compact(F.array(*name_or_null)), ","),
            ).otherwise(F.lit(""))
            out.append(changed.alias("changed_columns"))
        return out


def _join(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    how: str,
    *,
    atol: float = 0.0,
    rtol: float = 0.0,
    columns: Sequence[str] | None = None,
    align_types: bool = False,
    column_mapping: dict[str, str] | None = None,
) -> _Joined:
    """Validate, rename/align the right side, join null-safely on keys and
    build the per-column comparisons.

    Takes :func:`diff`'s keywords except ``with_change_cols``. Compared
    columns default to the non-key columns on BOTH sides, in left's column
    order. Sides are aliased ``l``/``r`` with presence markers
    ``__p_l``/``__p_r``.
    """
    keys = list(keys)
    if not keys:
        raise ValueError("diff() requires at least one key column; "
                         "use diff_unkeyed() for keyless multiset diffs")
    if column_mapping:
        missing = [r for r in column_mapping.values() if r not in right.columns]
        if missing:
            raise ValueError(
                f"column_mapping right-side column(s) {missing} not in right "
                f"DataFrame (columns: {right.columns})"
            )
        right = right.withColumnsRenamed(
            {rname: lname for lname, rname in column_mapping.items()}
        )
    cols = list(columns) if columns is not None else [
        c for c in left.columns if c not in keys and c in right.columns
    ]
    for side, df in (("left", left), ("right", right)):
        for what, names in (("key", keys), ("compared", cols)):
            missing = [c for c in names if c not in df.columns]
            if missing:
                raise ValueError(
                    f"{what} column(s) {missing} not in {side} DataFrame "
                    f"(columns: {df.columns})"
                )
    types = {f.name: f.dataType for f in left.schema.fields}
    if align_types:
        rtypes = {f.name: f.dataType for f in right.schema.fields}
        right = right.withColumns(
            {c: F.col(c).cast(types[c]) for c in cols if rtypes[c] != types[c]}
        )

    # Presence markers survive the outer join even when key columns are null
    # (eqNullSafe matches null==null keys, so key-nullness is not a valid
    # side-presence test).
    l = left.withColumn("__p_l", F.lit(True)).alias("l")
    r = right.withColumn("__p_r", F.lit(True)).alias("r")
    # eqNullSafe keeps semantics correct when key columns contain nulls;
    # Catalyst still plans a hash-partitioned SMJ/SHJ on the keys.
    cond = reduce(and_, (F.col(f"l.{k}").eqNullSafe(F.col(f"r.{k}")) for k in keys))
    neq = {
        c: _neq(F.col(f"l.{c}"), F.col(f"r.{c}"), atol, rtol, types[c])
        for c in cols
    }
    any_change = reduce(or_, neq.values(), F.lit(False))
    return _Joined(l.join(r, on=cond, how=how), keys, cols, neq, any_change)


def _column_counts(cols: Sequence[str], matched: Column | None = None) -> list[Column]:
    """Exact, null-safe per-column counts ``eq_<c>``/``ne_<c>``/``nm_<c>``
    (equal, different, exactly one side null), over the rows where
    ``matched`` holds (all rows when it is None)."""

    def count(pred: Column) -> Column:
        return F.sum((pred if matched is None else matched & pred).cast("long"))

    aggs = []
    for c in cols:
        lc, rc = F.col(f"l.{c}"), F.col(f"r.{c}")
        aggs.append(count(lc.eqNullSafe(rc)).alias(f"eq_{c}"))
        aggs.append(count(~lc.eqNullSafe(rc)).alias(f"ne_{c}"))
        aggs.append(count(lc.isNull() != rc.isNull()).alias(f"nm_{c}"))
    return aggs


def diff(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    *,
    atol: float = 0.0,
    rtol: float = 0.0,
    columns: Sequence[str] | None = None,
    align_types: bool = False,
    with_change_cols: bool = False,
    column_mapping: dict[str, str] | None = None,
) -> DataFrame:
    """Keyed row diff (SURVEY.md §2.A2/§2.A6).

    One null-safe full-outer equi-join on ``keys``; per-column comparison as
    codegen'd expressions. ``atol``/``rtol`` make numeric columns tolerant.
    ``align_types=True`` casts right-side compared columns to the left
    side's type first (the int→bigint / float→double migration case);
    without it, mismatched types surface as Catalyst analysis errors.
    ``column_mapping`` maps left column name → right column name for
    inputs whose schemas drifted apart in naming (the migration-validation
    case); right columns are renamed to left names before comparison, so
    it is a plan-time rename with zero runtime cost. ``keys`` are always
    given in left-side names.
    ``with_change_cols=True`` appends a ``changed_columns`` column — the
    comma-joined names (left column order) of the columns that differ on
    'C' rows, empty string otherwise — the drill-down a reviewer reads
    before the per-column values (same expressions as the status, so the
    extra column costs nothing at scale).
    """
    j = _join(
        left, right, keys, "full_outer", atol=atol, rtol=rtol, columns=columns,
        align_types=align_types, column_mapping=column_mapping,
    )
    l_present = F.col("l.__p_l").isNotNull()
    r_present = F.col("r.__p_r").isNotNull()
    status = (
        F.when(~l_present, F.lit(INSERT))
        .when(~r_present, F.lit(DELETE))
        .when(j.any_change, F.lit(CHANGE))
        .otherwise(F.lit(NOCHANGE))
    )
    return j.df.select(*j.diff_columns(status, with_change_cols))


def diff_summary(
    left: DataFrame, right: DataFrame, keys: Sequence[str], **kw
) -> DataFrame:
    """Counts per diff status (SURVEY.md §2.A4). Map-side combinable."""
    d = diff(left, right, keys, **kw)
    return d.groupBy(STATUS_COL).agg(F.count(F.lit(1)).alias("cnt"))


def _schema_rows(
    left: DataFrame, right: DataFrame
) -> list[tuple[str, str | None, str | None, str]]:
    """``(column_name, left_type, right_type, status)`` for every column on
    either side, read from the two schemas on the driver."""
    ltypes = dict(left.dtypes)
    rtypes = dict(right.dtypes)
    rows = []
    for c in left.columns:
        if c not in rtypes:
            rows.append((c, ltypes[c], None, "removed"))
        elif ltypes[c] != rtypes[c]:
            rows.append((c, ltypes[c], rtypes[c], "type_changed"))
        else:
            rows.append((c, ltypes[c], rtypes[c], "same"))
    for c in right.columns:
        if c not in ltypes:
            rows.append((c, None, rtypes[c], "added"))
    return rows


def schema_diff(left: DataFrame, right: DataFrame) -> DataFrame:
    """Schema diff (SURVEY.md §2.A1): driver-side StructType walk, no job.

    Result: one row per column that exists on either side, with its type on
    each side and a status in {added, removed, type_changed, same}.
    """
    schema = T.StructType(
        [
            T.StructField("column_name", T.StringType()),
            T.StructField("left_type", T.StringType()),
            T.StructField("right_type", T.StringType()),
            T.StructField("status", T.StringType()),
        ]
    )
    return left.sparkSession.createDataFrame(_schema_rows(left, right), schema)


def diff_unkeyed(left: DataFrame, right: DataFrame) -> DataFrame:
    """Unkeyed multiset diff (SURVEY.md §2.A3).

    Bag semantics: report rows whose multiplicities differ between the
    sides, with ``left_count``/``right_count``. Plan: tag each side,
    union, and count both sides in a SINGLE aggregate —
    ``groupBy(all cols).agg(count_if(side), count_if(!side))``. One
    shuffle total (union is plan-level, free) versus the naive
    two-aggregates + null-safe full-outer join, and groupBy's null
    handling gives IS NOT DISTINCT FROM semantics for free. At 100 TB
    this halves shuffle volume and removes the join entirely; map-side
    partial counts collapse duplicate-heavy partitions before the wire.
    """
    cols = [c for c in left.columns if c in set(right.columns)]
    tagged = (
        left.select(*cols)
        .withColumn("__side", F.lit(True))
        .unionAll(right.select(*cols).withColumn("__side", F.lit(False)))
    )
    return (
        tagged.groupBy(*cols)
        .agg(
            F.count_if(F.col("__side")).alias("left_count"),
            F.count_if(~F.col("__side")).alias("right_count"),
        )
        .filter(F.col("left_count") != F.col("right_count"))
    )


def column_mismatch_stats(
    left: DataFrame, right: DataFrame, keys: Sequence[str], **kw
) -> DataFrame:
    """Per-column mismatch stats among matched keys (SURVEY.md §2.A5).

    For every compared column: number of matched rows where values are
    equal, differ, or exactly one side is null. ``kw`` are :func:`diff`'s
    keywords; ``columns``, ``align_types`` and ``column_mapping`` pick and
    align the columns as there, while ``atol``/``rtol`` only change row
    status, so the counts stay exact and null-safe. Plan: one inner
    null-safe join on ``keys`` (the matched keys) and one conditional
    aggregation (no per-column jobs), unpivoted via ``stack`` so the
    result is long-form: (column_name, n_equal, n_different,
    n_null_mismatch).
    """
    kw.pop("with_change_cols", None)
    j = _join(left, right, keys, "inner", **kw)
    wide = j.df.agg(*_column_counts(j.cols))
    stack_args = ", ".join(
        f"'{c}', eq_{c}, ne_{c}, nm_{c}" for c in j.cols
    )
    return wide.selectExpr(
        f"stack({len(j.cols)}, {stack_args}) as "
        "(column_name, n_equal, n_different, n_null_mismatch)"
    )


def duplicate_keys(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Keys violating uniqueness (SURVEY.md §2.A7) — diff precondition."""
    return (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") > 1)
    )


def changed_sample(
    left: DataFrame, right: DataFrame, keys: Sequence[str], n: int = 20, **kw
) -> DataFrame:
    """Deterministic sample of changed rows (SURVEY.md §2.A8).

    A changed row has both sides present, so this is an inner null-safe
    join (broadcastable when one side is small) filtered on the changed
    predicate, with :func:`diff`'s columns. orderBy(keys).limit(n)
    compiles to TakeOrderedAndProject — per-partition top-n then a single
    driver merge; no global sort materialization.
    """
    with_change_cols = kw.pop("with_change_cols", False)
    j = _join(left, right, keys, "inner", **kw)
    out = j.diff_columns(F.lit(CHANGE), with_change_cols)
    return j.df.filter(j.any_change).select(*out).orderBy(*keys).limit(n)


def report(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    *,
    sample_n: int = 5,
    **kw,
) -> str:
    """Human-readable diff report (the reference family's `report()` UX).

    ``kw`` are :func:`diff`'s keywords, so the report counts rows exactly
    as ``diff(left, right, keys, **kw)`` does. One full-outer join feeds
    one conditional aggregate: the status counts from the presence
    markers and ``diff``'s changed predicate, and the per-column counts
    of :func:`column_mismatch_stats` among matched keys. The schema is
    read on the driver, and the changed-key sample is one
    :func:`changed_sample` query, skipped when no row changed. What
    crosses to the driver is one summary row plus `sample_n` changed rows.
    """
    keys = list(keys)
    kw.pop("with_change_cols", None)
    j = _join(left, right, keys, "full_outer", **kw)
    l_present = F.col("l.__p_l").isNotNull()
    r_present = F.col("r.__p_r").isNotNull()
    matched = l_present & r_present
    changed = matched & j.any_change
    counts = j.df.agg(
        F.count_if(~l_present).alias(INSERT),
        F.count_if(~r_present).alias(DELETE),
        F.count_if(changed).alias(CHANGE),
        # matched minus changed: diff() reads a NULL any_change as 'N'
        (F.count_if(matched) - F.count_if(changed)).alias(NOCHANGE),
        *_column_counts(j.cols, matched),
    ).first()
    sample_keys = []
    if counts[CHANGE]:
        sample = changed_sample(left, right, keys, n=sample_n, **kw)
        sample_keys = [tuple(r[k] for k in keys) for r in sample.collect()]
    atol, rtol = kw.get("atol", 0.0), kw.get("rtol", 0.0)

    lines = ["DataFrame diff report", "=" * 21, ""]
    lines.append(f"Key columns: {', '.join(keys)}")
    if atol or rtol:
        lines.append(f"Numeric tolerance: atol={atol}, rtol={rtol}")
    lines.append("")
    lines.append("Schema changes:")
    changed_schema = [r for r in _schema_rows(left, right) if r[3] != "same"]
    if changed_schema:
        for name, ltype, rtype, st in changed_schema:
            lines.append(f"  {name}: {st} ({ltype} -> {rtype})")
    else:
        lines.append("  none")
    lines.append("")
    lines.append("Row status counts:")
    for st, label in ((NOCHANGE, "unchanged"), (CHANGE, "changed"),
                      (DELETE, "only in left"), (INSERT, "only in right")):
        lines.append(f"  {label:14s} {counts[st]}")
    lines.append("")
    lines.append("Columns with differences (among matched keys):")
    differing = [c for c in j.cols if counts[f"ne_{c}"]]
    if differing:
        for c in sorted(differing, key=lambda c: -counts[f"ne_{c}"]):
            lines.append(
                f"  {c}: {counts[f'ne_{c}']} differ"
                f" ({counts[f'nm_{c}']} null-mismatch)"
            )
    else:
        lines.append("  none")
    if sample_keys:
        lines.append("")
        lines.append(f"Sample changed keys (first {sample_n}): {sample_keys}")
    return "\n".join(lines)


def diff_bucket_checksums(
    left: DataFrame,
    right: DataFrame,
    bucket: Column,
    row_repr: Column,
) -> DataFrame:
    """Partition-pruned diff, phase 1: per-bucket row counts + additive
    checksums for both sides, full-outer joined on the bucket.

    `row_repr` must be a deterministic, engine-stable string rendering of
    the compared row (caller casts doubles to decimals / formats dates).
    The checksum is the per-bucket SUM of each row's 32-bit md5 prefix —
    order-independent, mergeable, and computed map-side, so phase 1 costs
    one scan of each side plus a #buckets-sized shuffle. Buckets with
    `needs_full_diff = false` are PROVEN cheap to skip (counts and sums
    both match); only flagged buckets proceed to the row-level `diff()`.
    At 100 TB with date-bucketed tables this turns an incremental diff
    into a scan + a diff of only the changed days.
    """

    def side(df: DataFrame, prefix: str) -> DataFrame:
        h = F.conv(F.substring(F.md5(row_repr), 1, 8), 16, 10).cast("bigint")
        return df.groupBy(bucket.alias("bucket")).agg(
            F.count(F.lit(1)).alias(f"{prefix}_rows"),
            F.sum(h).alias(f"{prefix}_checksum"),
        )

    l = side(left, "left")
    r = side(right, "right")
    j = l.join(r, "bucket", "full_outer")
    return j.select(
        "bucket",
        F.coalesce("left_rows", F.lit(0)).alias("left_rows"),
        F.coalesce("right_rows", F.lit(0)).alias("right_rows"),
        "left_checksum",
        "right_checksum",
        (
            ~(
                F.col("left_rows").eqNullSafe(F.col("right_rows"))
                & F.col("left_checksum").eqNullSafe(F.col("right_checksum"))
            )
        ).alias("needs_full_diff"),
    )
