"""Data-quality validation suite — the Spark-native check-runner.

Reference: ``boxing/database/validators/queries.py:26-72, 244-301`` — a suite
of SQL checks, each expected to return **zero offending rows**; the deploy
path gates on the suite passing (``boxing/run_pipeline.py:144-151``,
``deploy/preview.py:214-224``).

Here a check is ``(name, fn: DataFrame -> DataFrame)`` returning offenders;
``run_suite`` evaluates every check with one count + bounded sample each and
returns a report. Checks compose from JVM-side expressions only, so a suite
over a 100 TB table is a handful of scans Catalyst can fuse/prune.
"""

from __future__ import annotations

from dataclasses import dataclass
from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass
class CheckResult:
    name: str
    passed: bool
    #: offender count; when ``capped`` is True this is the scan cap, not the
    #: true total (the gate only needs zero-or-not — see ``run_suite``)
    offending_rows: int
    sample: list[dict]
    capped: bool = False


Check = tuple[str, Callable[[DataFrame], DataFrame]]


def run_suite(df: DataFrame, checks: Sequence[Check], sample_size: int = 5) -> list[CheckResult]:
    """Run every check; a check passes iff it yields zero offenders.

    Mirrors ``run_query``'s contract (expected_count=0, first-5 offenders
    shown — ``queries.py:26-72``).
    """
    results = []
    for name, fn in checks:
        offenders = fn(df)
        # ONE job per check: count + bounded sample in a single aggregation.
        # The input is capped at `count_cap` offenders so the collect_list
        # buffer stays bounded on a 100 TB table full of violations — the
        # gate only needs "0 or not", and a capped count is reported as-is
        # (the suite fails identically either way).
        count_cap = 10_000
        agg = (
            offenders.limit(count_cap)
            .select(F.struct("*").alias("_r"))
            .agg(
                F.count("_r").alias("n"),
                F.slice(F.collect_list("_r"), 1, sample_size).alias("sample"),
            )
            .collect()[0]
        )
        results.append(
            CheckResult(
                name=name,
                passed=agg["n"] == 0,
                offending_rows=agg["n"],
                sample=[r.asDict(recursive=True) for r in agg["sample"]],
                capped=agg["n"] >= count_cap,
            )
        )
    return results


def suite_passed(results: Sequence[CheckResult]) -> bool:
    return all(r.passed for r in results)


# ---------------------------------------------------------------------------
# check factories (each returns a Check)
# ---------------------------------------------------------------------------


def duplicate_keys(key_cols: Sequence[str]) -> Check:
    """A4: GROUP BY key HAVING count(*) > 1 (``queries.py:86-107``)."""

    def fn(df: DataFrame) -> DataFrame:
        return (
            df.groupBy(*key_cols)
            .agg(F.count("*").alias("n_dups"))
            .where(F.col("n_dups") > 1)
        )

    return (f"duplicate_{'_'.join(key_cols)}", fn)


def not_null(col: str) -> Check:
    """NULL-required-field check (``queries.py:123-140`` family)."""

    def fn(df: DataFrame) -> DataFrame:
        return df.where(F.col(col).isNull())

    return (f"null_{col}", fn)


def in_range(col: str, lo, hi) -> Check:
    """F13: numeric sanity range, e.g. height 120–250 (``queries.py:168-180``)."""

    def fn(df: DataFrame) -> DataFrame:
        c = F.col(col).cast("double")
        return df.where(c.isNotNull() & ~c.between(lo, hi))

    return (f"range_{col}", fn)


def no_future_dates(col: str, as_of=None) -> Check:
    """F13: timestamps may not exceed "now" (``queries.py:199-207``).

    "Now" is snapshotted ONCE at check construction (``as_of`` overrides it
    explicitly) and embedded as a literal: ``run_suite`` evaluates each
    check's plan twice (sample + count), and a live ``current_timestamp()``
    could legally return 0 offenders on the second job after sampling rows
    on the first — passed=True with a non-empty sample.
    """
    import datetime as _dt

    # keep the literal timezone-AWARE: PySpark converts an aware datetime to
    # the correct instant in any session timezone, whereas a naive UTC value
    # would be reinterpreted in the session zone and shift the cutoff by the
    # UTC offset on non-UTC sessions.
    bound = as_of if as_of is not None else _dt.datetime.now(_dt.timezone.utc)

    def fn(df: DataFrame) -> DataFrame:
        return df.where(F.col(col) > F.lit(bound))

    return (f"future_{col}", fn)


def dimension_membership(dim_df: DataFrame, col: str, dim_cols: Sequence[str]) -> Check:
    """J4: value must appear in any of the dimension's name columns
    (``queries.py:183-196`` — proDivision vs divisions.name/slug/shortName).
    The dimension is unioned + broadcast; offenders found by anti-join.
    """
    members = dim_df.select(F.col(dim_cols[0]).alias("_m"))
    for c in dim_cols[1:]:
        members = members.union(dim_df.select(F.col(c).alias("_m")))
    members = members.distinct()

    def fn(df: DataFrame) -> DataFrame:
        return df.where(F.col(col).isNotNull()).join(
            F.broadcast(members), on=df[col] == members["_m"], how="left_anti"
        )

    return (f"membership_{col}", fn)


def array_scalar_consistency(arr_col: str, predicate: Callable[[Column], Column], scalar_col: str) -> Check:
    """A6: count of array elements matching ``predicate`` must equal the
    denormalized scalar (``queries.py:143-159`` — bouts W-count vs proWins).
    Higher-order ``filter`` — no explode, no shuffle.
    """

    def fn(df: DataFrame) -> DataFrame:
        actual = F.size(F.filter(F.col(arr_col), predicate))
        return df.where(
            F.col(scalar_col).isNotNull() & (actual != F.col(scalar_col))
        ).withColumn("actual_count", actual)

    return (f"consistency_{arr_col}_{scalar_col}", fn)


def derived_total(total_col: str, part_cols: Sequence[str]) -> Check:
    """A7: total must equal the sum of its parts when all parts present
    (``to_staging_mirror_db.py:170`` — proTotalBouts = wins+losses+draws)."""

    def fn(df: DataFrame) -> DataFrame:
        s = sum((F.col(c) for c in part_cols[1:]), F.col(part_cols[0]))
        all_present = F.lit(True)
        for c in part_cols:
            all_present = all_present & F.col(c).isNotNull()
        return df.where(all_present & (F.col(total_col) != s))

    return (f"derived_{total_col}", fn)


def staging_validation_suite(divisions: DataFrame, as_of: str | None = None):
    """The reference's post-load data-quality suite over the staging shape
    (``boxing/database/validators/queries.py:244-280``): key/slug
    uniqueness, required fields, nested-bout vs scalar consistency (A6),
    derived totals (A7), division FK membership (J4), date/height sanity
    (F13) — every check a zero-offender predicate over
    ``build_staging_records`` output.

    ``as_of`` bounds the future-date check (yyyy-MM-dd string compare —
    the staging dates are TEXT like the reference's); it defaults to
    today's UTC date at suite construction, same snapshot-once discipline
    as ``no_future_dates``."""
    import datetime as _dt

    if as_of is None:
        as_of = _dt.datetime.now(_dt.timezone.utc).date().isoformat()
    return [
        duplicate_keys(["boxrecId"]),
        duplicate_keys(["slug"]),
        not_null("boxrecId"),
        not_null("name"),
        array_scalar_consistency(
            "bouts", lambda b: b["result"] == "W", "proWins"
        ),
        derived_total("proTotalBouts", ["proWins", "proLosses", "proDraws"]),
        in_range("height", 120, 250),
        dimension_membership(divisions, "proDivision", ["name", "slug", "short_name"]),
        # date strings compare lexicographically == chronologically for
        # yyyy-MM-dd; reuses the F13 helper with a string bound
        no_future_dates("proDebutDate", as_of=as_of),
    ]
