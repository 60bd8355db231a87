"""Data-quality layer: one-pass table profiling and declarative
expectation validation.

The reference ships records downstream unexamined (its only quality
surface is JSON-schema typing at discovery, reference tap.py:509-522);
an EL engine feeding a lakehouse needs to answer "what landed?" and
"is it sane?" without N separate scans.  Both operators here compile to
a SINGLE aggregation over the table — every statistic/expectation is a
conditional aggregate in one `agg(...)` call, so Spark evaluates all of
them in one pass with map-side partial aggregation, regardless of how
many columns/rules are declared.  At 100 TB that is one full scan, full
stop — never a scan per column.

* :func:`profile_table` — per-column null count, approx distinct, and
  type-appropriate min/max; long output (one row per column) so new
  columns never change the schema shape.
* :func:`validate_expectations` — Great-Expectations-style rules
  (not_null / unique / in_range / in_set / matches_regex) evaluated to
  violation counts in the same one-pass form; uniqueness is the one
  rule that genuinely needs its own shuffle (count vs distinct count),
  which it gets inside the same ``agg`` — at the price of extra jobs:
  2 Spark jobs for row rules alone, 3 with one ``unique``, 6 for
  not_null + unique + foreign_key on ``orders`` (measured with
  ``statusTracker`` job ids at sf0.001).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import reduce
from typing import Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F

__all__ = ["profile_table", "Expectation", "validate_expectations",
           "key_skew_profile", "k_anonymity",
           "cohen_kappa", "fleiss_kappa", "krippendorff_alpha",
           "benford_deviation", "dp_noisy_counts", "schema_drift_report",
           "weighted_kappa", "spearman_correlation",
           "numeric_histogram", "column_correlations",
           "partition_skew_report", "parquet_file_stats",
           "snapshot_diff", "distribution_drift"]


def profile_table(
    df: DataFrame,
    columns: Sequence[str] | None = None,
    approx_distinct_rsd: float = 0.05,
    distinct_mode: str = "approx",
) -> DataFrame:
    """Profile ``columns`` (default: all) in ONE aggregation pass.

    Output is long-form — one row per column:
    ``(column, n_rows, n_nulls, null_frac, n_distinct, min_repr,
    max_repr)`` with min/max rendered as strings so heterogeneous
    column types share one result schema.

    Every base statistic is an aggregate expression in a single
    ``agg``: one partial-agg + one 1-row final agg — no shuffle of
    data rows at all (aggregation is global), no per-column scans.
    ``distinct_mode="approx"`` (the 100 TB default) estimates
    distincts with HyperLogLog++ (``approx_count_distinct``) at
    ``approx_distinct_rsd`` relative error — sketches merge in the
    same partial-agg pass, keeping the WHOLE profile one scan.
    ``"exact"`` (audits / the SQL oracle) adds a second pass: naive
    multi-column ``count_distinct`` in one agg makes Catalyst rewrite
    through a K-way Expand into THREE SortAggregate levels (measured
    ~2 s for 4 columns of a 150k-row table); instead the table is
    melted to (column, value-hash) pairs and deduped with ordinary
    two-phase HashAggregates — same answer (collision p ~ 2^-64),
    ~4x faster, and every stage stays parallel at any scale.
    """
    if distinct_mode not in ("approx", "exact"):
        raise ValueError(f"unknown distinct_mode {distinct_mode!r}")
    cols = list(columns) if columns is not None else list(df.columns)
    aggs: list[Column] = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        col = F.col(c)
        aggs.append(F.count(F.when(col.isNull(), 1)).alias(f"__nulls_{c}"))
        if distinct_mode == "approx":
            aggs.append(
                F.approx_count_distinct(c, rsd=approx_distinct_rsd)
                .alias(f"__dist_{c}"))
        aggs.append(F.min(col).cast("string").alias(f"__min_{c}"))
        aggs.append(F.max(col).cast("string").alias(f"__max_{c}"))
    row = df.agg(*aggs)
    # pivot the 1-row wide result to long form driver-side-free: a
    # stack() over literal column references — still one job.
    dist_ref = (
        "`__dist_{c}`" if distinct_mode == "approx" else "CAST(NULL AS LONG)")
    stacked = row.select(
        F.col("__n").alias("n_rows"),
        F.expr(
            "stack({n}, {args}) as (column, n_nulls, n_distinct, "
            "min_repr, max_repr)".format(
                n=len(cols),
                args=", ".join(
                    f"'{c}', `__nulls_{c}`, " + dist_ref.format(c=c)
                    + f", `__min_{c}`, `__max_{c}`" for c in cols),
            )
        ),
    )
    if distinct_mode == "exact":
        melted = df.select(F.explode(F.array(*[
            F.struct(
                F.lit(c).alias("column"),
                F.xxhash64(F.col(c).cast("string")).alias("__h"),
                F.col(c).isNull().alias("__isn"),
            ) for c in cols])).alias("p")
        ).select("p.*").filter(~F.col("__isn"))
        dists = (
            melted.groupBy("column", "__h").agg(F.count(F.lit(1)))
            .groupBy("column")
            .agg(F.count(F.lit(1)).alias("__exact_dist"))
        )
        stacked = (
            stacked.drop("n_distinct")
            .join(F.broadcast(dists), "column", "left")
            .withColumn(
                "n_distinct", F.coalesce("__exact_dist", F.lit(0)))
        )
    return stacked.select(
        "column", "n_rows", "n_nulls",
        F.when(F.col("n_rows") > 0,
               F.round(F.col("n_nulls") / F.col("n_rows"), 6))
        .alias("null_frac"),
        "n_distinct", "min_repr", "max_repr",
    )


@dataclass
class Expectation:
    """One declarative rule; ``kind`` picks the check:

    * ``not_null``           — value must not be null
    * ``unique``             — no value may occur twice (nulls ignored)
    * ``in_range(lo, hi)``   — lo <= value <= hi (nulls pass; combine
      with not_null to forbid)
    * ``in_set(values)``     — value in the allow-list (nulls pass)
    * ``matches_regex(pat)`` — full-match against ``pat`` (nulls pass)
    * ``foreign_key(ref, ref_col)`` — value exists in the reference
      table's column (nulls pass; combine with not_null to forbid) —
      the referential-integrity check an EL landing zone runs before
      exposing a batch
    * ``row_count_between(lo, hi)`` — TABLE-level volume guard (column
      ``"*"``): the landing-zone "did the batch arrive, and is it not
      10x yesterday" check; ``n_violations`` = rows outside the band
    * ``max_at_least(lo)`` — column max must reach ``lo`` — the
      deterministic freshness check (caller computes the cutoff
      literal, e.g. ``as_of - retention``; no hidden now())
    """

    column: str
    kind: str
    lo: object | None = None
    hi: object | None = None
    values: Sequence[object] | None = field(default=None)
    pattern: str | None = None
    # compare/repr excluded: DataFrame.__eq__ builds a Column, which
    # would make the generated dataclass __eq__ raise on bool()
    ref: "DataFrame | None" = field(default=None, compare=False,
                                    repr=False)
    ref_col: str | None = None

    @property
    def name(self) -> str:
        return f"{self.column}:{self.kind}"

    def violation(self) -> Column | None:
        """Row-level violation predicate; None for set-level rules
        (``unique``) that can't be expressed per-row."""
        col = F.col(self.column)
        if self.kind == "not_null":
            return col.isNull()
        if self.kind == "in_range":
            return col.isNotNull() & ~col.between(
                F.lit(self.lo), F.lit(self.hi))
        if self.kind == "in_set":
            return col.isNotNull() & ~col.isin(list(self.values))
        if self.kind == "matches_regex":
            return col.isNotNull() & ~col.rlike(f"^(?:{self.pattern})$")
        if self.kind in ("unique", "foreign_key", "row_count_between",
                         "max_at_least"):
            return None
        raise ValueError(f"unknown expectation kind {self.kind!r}")


def validate_expectations(
    df: DataFrame,
    expectations: Sequence[Expectation],
) -> DataFrame:
    """Evaluate all ``expectations`` and return one row per rule:
    ``(expectation, column, kind, n_violations, passed)``.

    All row-level rules compile into ONE aggregation pass (a
    conditional count each).  Uniqueness must be exact to be an
    expectation (an approximate distinct would mis-pass small
    violation counts), so each ``unique`` rule contributes
    ``count(col) - count_distinct(col)`` to the same ``agg`` call;
    Spark plans the distincts via expand + one shuffle, so the pass
    costs 3 Spark jobs instead of the row rules' 2 (AQE runs each
    shuffle stage as its own job).  ``foreign_key`` rules are the one
    genuinely multi-table check: each contributes a key-projected LEFT
    ANTI join against the reference (distinct ref keys; AQE broadcasts
    a dim-sized side),
    unioned into the same result — extra scans of the KEY COLUMNS
    only, never a second full-width pass.  Output is tiny (one row
    per rule).
    """
    row_rules = [e for e in expectations
                 if e.kind not in ("unique", "foreign_key",
                                   "row_count_between", "max_at_least")]
    uniq_rules = [e for e in expectations if e.kind == "unique"]
    tbl_rules = [e for e in expectations
                 if e.kind in ("row_count_between", "max_at_least")]
    fk_rules = [e for e in expectations if e.kind == "foreign_key"]
    for e in fk_rules:
        if e.ref is None or e.ref_col is None:
            raise ValueError(
                f"foreign_key expectation on {e.column!r} needs ref/ref_col")
    aggs: list[Column] = []
    for e in row_rules:
        aggs.append(
            F.count(F.when(e.violation(), 1)).alias(f"__v_{e.name}"))
    for e in uniq_rules:
        aggs.append(
            (F.count(F.col(e.column))
             - F.count_distinct(F.col(e.column)))
            .alias(f"__v_{e.name}"))
    for e in tbl_rules:
        if e.kind == "row_count_between":
            if e.lo is None or e.hi is None:
                raise ValueError("row_count_between needs lo and hi")
            cnt = F.count(F.lit(1))
            aggs.append(
                F.greatest(F.lit(int(e.lo)) - cnt,
                           cnt - F.lit(int(e.hi)),
                           F.lit(0)).cast("long")
                .alias(f"__v_{e.name}"))
        else:  # max_at_least
            if e.lo is None:
                raise ValueError("max_at_least needs lo")
            aggs.append(
                F.when(F.max(F.col(e.column)).isNull()
                       | (F.max(F.col(e.column)) < F.lit(e.lo)),
                       F.lit(1)).otherwise(F.lit(0)).cast("long")
                .alias(f"__v_{e.name}"))
    if not aggs and not fk_rules:
        raise ValueError("no expectations given")
    all_rules = row_rules + uniq_rules + tbl_rules
    frames = []
    if aggs:
        frames.append(df.agg(*aggs).select(
            F.expr(
                "stack({n}, {args}) as (expectation, n_violations)".format(
                    n=len(all_rules),
                    args=", ".join(
                        f"'{e.name}', `__v_{e.name}`" for e in all_rules),
                )
            )
        ))
    for e in fk_rules:
        frames.append(
            df.select(F.col(e.column).alias("__k"))
            .filter(F.col("__k").isNotNull())
            .join(e.ref.select(F.col(e.ref_col).alias("__k")).distinct(),
                  "__k", "left_anti")
            .agg(F.count(F.lit(1)).alias("n_violations"))
            .select(F.lit(e.name).alias("expectation"),
                    F.col("n_violations"))
        )
    stacked = reduce(DataFrame.unionByName, frames)
    kinds = F.split(F.col("expectation"), ":")
    return stacked.select(
        "expectation",
        kinds.getItem(0).alias("column"),
        kinds.getItem(1).alias("kind"),
        "n_violations",
        (F.col("n_violations") == 0).alias("passed"),
    )


def numeric_histogram(
    df: DataFrame,
    col: str,
    bins: int = 10,
    lo: float | None = None,
    hi: float | None = None,
) -> DataFrame:
    """Fixed-width histogram of a numeric column: ``(bin, lo, hi, n)``
    with ``bins`` equal buckets over [lo, hi); values at/above ``hi``
    land in the last bucket, nulls are dropped.

    When bounds are not given they come from one min/max aggregate
    (first pass), then the bucketing pass is a single ``width_bucket``
    groupBy with map-side partial aggregation — two scans worst case,
    one when the caller knows the bounds.  Output = ``bins`` rows;
    empty buckets are materialized via a sequence join so downstream
    charting never interpolates gaps.
    """
    c = F.col(col).cast("double")
    if lo is None or hi is None:
        got = df.agg(F.min(c).alias("lo"), F.max(c).alias("hi")).first()
        lo = float(got["lo"]) if lo is None else lo
        hi = float(got["hi"]) if hi is None else hi
    if hi <= lo:
        hi = lo + 1.0
    width = (hi - lo) / bins
    bucket = F.least(
        F.greatest(
            F.floor((c - F.lit(lo)) / F.lit(width)).cast("int"), F.lit(0)),
        F.lit(bins - 1),
    )
    counts = (
        df.filter(c.isNotNull())
        .groupBy(bucket.alias("bin"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    spark = df.sparkSession
    grid = spark.range(bins).select(F.col("id").cast("int").alias("bin"))
    return (
        grid.join(counts, "bin", "left")
        .select(
            "bin",
            F.round(F.lit(lo) + F.col("bin") * F.lit(width), 6).alias("lo"),
            F.round(F.lit(lo) + (F.col("bin") + 1) * F.lit(width), 6)
            .alias("hi"),
            F.coalesce("n", F.lit(0)).alias("n"),
        )
    )


def column_correlations(
    df: DataFrame,
    columns: Sequence[str],
) -> DataFrame:
    """Pairwise Pearson correlations of numeric columns in ONE
    aggregation pass: every pair's ``corr`` is an aggregate expression
    in a single ``agg`` (K*(K-1)/2 aggregates, one scan, map-side
    partial), stacked to long form ``(col_a, col_b, corr)``.

    The profiler's companion for feature-drift checks: a correlation
    that moves between snapshots flags an upstream relationship change
    no per-column profile can see.
    """
    cols = list(columns)
    if len(cols) < 2:
        raise ValueError("need at least two columns")
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1:]]
    aggs = [
        F.corr(F.col(a).cast("double"), F.col(b).cast("double"))
        .alias(f"__c_{i}")
        for i, (a, b) in enumerate(pairs)
    ]
    wide = df.agg(*aggs)
    stacked = wide.select(
        F.expr(
            "stack({n}, {args}) as (col_a, col_b, corr)".format(
                n=len(pairs),
                args=", ".join(
                    f"'{a}', '{b}', round(`__c_{i}`, 6)"
                    for i, (a, b) in enumerate(pairs)),
            )
        )
    )
    return stacked


def partition_skew_report(df: DataFrame) -> DataFrame:
    """Physical-layout diagnosis: one row per Spark partition with its
    row count, plus share-of-max — the quick answer to "is this frame
    skewed before my join/window?".  Uses ``spark_partition_id`` +
    partial-agg counts (one pass, no data movement beyond the tiny
    count rows).  A healthy frame shows counts within ~2x of each
    other; one partition holding half the rows explains the straggler
    task better than any timeline UI.
    """
    counts = df.groupBy(
        F.spark_partition_id().alias("partition")).agg(
        F.count(F.lit(1)).alias("n_rows"))
    stats = counts.agg(
        F.max("n_rows").alias("__mx"), F.sum("n_rows").alias("__tot"))
    return (
        counts.crossJoin(F.broadcast(stats))
        .select(
            "partition", "n_rows",
            F.round(F.col("n_rows") / F.col("__mx"), 4)
            .alias("share_of_max"),
            F.round(F.col("n_rows") / F.col("__tot"), 6).alias("share"),
        )
        .orderBy(F.desc("n_rows"))
    )


def key_skew_profile(
    df: DataFrame,
    key_cols: Sequence[str],
    top: int = 10,
    accuracy: int = 10000,
) -> DataFrame:
    """LOGICAL skew diagnosis for a join/agg key — the planning-side
    twin of :func:`partition_skew_report` (which sees the physical
    layout): per-key row counts rolled into one distribution summary,
    with the ``top`` heaviest keys listed.

    Output: one row per heavy key — ``(key..., n_rows, share, rank)``
    plus the distribution columns repeated on every row
    (``n_keys, mean_rows, p50_rows, p99_rows, max_rows, skew_ratio =
    max/mean, rec_salt = ceil(skew_ratio)``).  ``rec_salt`` is the
    salting factor that levels the heaviest key down to ~mean —
    exactly the number :func:`..operators.joins.salted_join` wants,
    measured instead of guessed.  At 100 TB the decision "salt or
    don't" is made from THIS table before the first shuffle; AQE's
    skew-join split handles moderate skew at runtime, but a key
    holding 10% of the corpus needs plan-side salting.

    Plan: one partial-agg pass to per-key counts (map-side combine),
    then the summary aggregates run over the key-count table (key-
    cardinality-sized, never row-sized) and broadcast back onto the
    top-k cut (TakeOrderedAndProject via row_number window over a
    1-group frame is avoided — the cut is an orderBy/limit).  The
    quantiles are ``approx_percentile`` (Greenwald-Khanna, MERGEABLE:
    partial sketches combine map-side like any other aggregate) — an
    exact ``percentile`` is a sort-buffer aggregate that would
    materialize the whole key-count table (10^8-10^9 rows at 100 TB)
    in one task.  Rank error is bounded by ``n_keys / accuracy``; the
    default 10000 is exact below 10k keys and within 0.01% of rank
    above, which is indistinguishable for a salt-or-don't decision."""
    from pyspark.sql import Window

    # eager checkpoint: the summary and the heavy-key cut both read
    # the per-key count table; without materialization each branch
    # re-scans the raw input (the table is key-cardinality-sized —
    # far smaller than a second corpus scan at any SF)
    counts = df.groupBy(*[F.col(c) for c in key_cols]).agg(
        F.count(F.lit(1)).alias("n_rows")).localCheckpoint(eager=True)
    stats = counts.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("n_rows").alias("__tot"),
        F.max("n_rows").alias("max_rows"),
        F.expr(f"approx_percentile(n_rows, 0.5, {int(accuracy)})")
        .cast("double").alias("p50_rows"),
        F.expr(f"approx_percentile(n_rows, 0.99, {int(accuracy)})")
        .cast("double").alias("p99_rows"))
    w = Window.orderBy(F.col("n_rows").desc(),
                       *[F.col(c) for c in key_cols])
    heavy = (
        counts.orderBy(F.col("n_rows").desc(),
                       *[F.col(c) for c in key_cols])
        .limit(top)
        .withColumn("rank", F.row_number().over(w))
    )
    return (
        heavy.crossJoin(F.broadcast(stats))
        .select(
            *key_cols, "n_rows",
            F.round(F.col("n_rows") / F.col("__tot"), 6).alias("share"),
            "rank", "n_keys",
            F.round(F.col("__tot") / F.col("n_keys"), 4).alias("mean_rows"),
            F.round("p50_rows", 4).alias("p50_rows"),
            F.round("p99_rows", 4).alias("p99_rows"),
            "max_rows",
            F.round(F.col("max_rows") * F.col("n_keys") / F.col("__tot"),
                    4).alias("skew_ratio"),
            F.ceil(F.col("max_rows") * F.col("n_keys") / F.col("__tot"))
            .cast("int").alias("rec_salt"),
        )
    )


def k_anonymity(
    df: DataFrame,
    quasi_cols: Sequence[str],
    k: int = 5,
    top: int = 20,
) -> DataFrame:
    """Re-identification audit on quasi-identifier columns: a released
    dataset is k-anonymous when every combination of the quasi
    identifiers (zip+age+gender-style columns) matches at least ``k``
    rows — groups below that single out individuals even after direct
    identifiers were redacted (Sweeney 2002).  The check the PII layer
    (``redact_pii`` / ``pseudonymize``) needs before metadata columns
    ship next to the text.

    Output: the ``top`` smallest violating groups —
    ``(quasi_cols..., n_rows, rank)`` ordered by (n_rows asc, keys) —
    plus summary columns repeated on every row: ``n_groups``,
    ``n_violating_groups``, ``rows_at_risk`` (total rows in sub-``k``
    groups), ``risk_frac``.  Empty output == the table is
    k-anonymous.  One partial-agg pass to group counts; summaries
    aggregate the group-count table (group-cardinality-sized)."""
    from pyspark.sql import Window

    # eager checkpoint for the same one-scan reason as
    # key_skew_profile (summary + violating-group cut both read it)
    counts = df.groupBy(*[F.col(c) for c in quasi_cols]).agg(
        F.count(F.lit(1)).alias("n_rows")).localCheckpoint(eager=True)
    stats = counts.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.count(F.when(F.col("n_rows") < k, 1))
        .alias("n_violating_groups"),
        F.coalesce(F.sum(F.when(F.col("n_rows") < k, F.col("n_rows"))),
                   F.lit(0)).alias("rows_at_risk"),
        F.sum("n_rows").alias("__tot"))
    order = [F.col("n_rows").asc()] + [F.col(c) for c in quasi_cols]
    w = Window.orderBy(*order)
    viol = (
        counts.filter(F.col("n_rows") < k)
        .orderBy(*order)
        .limit(top)
        .withColumn("rank", F.row_number().over(w))
    )
    return (
        viol.crossJoin(F.broadcast(stats))
        .select(
            *quasi_cols, "n_rows", "rank",
            "n_groups", "n_violating_groups", "rows_at_risk",
            F.round(F.col("rows_at_risk") / F.col("__tot"), 6)
            .alias("risk_frac"))
    )


def cohen_kappa(
    df: DataFrame,
    rater_a_col: str,
    rater_b_col: str,
) -> DataFrame:
    """Chance-corrected agreement between TWO annotators over the same
    items (Cohen 1960) — the label-quality audit an RLHF / supervised
    curation pipeline runs before trusting its annotation stream.  Raw
    percent agreement rewards annotators who spam the majority label;
    kappa subtracts the agreement their marginal label rates would
    produce by chance: ``kappa = (po - pe) / (1 - pe)`` with
    ``pe = sum_k p_a(k) * p_b(k)``.

    Input: one row per doubly-annotated item carrying both labels
    (rows with a null on either side are dropped — unannotated items
    don't vote).  Output: ONE row — ``(n_items, po, pe, kappa)``,
    ``kappa`` null for the degenerate ``pe == 1`` case (both raters
    constant on the same label).

    Plan: ONE partial-agg pass to the (label_a, label_b) confusion
    table (label²-sized); agreements, marginals, and the chance term
    all derive from that table, which is eagerly checkpointed so the
    input is scanned exactly once no matter how many consumers read it
    (plan-asserted in tests).  No collect, all mergeable."""
    conf = (df.filter(F.col(rater_a_col).isNotNull()
                      & F.col(rater_b_col).isNotNull())
            .groupBy(F.col(rater_a_col).alias("__a"),
                     F.col(rater_b_col).alias("__b"))
            .agg(F.count(F.lit(1)).alias("__c"))
            .localCheckpoint(eager=True))     # label²-sized: tiny
    base = conf.agg(
        F.coalesce(F.sum("__c"), F.lit(0)).alias("n_items"),
        F.coalesce(F.sum(F.when(F.col("__a") == F.col("__b"),
                                F.col("__c"))), F.lit(0))
        .alias("__agree"))
    ca = conf.groupBy(F.col("__a").alias("__lbl")).agg(
        F.sum("__c").alias("__na"))
    cb = conf.groupBy(F.col("__b").alias("__lbl")).agg(
        F.sum("__c").alias("__nb"))
    chance = (
        ca.join(cb, "__lbl", "full_outer")
        .agg(F.coalesce(
            F.sum(F.coalesce(F.col("__na"), F.lit(0))
                  * F.coalesce(F.col("__nb"), F.lit(0))),
            F.lit(0)).alias("__pe_num"))
    )
    return (
        base.crossJoin(F.broadcast(chance))
        .select(
            "n_items",
            F.round(F.col("__agree") / F.col("n_items"), 6).alias("po"),
            F.round(F.col("__pe_num")
                    / (F.col("n_items") * F.col("n_items")), 6)
            .alias("pe"),
            F.round(
                F.when(
                    F.col("__pe_num")
                    < F.col("n_items") * F.col("n_items"),
                    (F.col("__agree") / F.col("n_items")
                     - F.col("__pe_num")
                     / (F.col("n_items") * F.col("n_items")))
                    / (F.lit(1.0) - F.col("__pe_num")
                       / (F.col("n_items") * F.col("n_items")))),
                6).alias("kappa"))
    )


def fleiss_kappa(
    df: DataFrame,
    item_col: str,
    label_col: str,
) -> DataFrame:
    """Chance-corrected agreement for N annotators per item (Fleiss
    1971) — the multi-rater generalization of :func:`cohen_kappa` for
    annotation pools where raters are interchangeable.  Input: one row
    per (item, rating); every item must carry the SAME number of
    ratings ``n`` (the statistic is undefined otherwise — raise rather
    than silently mis-weight).  Output: ONE row —
    ``(n_items, n_raters, p_bar, pe, kappa)`` with
    ``P_i = (sum_k n_ik^2 - n) / (n (n-1))``, ``p_bar = mean_i P_i``,
    ``pe = sum_k p_k^2``.

    Plan: per-(item,label) counts (partial-agg), rolled to per-item
    ``sum n_ik^2`` and to per-label totals — both category/item-bounded
    aggregates, no window, no collect beyond the one summary row.  All
    accumulation is INTEGER (``sum n_ik^2`` etc.) with exactly one
    float division per statistic, so the result is bit-deterministic
    across partitionings and engines (a float ``avg`` of per-item
    ratios would not be).  The (item, label) count table is eagerly
    checkpointed: the shape summary, the o-mass, and the category
    totals all read it, and without materialization each consumer
    would re-scan the raw ratings (plan-asserted single input scan)."""
    counts = (df.groupBy(F.col(item_col).alias("__it"),
                         F.col(label_col).alias("__lbl"))
              .agg(F.count(F.lit(1)).alias("__nik"))
              .localCheckpoint(eager=True))
    per_item = counts.groupBy("__it").agg(
        F.sum("__nik").alias("__n"),
        F.sum(F.col("__nik") * F.col("__nik")).alias("__sq"))
    shape = per_item.agg(
        F.count(F.lit(1)).alias("n_items"),
        F.min("__n").alias("__nmin"), F.max("__n").alias("__nmax"),
        F.sum("__n").alias("__tot"),
        F.sum("__sq").alias("__ssq"))
    row = shape.first()
    if row["n_items"] == 0:
        raise ValueError("fleiss_kappa: no ratings")
    if row["__nmin"] != row["__nmax"]:
        raise ValueError(
            f"fleiss_kappa: items carry between {row['__nmin']} and "
            f"{row['__nmax']} ratings; the statistic requires a "
            "constant rater count per item (filter or subsample first)")
    n = int(row["__nmin"])
    if n < 2:
        raise ValueError("fleiss_kappa: need >= 2 ratings per item")
    # p_bar = mean_i (sum_k n_ik^2 - n) / (n (n-1)); with constant n
    # the mean collapses to one exact-integer ratio.
    p_bar = (int(row["__ssq"]) - int(row["__tot"])) \
        / float(n * (n - 1) * int(row["n_items"]))
    pe = (counts.groupBy("__lbl").agg(F.sum("__nik").alias("__nk"))
          .agg((F.sum(F.col("__nk") * F.col("__nk"))
                / F.lit(float(int(row["__tot"]) ** 2))).alias("pe")))
    return (
        pe.select(
            F.lit(row["n_items"]).cast("long").alias("n_items"),
            F.lit(n).cast("int").alias("n_raters"),
            F.round(F.lit(p_bar), 6).alias("p_bar"),
            F.round("pe", 6).alias("pe"),
            F.round(F.when(F.col("pe") < 1.0,
                           (F.lit(p_bar) - F.col("pe"))
                           / (F.lit(1.0) - F.col("pe"))), 6)
            .alias("kappa"))
    )


def weighted_kappa(
    df: DataFrame,
    rater_a_col: str,
    rater_b_col: str,
    weights: str = "quadratic",
) -> DataFrame:
    """Weighted Cohen's kappa for ORDINAL labels (Cohen 1968): a 4-vs-5
    disagreement on a quality scale should cost less than 1-vs-5, which
    the nominal :func:`cohen_kappa` cannot express.  Labels must be
    numeric; penalty ``v_ij = |i-j|`` (``weights="linear"``) or
    ``(i-j)^2`` (``"quadratic"``, the Fleiss-Cohen default — equivalent
    to an ICC);

        kappa_w = 1 - sum(v_ij o_ij) / sum(v_ij e_ij)

    with observed cell proportions ``o`` and chance proportions ``e``
    from the marginal products.  Output: ONE row ``(n_items, do_, de_,
    kappa)`` (observed/expected weighted disagreement; ``kappa`` null
    when ``de_ == 0`` — both raters constant).

    Plan mirrors :func:`cohen_kappa`: ONE scan to the label^2-sized
    confusion table (eagerly checkpointed), the weighted sums and the
    marginal cross product all metadata-scale."""
    if weights not in ("linear", "quadratic"):
        raise ValueError(
            f"weights must be linear|quadratic, got {weights!r}")
    conf = (df.filter(F.col(rater_a_col).isNotNull()
                      & F.col(rater_b_col).isNotNull())
            .groupBy(F.col(rater_a_col).cast("double").alias("__a"),
                     F.col(rater_b_col).cast("double").alias("__b"))
            .agg(F.count(F.lit(1)).alias("__c"))
            .localCheckpoint(eager=True))
    diff = F.col("__a") - F.col("__b")
    v = F.abs(diff) if weights == "linear" else diff * diff
    obs = conf.agg(
        F.coalesce(F.sum("__c"), F.lit(0)).alias("n_items"),
        F.coalesce(F.sum(v * F.col("__c")), F.lit(0.0)).alias("__vo"))
    ca = conf.groupBy(F.col("__a").alias("__la")).agg(
        F.sum("__c").alias("__na"))
    cb = conf.groupBy(F.col("__b").alias("__lb")).agg(
        F.sum("__c").alias("__nb"))
    vd = F.col("__la") - F.col("__lb")
    ve = F.abs(vd) if weights == "linear" else vd * vd
    chance = ca.crossJoin(cb).agg(
        F.coalesce(F.sum(ve * F.col("__na") * F.col("__nb")),
                   F.lit(0.0)).alias("__ve"))
    n = F.col("n_items").cast("double")
    do_ = F.col("__vo") / n
    de_ = F.col("__ve") / (n * n)
    return (
        obs.crossJoin(F.broadcast(chance))
        .select(
            "n_items",
            F.round(do_, 6).alias("do_"),
            F.round(de_, 6).alias("de_"),
            F.round(F.when(F.col("__ve") > 0,
                           F.lit(1.0) - do_ / de_), 6).alias("kappa"))
    )


def benford_deviation(
    df: DataFrame,
    value_col: str,
) -> DataFrame:
    """First-digit (Benford's law) audit of a numeric column — the
    classic anomaly screen for organically-generated magnitudes
    (transaction amounts, populations, file sizes): naturally-occurring
    multi-order-of-magnitude data has ``P(d) = log10(1 + 1/d)``;
    fabricated or templated values don't.  Zero/null values carry no
    leading digit and are excluded.

    Output: 9 rows — ``(digit, n, obs_frac, exp_frac, dev)`` with
    ``dev = obs - exp`` — plus summary columns repeated on each:
    ``n_values``, ``chi2`` (Pearson statistic vs the Benford
    expectation; compare against the chi-square(8) critical value of
    your chosen confidence) and ``mad`` (mean absolute deviation, the
    Nigrini screening scale: < 0.006 close, > 0.015 nonconformity).

    Plan: leading digit via string math on ``abs(value)`` (JVM-side,
    no log-float edge cases), ONE partial-agg pass to the 9-row digit
    table — the summaries (totals, chi2, mad) are whole-frame window
    aggregates over those 9 rows, so the input is scanned exactly once
    (the naive agg-then-crossJoin form re-evaluated the scan subtree
    per summary; plan-asserted single scan in tests).  Empty digits
    materialize with zero counts so the output shape is always 9
    rows."""
    digit = F.substring(
        F.regexp_replace(
            F.abs(F.col(value_col)).cast("string"), r"[^1-9]*", ""),
        1, 1).cast("int")
    counts = (df.filter(F.col(value_col).isNotNull()
                        & (F.col(value_col) != 0))
              .select(digit.alias("digit"))
              .filter(F.col("digit").isNotNull())
              .groupBy("digit").agg(F.count(F.lit(1)).alias("n")))
    spark = df.sparkSession
    digits = spark.range(1, 10).select(F.col("id").cast("int")
                                       .alias("digit"))
    full = (digits.join(counts, "digit", "left")
            .select("digit", F.coalesce("n", F.lit(0)).alias("n"))
            .withColumn("exp_frac",
                        F.round(F.log10(1 + 1 / F.col("digit")), 6)))
    # whole-frame window over the digit table: 9 rows by construction,
    # so the single-partition window is bounded, not a scale hazard
    w = Window.partitionBy(F.lit(1))
    scored = (full
              .withColumn("n_values", F.sum("n").over(w))
              .withColumn("obs_frac",
                          F.when(F.col("n_values") > 0,
                                 F.round(F.col("n") / F.col("n_values"),
                                         6)).otherwise(F.lit(0.0)))
              .withColumn("dev", F.round(
                  F.col("obs_frac") - F.col("exp_frac"), 6)))
    exp_n = F.col("n_values") * F.log10(1 + 1 / F.col("digit"))
    # n_values = 0 (all-null/zero slice) makes exp_n = 0 and the ANSI
    # division throws — guard INSIDE the sum (a `when` around the
    # window expression would not stop the window from evaluating);
    # an empty audit reports null chi2, not a crash
    cell = F.when(exp_n > 0, F.pow(F.col("n") - exp_n, 2) / exp_n)
    return (scored
            .withColumn("chi2", F.round(F.sum(cell).over(w), 4))
            .withColumn("mad", F.round(
                F.avg(F.abs(F.col("obs_frac") - F.col("exp_frac")))
                .over(w), 6))
            .select("digit", "n", "obs_frac", "exp_frac", "dev",
                    "n_values", "chi2", "mad"))


def dp_noisy_counts(
    df: DataFrame,
    group_cols: Sequence[str],
    epsilon: float = 1.0,
    salt: str = "",
) -> DataFrame:
    """Differentially-private group counts via the Laplace mechanism:
    ``noisy_n = n + Laplace(1/epsilon)`` — the release-side companion
    of :func:`k_anonymity` (that op AUDITS a release; this one makes
    the counts themselves safe to publish; counting queries have
    sensitivity 1).  Output: ``(group_cols..., noisy_n)`` with
    ``noisy_n`` rounded to a long and clamped at 0.

    DETERMINISM CAVEAT, stated loudly: the noise is seeded from
    ``md5(group keys, salt)`` so pipelines are restart-stable and the
    SQL oracle can recompute it — which ALSO means a releaser who
    publishes two salts leaks; formal DP requires fresh randomness per
    release, i.e. a salt that is itself secret and single-use.  This
    operator gives the mechanism and the plumbing; salt governance is
    the caller's.

    Plan: one partial-agg count pass; the noise is an expression on
    the group-cardinality-sized result (inverse-CDF transform of the
    48-bit md5 uniform), no UDF, no collect."""
    if epsilon <= 0:
        raise ValueError(f"epsilon must be > 0, got {epsilon}")
    counts = df.groupBy(*[F.col(c) for c in group_cols]).agg(
        F.count(F.lit(1)).alias("__n"))
    key = F.concat_ws(
        "\x1f", *[F.col(c).cast("string") for c in group_cols],
        F.lit(salt))
    # u ~ Uniform(-0.5, 0.5) from the first 48 bits of md5
    u = (F.conv(F.substring(F.md5(key), 1, 12), 16, 10)
         .cast("double") / F.lit(float(1 << 48))) - 0.5
    b = 1.0 / epsilon
    noise = (-F.lit(b) * F.signum(u)
             * F.log(1 - 2 * F.abs(u)))
    return counts.select(
        *group_cols,
        F.greatest(F.round(F.col("__n") + noise).cast("long"),
                   F.lit(0).cast("long")).alias("noisy_n"))


def krippendorff_alpha(
    df: DataFrame,
    item_col: str,
    label_col: str,
    metric: str = "nominal",
) -> DataFrame:
    """Krippendorff's alpha — the agreement statistic for the RAGGED
    case :func:`fleiss_kappa` refuses: items may carry any number of
    ratings, raters need not overlap, missing annotations are simply
    absent rows (items with fewer than 2 ratings are excluded — they
    contain no agreement information).  The de-facto standard for
    content-analysis / annotation-vendor audits with incomplete
    coverage (Krippendorff 2004).

    ``metric`` selects the disagreement distance over the same
    coincidence table: ``"nominal"`` (any mismatch costs 1),
    ``"ordinal"`` (a 4-vs-5 disagreement on a quality scale costs less
    than 1-vs-5 — the norm for annotation-rating audits; distance is
    the squared rank-mass gap ``(sum_{g=c..k} n_g - (n_c+n_k)/2)^2``),
    or ``"interval"`` (squared value difference ``(c-k)^2``).  Ordinal
    and interval require numerically-castable labels.

    Coincidence-matrix form: with ``n_ic`` the count of category ``c``
    in item ``i``, ``n_i = sum_c n_ic`` (kept when >= 2), ``n.. =
    sum_i n_i``, ``n_c = sum_i n_ic``, off-diagonal coincidences
    ``o_ck = sum_i n_ic n_ik / (n_i - 1)`` and metric distances
    ``d_ck``:

        alpha = 1 - (n.. - 1) (sum_{c!=k} o_ck d_ck)
                            / (sum_{c!=k} n_c n_k d_ck)

    (the nominal case folds to the familiar
    ``1 - (n..-1)(n.. - sum_c o_cc)/(n..^2 - sum_c n_c^2)``).

    Output: ONE row — ``(n_items, n_ratings, do_, de_, alpha)`` with
    ``do_``/``de_`` the observed/expected disagreement, ``alpha`` null
    for the degenerate single-category case (``de_ == 0``).

    Plan: per-(item,label) counts -> per-item totals via one window
    over the item key (same shuffle a groupBy-join-back would cost,
    half the evaluations); the kept table is eagerly checkpointed —
    every statistic reads it, and without materialization each would
    re-scan the raw ratings (plan-asserted single input scan).
    Nominal needs only the diagonal coincidence mass (one rational
    sum).  Ordinal/interval build the OFF-diagonal coincidence pairs
    via a self-join of the kept counts on the item key (per-item cost
    is |distinct labels per item|^2 — bounded by raters-per-item, not
    corpus size) down to a label^2-bounded (c, k) table, then join the
    broadcast L-row category marginals for the distance terms; the
    ordinal cumulative marginal is a window over those L rows
    (label-cardinality bounded by construction, same justification as
    the 9-row Benford table — not a scale hazard)."""
    if metric not in ("nominal", "ordinal", "interval"):
        raise ValueError(
            f"metric must be nominal|ordinal|interval, got {metric!r}")
    lbl = (F.col(label_col) if metric == "nominal"
           else F.col(label_col).cast("double"))
    counts = (df.groupBy(F.col(item_col).alias("__it"),
                         lbl.alias("__lbl"))
              .agg(F.count(F.lit(1)).alias("__nic")))
    kept = (counts
            .withColumn("__n", F.sum("__nic").over(
                Window.partitionBy("__it")))
            .filter(F.col("__n") >= 2)
            .localCheckpoint(eager=True))
    totals = kept.groupBy("__lbl").agg(F.sum("__nic").alias("__nc")).agg(
        F.sum("__nc").alias("__ntot"),
        F.sum(F.col("__nc") * F.col("__nc")).alias("__snc2"))
    items = kept.agg(F.countDistinct("__it").alias("n_items"))
    ntot = F.col("__ntot").cast("double")
    if metric == "nominal":
        occ = kept.agg(
            F.sum(F.col("__nic") * (F.col("__nic") - 1)
                  / (F.col("__n") - 1)).alias("__occ"))
        do_ = (ntot - F.col("__occ")) / ntot
        de_ = (ntot * ntot - F.col("__snc2")) / (ntot * (ntot - 1))
        return (
            items.crossJoin(F.broadcast(totals))
            .crossJoin(F.broadcast(occ))
            .select(
                "n_items",
                F.col("__ntot").alias("n_ratings"),
                F.round(do_, 6).alias("do_"),
                F.round(de_, 6).alias("de_"),
                F.round(F.when(
                    F.col("__snc2") < F.col("__ntot") * F.col("__ntot"),
                    F.lit(1.0) - (ntot - 1) * (ntot - F.col("__occ"))
                    / (ntot * ntot - F.col("__snc2"))), 6).alias("alpha"))
        )
    # ordinal / interval: off-diagonal coincidence pairs (c < k once;
    # the symmetric factor of 2 cancels between numerator and
    # denominator) joined with the broadcast category marginals
    x, y = kept.alias("__x"), kept.alias("__y")
    pairs = (x.join(y, F.col("__x.__it") == F.col("__y.__it"))
             .filter(F.col("__x.__lbl") < F.col("__y.__lbl"))
             .groupBy(F.col("__x.__lbl").alias("__lc"),
                      F.col("__y.__lbl").alias("__lk"))
             .agg(F.sum(F.col("__x.__nic") * F.col("__y.__nic")
                        / (F.col("__x.__n") - 1)).alias("__occ")))
    marg = kept.groupBy("__lbl").agg(F.sum("__nic").alias("__nc"))
    if metric == "ordinal":
        # cumulative marginal over the L category rows (L = label
        # cardinality, bounded): single-partition window is fine here
        marg = marg.withColumn(
            "__cum", F.sum("__nc").over(
                Window.orderBy("__lbl")
                .rowsBetween(Window.unboundedPreceding, 0)))
    mc = marg.select(F.col("__lbl").alias("__lc"),
                     F.col("__nc").alias("__ncc"),
                     *([F.col("__cum").alias("__cumc")]
                       if metric == "ordinal" else []))
    mk = marg.select(F.col("__lbl").alias("__lk"),
                     F.col("__nc").alias("__nck"),
                     *([F.col("__cum").alias("__cumk")]
                       if metric == "ordinal" else []))
    if metric == "ordinal":
        dist = F.pow(
            F.col("__cumk") - F.col("__cumc") + F.col("__ncc")
            - (F.col("__ncc") + F.col("__nck")) / 2.0, 2)
    else:
        dist = F.pow(F.col("__lc") - F.col("__lk"), 2)
    # full (c, k) distance grid for the chance term; observed term
    # joins the coincidence pairs onto the same grid (left join: label
    # pairs never co-rated contribute only to chance)
    grid = (mc.crossJoin(mk)
            .filter(F.col("__lc") < F.col("__lk"))
            .withColumn("__d", dist)
            .join(F.broadcast(pairs), ["__lc", "__lk"], "left"))
    sums = grid.agg(
        F.coalesce(F.sum(F.col("__d") * F.col("__occ")), F.lit(0.0))
        .alias("__do_sum"),
        F.coalesce(F.sum(F.col("__d") * F.col("__ncc")
                         * F.col("__nck")), F.lit(0.0))
        .alias("__de_sum"))
    do_ = F.lit(2.0) * F.col("__do_sum") / ntot
    de_ = F.lit(2.0) * F.col("__de_sum") / (ntot * (ntot - 1))
    return (
        items.crossJoin(F.broadcast(totals))
        .crossJoin(F.broadcast(sums))
        .select(
            "n_items",
            F.col("__ntot").alias("n_ratings"),
            F.round(do_, 6).alias("do_"),
            F.round(de_, 6).alias("de_"),
            F.round(F.when(F.col("__de_sum") > 0,
                           F.lit(1.0) - (ntot - 1) * F.col("__do_sum")
                           / F.col("__de_sum")), 6).alias("alpha"))
    )


def spearman_correlation(
    df: DataFrame,
    col_a: str,
    col_b: str,
    id_col: str,
    ties: str = "average",
) -> DataFrame:
    """Spearman rank correlation between two scoring systems — the
    "does my cheap quality heuristic RANK documents like the expensive
    LM perplexity?" audit (:func:`column_correlations` gives Pearson,
    which a single monotone-but-nonlinear score pair can tank; rank
    agreement is the question a gate-threshold transfer actually asks).

    Ranks come from the value-bucketed two-phase machinery
    (:func:`~.windows.global_distribution_ranks` — no single-task
    global window).  ``ties="average"`` (default) assigns every tie
    group its MEAN ordinal rank — the textbook/scipy definition, and
    the case that matters for QUANTIZED scores (integer ratings,
    bucketed heuristics) where the cheap tie-break alternative
    measurably diverges.  ``ties="id"`` keeps the id-tie-break ordinal
    ranks as the documented fast path: exact Spearman when values are
    distinct (the continuous-score case), one window cheaper when you
    know there are no ties.  Output: ONE row ``(n_items, rho)``.

    Plan: the (id, a, b) projection is eagerly checkpointed; when BOTH
    columns are numeric (the scoring-system case) the two rank passes
    fuse (round 14): ONE multi-column ``approxQuantile`` boundary
    probe (the per-column GK sketches are identical to two
    single-column calls — the _tau_core precedent), ONE union-tagged
    bucket-count action, and both ordinal ranks as value-bucketed
    windows over the SAME frame — which also deletes the id-keyed
    rank join (each row already carries both ranks).  Rank values are
    identical to the two-pass :func:`~.windows.global_distribution_ranks`
    spelling by construction (same boundaries, same bucket expression,
    same within-bucket order, same offsets); non-numeric columns keep
    the two-pass fallback.  Tie averaging is a value-partitioned
    window over the already-computed ordinal ranks (ordinal ranks in a
    tie group are contiguous, so the partition mean IS the average
    rank); value-partitioned, never single-task."""
    from pyspark.sql.types import NumericType

    from .windows import global_distribution_ranks

    if ties not in ("average", "id"):
        raise ValueError(f"ties must be 'average' or 'id', got {ties!r}")
    base = (df.filter(F.col(col_a).isNotNull()
                      & F.col(col_b).isNotNull())
            .select(id_col, col_a, col_b)
            .localCheckpoint(eager=True))
    spark = df.sparkSession
    both_numeric = all(
        isinstance(base.schema[c].dataType, NumericType)
        for c in (col_a, col_b))
    if both_numeric:
        num_ranges = spark.sparkContext.defaultParallelism
        probs = [i / num_ranges for i in range(1, num_ranges)]
        if probs:
            qa, qb = base.approxQuantile([col_a, col_b], probs, 0.001)
        else:
            qa, qb = [], []

        def _bucket(col_name, qs):
            bounds = sorted(set(qs))
            barr = F.array(*[F.lit(float(b)) for b in bounds])
            return (F.aggregate(
                barr, F.lit(0),
                lambda acc, b: acc + F.when(
                    F.col(col_name).cast("double") >= b, 1).otherwise(0))
                if bounds else F.lit(0))

        keyed = (base.withColumn("__pa", _bucket(col_a, qa))
                 .withColumn("__pb", _bucket(col_b, qb)))
        counts = {(int(r["__t"]), int(r["__p"])): r["count"]
                  for r in keyed.select(F.lit(0).alias("__t"),
                                        F.col("__pa").alias("__p"))
                  .unionByName(keyed.select(F.lit(1).alias("__t"),
                                            F.col("__pb").alias("__p")))
                  .groupBy("__t", "__p").count().collect()}

        def _offsets(tag):
            tagged = {p: c for (t, p), c in counts.items() if t == tag}
            offs, acc = [], 0
            for pid in range(max(tagged) + 1 if tagged else 0):
                offs.append(acc)
                acc += tagged.get(pid, 0)
            return F.element_at(
                F.array(*[F.lit(o) for o in (offs or [0])]),
                F.col("__pa" if tag == 0 else "__pb") + 1)

        wa = Window.partitionBy("__pa").orderBy(
            F.col(col_a), F.col(id_col))
        wb = Window.partitionBy("__pb").orderBy(
            F.col(col_b), F.col(id_col))
        joined = keyed.select(
            F.col(col_a), F.col(col_b),
            (F.row_number().over(wa) + _offsets(0)).cast("long")
            .alias("__ra"),
            (F.row_number().over(wb) + _offsets(1)).cast("long")
            .alias("__rb"))
        if ties == "average":
            joined = (joined.withColumn(
                "__ra", F.avg(F.col("__ra").cast("double"))
                .over(Window.partitionBy(col_a)))
                .withColumn(
                "__rb", F.avg(F.col("__rb").cast("double"))
                .over(Window.partitionBy(col_b))))
        joined = joined.select("__ra", "__rb")
    else:
        ra = global_distribution_ranks(
            base.select(id_col, col_a),
            [F.col(col_a), F.col(id_col)], rank_col="__ra"
        ).select(id_col, col_a, "__ra")
        rb = global_distribution_ranks(
            base.select(id_col, col_b),
            [F.col(col_b), F.col(id_col)], rank_col="__rb"
        ).select(id_col, col_b, "__rb")
        if ties == "average":
            ra = ra.withColumn("__ra",
                               F.avg(F.col("__ra").cast("double"))
                               .over(Window.partitionBy(col_a)))
            rb = rb.withColumn("__rb",
                               F.avg(F.col("__rb").cast("double"))
                               .over(Window.partitionBy(col_b)))
        joined = (ra.select(id_col, "__ra")
                  .join(rb.select(id_col, "__rb"), id_col))
    # corr spelled out via try_divide: ANSI mode turns the zero-variance
    # case (a constant column -> all ranks tied) into DIVIDE_BY_ZERO
    # inside F.corr; the statistic's answer there is "undefined" (null)
    va, vb = F.col("__ra").cast("double"), F.col("__rb").cast("double")
    return (
        joined
        .agg(F.count(F.lit(1)).alias("n_items"),
             F.covar_pop(va, vb).alias("__cov"),
             F.stddev_pop(va).alias("__sa"),
             F.stddev_pop(vb).alias("__sb"))
        .select(
            "n_items",
            F.round(F.try_divide(
                F.col("__cov"), F.col("__sa") * F.col("__sb")), 6)
            .alias("rho"))
    )


def kendall_tau(
    df: DataFrame,
    col_a: str,
    col_b: str,
    n_buckets: int = 64,
) -> DataFrame:
    """EXACT Kendall's tau-b between two numeric columns — the third
    rank-agreement statistic next to Pearson
    (:func:`column_correlations`) and Spearman
    (:func:`spearman_correlation`); tau is the one with the direct
    probabilistic reading (P(concordant) - P(discordant)) and, with
    ``col_a`` = a timestamp, its numerator IS the Mann-Kendall trend
    statistic S.  Output: ONE row ``(n_items, c_minus_d, tau)``
    (``tau`` null when either column is constant).

    The naive definition is O(n²) pairs, and the classic exact
    algorithm (Knight 1966, merge-sort inversions) is inherently
    sequential — neither survives 100 TB.  This is a grid-decomposed
    exact computation instead:

    * one ``approxQuantile`` pass per column gives value buckets
      (balance-only — EXACTNESS never depends on the boundaries);
    * pairs in different x-buckets AND different y-buckets: their
      comparison signs are decided by the bucket indexes alone, so the
      B×B cell-count grid (driver-bounded, collected once) yields
      their concordant/discordant mass via 2-D prefix sums;
    * pairs sharing an x-bucket: summed locally per x-bucket group
      (``applyInPandas``, chunked vectorized sign products);
    * pairs sharing a y-bucket but not an x-bucket: locally per
      y-bucket group with the cross-bucket mask.

    The three classes partition all pairs, so the sum is exact.  Local
    group work is O((n/B)²) vectorized per group — pick ``n_buckets``
    ~ sqrt(n)/k so groups fit executor memory; the shuffle is two
    bucket-keyed repartitions of a 4-column projection, never pairs.
    Tie pairs (the tau-b denominators) come from exact value group-bys.
    """
    row = _tau_core(df, col_a, col_b, n_buckets)
    spark = df.sparkSession
    if row is None:
        return spark.sql(
            "SELECT CAST(0 AS BIGINT) AS n_items, "
            "CAST(0 AS BIGINT) AS c_minus_d, "
            "CAST(NULL AS DOUBLE) AS tau")
    n, cmd, n1, n2 = row["n"], row["cmd"], row["n1"], row["n2"]
    import numpy as np

    n0 = n * (n - 1) // 2
    denom = float(np.sqrt(float(n0 - n1) * float(n0 - n2)))
    tau = round(cmd / denom, 6) if denom > 0 else None
    return spark.sql(
        f"SELECT CAST({n} AS BIGINT) AS n_items, "
        f"CAST({cmd} AS BIGINT) AS c_minus_d, "
        f"CAST({'NULL' if tau is None else tau} AS DOUBLE) AS tau")


def _tau_core(
    df: DataFrame,
    col_a: str,
    col_b: str,
    n_buckets: int,
    mk_ties: bool = False,
) -> "dict | None":
    """The grid-decomposed exact tau computation shared by
    :func:`kendall_tau` and :func:`mann_kendall_trend` — returns the
    driver-side scalars (n, c_minus_d, tie-pair counts, and with
    ``mk_ties`` the Mann-Kendall tie-group sums) or None for an empty
    input.  Round-14 action-count consolidation, every value
    bit-identical to the separate-action spelling: ONE multi-column
    ``approxQuantile`` call (per-column Greenwald-Khanna sketches —
    identical boundaries to two calls; exactness never depended on
    them), the same-x / same-y pair-sum frames UNIONED into one
    action, and all per-column tie aggregates tagged and unioned into
    one two-row action (the MK T1/T2/T3 sums ride the same group-by
    that the tau tie-pair counts already paid for)."""
    import numpy as np

    base = (df.filter(F.col(col_a).isNotNull() & F.col(col_b).isNotNull())
            .select(F.col(col_a).cast("double").alias("__x"),
                    F.col(col_b).cast("double").alias("__y"))
            .localCheckpoint(eager=True))  # read by the boundary probe,
    # the cell counts, both group passes, and the tie aggregate

    probs = [i / n_buckets for i in range(1, n_buckets)]
    if probs:
        bx_bounds, by_bounds = base.approxQuantile(
            ["__x", "__y"], probs, 0.001)
    else:
        bx_bounds, by_bounds = [], []

    def bucket_expr(colname: str, bounds) -> F.Column:
        bounds = sorted(set(bounds))
        if not bounds:
            return F.lit(0)
        barr = F.array(*[F.lit(float(v)) for v in bounds])
        return F.aggregate(
            barr, F.lit(0),
            lambda acc, v: acc + F.when(F.col(colname) >= v, 1)
            .otherwise(0))

    bucketed = base.withColumn("__bx", bucket_expr("__x", bx_bounds)) \
                   .withColumn("__by", bucket_expr("__y", by_bounds))
    cells = bucketed.groupBy("__bx", "__by").count().collect()
    if not cells:
        return None
    bx_n = max(r["__bx"] for r in cells) + 1
    by_n = max(r["__by"] for r in cells) + 1
    grid = np.zeros((bx_n, by_n), dtype=np.int64)
    for r in cells:
        grid[r["__bx"], r["__by"]] = r["count"]
    n = int(grid.sum())
    # strictly-below-left / strictly-below-right prefix masses
    row_cum = np.cumsum(np.cumsum(grid, axis=0), axis=1)

    def shift(m, dx, dy):
        out = np.zeros_like(m)
        out[dx:, dy:] = m[:m.shape[0] - dx, :m.shape[1] - dy]
        return out

    p_lt = shift(row_cum, 1, 1)                     # a'<a, b'<b
    below_any = np.zeros_like(grid)                  # a'<a, ANY b'
    below_any[1:, :] = np.cumsum(grid.sum(axis=1), axis=0)[:-1, None]
    p_le_b = shift(np.cumsum(np.cumsum(grid, axis=0), axis=1), 1, 0)
    # a'<a, b'>b  =  (a'<a, any b') - (a'<a, b'<=b)
    p_gt = below_any - p_le_b
    c_cross = int((grid * p_lt).sum())
    d_cross = int((grid * p_gt).sum())

    def _pair_sum(pdf, cross_bx_only: bool):
        x = pdf["__x"].to_numpy()
        y = pdf["__y"].to_numpy()
        bx = pdf["__bx"].to_numpy()
        m = len(x)
        total = 0
        step = 1024
        j_idx = np.arange(m)
        for i0 in range(0, m, step):
            i1 = min(i0 + step, m)
            sx = np.sign(x[None, :] - x[i0:i1, None])
            sy = np.sign(y[None, :] - y[i0:i1, None])
            prod = sx * sy
            if cross_bx_only:
                prod = prod * (bx[None, :] != bx[i0:i1, None])
            mask = j_idx[None, :] > np.arange(i0, i1)[:, None]
            total += int(prod[mask].sum())
        return total

    import pandas as pd  # noqa: F811

    def samex(key, pdf):
        return pd.DataFrame({"s": [_pair_sum(pdf, False)]})

    def samey(key, pdf):
        return pd.DataFrame({"s": [_pair_sum(pdf, True)]})

    # one action for both in-bucket pair sums (the two frames are
    # independent subtrees of one union; only their TOTAL enters cmd)
    s_same = (bucketed.groupBy("__bx").applyInPandas(samex, "s long")
              .unionByName(
                  bucketed.groupBy("__by").applyInPandas(samey, "s long"))
              .agg(F.sum("s")).first()[0] or 0)

    # one tagged two-row action for every per-column tie aggregate —
    # expressions identical to the separate tie_pairs / tie_terms
    # spellings (incl. the /2 double division of the pair count)
    g = F.col("count")

    def tie_agg(colname: str, tag: str):
        aggs = [F.sum(g * (g - 1) / 2).alias("pairs")]
        if mk_ties:
            aggs += [F.sum(g * (g - 1) * (2 * g + 5)).alias("t1"),
                     F.sum(g * (g - 1) * (g - 2)).alias("t2"),
                     F.sum(g * (g - 1)).alias("t3")]
        return (base.groupBy(colname).count()
                .agg(*aggs).select(F.lit(tag).alias("__tag"), "*"))

    tie_rows = {r["__tag"]: r for r in
                tie_agg("__x", "x").unionByName(tie_agg("__y", "y"))
                .collect()}
    n1 = int(tie_rows["x"]["pairs"] or 0)
    n2 = int(tie_rows["y"]["pairs"] or 0)
    cmd = c_cross - d_cross + int(s_same)
    out = {"n": n, "cmd": cmd, "n1": n1, "n2": n2}
    if mk_ties:
        for side, tag in (("t", "x"), ("u", "y")):
            for term in ("t1", "t2", "t3"):
                out[f"{term}{side}"] = float(tie_rows[tag][term] or 0)
    return out


def mann_kendall_trend(
    df: DataFrame,
    time_col: str,
    value_col: str,
    n_buckets: int = 64,
) -> DataFrame:
    """Mann-Kendall monotonic-trend test over a time series — "is this
    metric drifting?" without assuming linearity or a distribution
    (the standard screen for quality-score drift, ingest-volume creep,
    latency degradation).  ``S = sum over time-ordered pairs of
    sign(value_j - value_i)`` is exactly the Kendall numerator with
    ``x = time`` (computed by the same grid decomposition — exact,
    distributed), and the normal approximation uses the FULL
    both-rankings tie-corrected variance (Kendall 1975 §4; the two
    cross terms matter exactly when both time and value carry ties):

        Var(S) = [n(n-1)(2n+5) - T1(t) - T1(u)] / 18
               + T2(t)*T2(u) / (9 n(n-1)(n-2))
               + T3(t)*T3(u) / (2 n(n-1))

    with per-tie-group sums ``T1 = sum g(g-1)(2g+5)``,
    ``T2 = sum g(g-1)(g-2)``, ``T3 = sum g(g-1)`` over time (t) and
    value (u) tie groups.

    Output: ONE row ``(n_items, s, var_s, z, trend)`` with the
    continuity-corrected z statistic and ``trend`` in
    ``increasing`` / ``decreasing`` / ``no_trend`` at the
    conventional |z| > 1.96 (5%) cut.  NOTE the variance formula is
    the standard independent-observations null; strongly
    autocorrelated series need pre-whitening upstream."""
    import math

    # one shared core run (round 14): the tau grid work AND the MK
    # tie-group sums — the old spelling ran kendall_tau, then re-read
    # the source twice more for two separate tie_terms aggregates
    # (identical group-bys the tau tie counts had already paid for)
    core = _tau_core(df, time_col, value_col, n_buckets, mk_ties=True)
    spark = df.sparkSession
    if core is None:
        n, s = 0, 0
        t1t = t2t = t3t = t1u = t2u = t3u = 0.0
    else:
        n, s = core["n"], core["cmd"]
        t1t, t2t, t3t = core["t1t"], core["t2t"], core["t3t"]
        t1u, t2u, t3u = core["t1u"], core["t2u"], core["t3u"]
    var_s = (n * (n - 1) * (2 * n + 5) - t1t - t1u) / 18.0
    if n > 2:
        var_s += t2t * t2u / (9.0 * n * (n - 1) * (n - 2))
    if n > 1:
        var_s += t3t * t3u / (2.0 * n * (n - 1))
    if var_s > 0:
        z = ((s - 1) / math.sqrt(var_s) if s > 0
             else (s + 1) / math.sqrt(var_s) if s < 0 else 0.0)
    else:
        z = 0.0
    trend = ("increasing" if z > 1.96
             else "decreasing" if z < -1.96 else "no_trend")
    return spark.sql(
        f"SELECT CAST({n} AS BIGINT) AS n_items, "
        f"CAST({s} AS BIGINT) AS s, "
        f"round(CAST({var_s} AS DOUBLE), 6) AS var_s, "
        f"round(CAST({z} AS DOUBLE), 6) AS z, "
        f"'{trend}' AS trend")


def cusum_change_point(
    df: DataFrame,
    time_col: str,
    value_col: str,
    id_col: str,
    n_buckets: int = 64,
) -> DataFrame:
    """CUSUM change-point LOCALIZATION over a time series — the
    companion of :func:`mann_kendall_trend`: MK answers "is the metric
    drifting at all"; CUSUM answers "WHERE did the level shift" (the
    mean-shift screen for ingest mix changes, scorer re-deployments,
    upstream schema breaks).

    Statistic: with rows in (time, id) order and ``S_k`` the prefix
    sum of the demeaned values, the change point estimate is
    ``argmax_k |S_k|`` and the standardized statistic
    ``max|S_k| / (sigma * sqrt(n))`` follows the Kolmogorov (sup of a
    Brownian bridge) law under the no-change null — 1.358 is the
    asymptotic 5% critical value.

    Exactness across engines: prefix sums of DOUBLES are
    addition-order-dependent, so the op computes the integer-scaled
    form ``W_k = n * prefix(v) - k * total(v)`` (= ``n * S_k``), which
    is EXACT integer arithmetic whenever ``value_col`` is integral —
    pass a scaled-integer column (cents, milliseconds) for
    bit-reproducible results; fractional inputs still work but the
    last-ulp caveat applies.

    Plan: the familiar value-bucketed two-phase shape — time-bucket
    boundaries from one ``approxQuantile`` pass, per-bucket
    (count, sum) offsets collected as <= n_buckets tiny rows,
    within-bucket window for local prefix count/sum (ordered by
    (time, id) so ties are deterministic), then one
    TakeOrderedAndProject for the argmax row.  No single-task window,
    no corpus-wide sort.  Output: ONE row ``(n_items, cusum_max,
    stat, t_star, significant)``."""
    spark = df.sparkSession
    base = (df.filter(F.col(time_col).isNotNull()
                      & F.col(value_col).isNotNull())
            .select(F.col(id_col).alias("__id"),
                    F.col(time_col).cast("double").alias("__t"),
                    F.col(value_col).cast("long").alias("__v"))
            .localCheckpoint(eager=True))
    stats = base.agg(
        F.count(F.lit(1)).alias("n"), F.sum("__v").alias("tot"),
        F.stddev_pop(F.col("__v").cast("double")).alias("sd")).first()
    n, tot = int(stats["n"]), int(stats["tot"] or 0)
    sd = float(stats["sd"] or 0.0)
    if n == 0:
        return spark.sql(
            "SELECT CAST(0 AS BIGINT) AS n_items, "
            "CAST(NULL AS DOUBLE) AS cusum_max, "
            "CAST(NULL AS DOUBLE) AS stat, "
            "CAST(NULL AS DOUBLE) AS t_star, "
            "CAST(NULL AS BOOLEAN) AS significant")
    probs = [i / n_buckets for i in range(1, n_buckets)]
    bounds = sorted(set(base.approxQuantile("__t", probs, 0.001))) \
        if probs else []
    if bounds:
        barr = F.array(*[F.lit(float(v)) for v in bounds])
        bucket = F.aggregate(
            barr, F.lit(0),
            lambda acc, v: acc + F.when(F.col("__t") >= v, 1)
            .otherwise(0))
    else:
        bucket = F.lit(0)
    keyed = base.withColumn("__pid", bucket)
    per = {r["__pid"]: (r["c"], int(r["s"]))
           for r in keyed.groupBy("__pid")
           .agg(F.count(F.lit(1)).alias("c"), F.sum("__v").alias("s"))
           .collect()}
    cnt_off, sum_off, acc_c, acc_s = [], [], 0, 0
    for pid in range(max(per) + 1 if per else 0):
        cnt_off.append(acc_c)
        sum_off.append(acc_s)
        c, s = per.get(pid, (0, 0))
        acc_c += c
        acc_s += s
    w = Window.partitionBy("__pid").orderBy("__t", "__id")
    k = (F.row_number().over(w)
         + F.element_at(F.array(*[F.lit(c) for c in cnt_off]),
                        F.col("__pid") + 1)).cast("long")
    pref = (F.sum("__v").over(w)
            + F.element_at(F.array(*[F.lit(s) for s in sum_off]),
                           F.col("__pid") + 1)).cast("long")
    # W_k = n*prefix - k*total  (exact integers); S_k = W_k / n
    scored = keyed.withColumn(
        "__w", F.lit(n) * pref - k * F.lit(tot))
    from .windows import global_topk

    top = global_topk(
        scored.select("__t", "__id", F.abs(F.col("__w")).alias("__aw")),
        [F.col("__aw").desc(), F.col("__t"), F.col("__id")], 1).first()
    import math

    cusum_max = int(top["__aw"]) / n
    t_star = float(top["__t"])
    stat = (cusum_max / (sd * math.sqrt(n))) if sd > 0 and n > 0 \
        else None
    return spark.sql(
        f"SELECT CAST({n} AS BIGINT) AS n_items, "
        f"round(CAST({cusum_max} AS DOUBLE), 6) AS cusum_max, "
        f"{'CAST(NULL AS DOUBLE)' if stat is None else f'round(CAST({stat} AS DOUBLE), 4)'} AS stat, "
        f"CAST({t_star} AS DOUBLE) AS t_star, "
        f"{'CAST(NULL AS BOOLEAN)' if stat is None else str(stat > 1.358).lower()} AS significant")


def sen_slope(
    df: DataFrame,
    time_col: str,
    value_col: str,
    id_col: str,
    max_rows: int = 50_000,
) -> DataFrame:
    """Sen's slope estimator — the robust trend MAGNITUDE companion of
    :func:`mann_kendall_trend` (MK answers whether and which way;
    Sen's median pairwise slope answers how fast, immune to outliers
    that wreck least squares): ``median over pairs i<j with t_i != t_j
    of (v_j - v_i)/(t_j - t_i)`` (Sen 1968).

    Honest scale contract: the estimator is DEFINED over all O(n²)
    pairs and, unlike Kendall's S, its median does not decompose over
    buckets — so this op materializes the pair frame and REFUSES
    inputs past ``max_rows`` (default 50k -> ~1.25e9 pairs) instead of
    silently sampling; aggregate/subsample upstream (per-day means,
    systematic key filter) and raise the cap consciously if you have
    the cluster for it.  The median itself is exact, via the
    value-bucketed two-phase ranks (no single-task sort): even counts
    average the two middle slopes.

    Output: ONE row ``(n_items, n_pairs, slope)`` (``slope`` null when
    no pair has distinct times)."""
    from .windows import global_distribution_ranks

    # checkpointed: three consumers (cap count + both join sides), and
    # the caller's upstream may be arbitrarily expensive; A/B against
    # re-derivation measured a wash on cheap scans (5.4 vs 5.6 s)
    base = (df.filter(F.col(time_col).isNotNull()
                      & F.col(value_col).isNotNull())
            .select(F.col(id_col).alias("__id"),
                    F.col(time_col).cast("double").alias("__t"),
                    F.col(value_col).cast("double").alias("__v"))
            .localCheckpoint(eager=True))
    n = base.count()
    if n > max_rows:
        raise ValueError(
            f"sen_slope materializes all O(n^2) pairwise slopes; got "
            f"n={n} > max_rows={max_rows} (~{n * (n - 1) // 2:,} "
            "pairs). Aggregate or subsample upstream, or raise "
            "max_rows consciously.")
    a = base.select(F.col("__id").alias("__ia"),
                    F.col("__t").alias("__ta"),
                    F.col("__v").alias("__va"))
    b = base.select(F.col("__id").alias("__ib"),
                    F.col("__t").alias("__tb"),
                    F.col("__v").alias("__vb"))
    slopes = (a.join(b, F.col("__ia") < F.col("__ib"))
              .filter(F.col("__ta") != F.col("__tb"))
              .select(((F.col("__vb") - F.col("__va"))
                       / (F.col("__tb") - F.col("__ta")))
                      .alias("__s"))
              .localCheckpoint(eager=True))  # one 8-byte column
    spark = df.sparkSession
    # exact median by bucket SELECTION (boundaries -> bucket counts ->
    # collect only the bucket(s) straddling the middle ranks): three
    # jobs on the checkpointed slopes, vs the full rank machinery's
    # boundary+rank+filter chain (measured 6.7 -> ~2 s at 1.2M pairs)
    med, m = _exact_median_bucketed(slopes, "__s")
    if m == 0:
        return spark.sql(
            f"SELECT CAST({n} AS BIGINT) AS n_items, "
            "CAST(0 AS BIGINT) AS n_pairs, "
            "CAST(NULL AS DOUBLE) AS slope")
    return spark.sql(
        f"SELECT CAST({n} AS BIGINT) AS n_items, "
        f"CAST({m} AS BIGINT) AS n_pairs, "
        f"round(CAST({med} AS DOUBLE), 6) AS slope")


def _exact_median_bucketed(vals: DataFrame, col: str,
                           n_buckets: int = 64):
    """Exact median of one numeric column without a global sort or a
    rank pass: approxQuantile boundaries (balance only — exactness
    never depends on them), one bucket-count aggregate, then collect
    JUST the bucket(s) holding order statistics ceil(m/2) and
    ceil(m/2)+1 and sort them driver-side (~m/n_buckets values; the
    selection recurses with shifted order statistics if a heavy tie
    makes the target bucket larger than ~8M rows).  Returns
    ``(median, m)``; even counts average the two middle values."""
    m = vals.count()
    if m == 0:
        return None, 0
    mid = (m + 1) // 2
    picks = [mid, mid + 1] if m % 2 == 0 else [mid]
    got = _exact_order_stats(vals, col, picks, n_buckets)
    return sum(got) / len(got), m


def _order_stats_probe(vals: DataFrame, col: str, ks, m: int,
                       max_collect: int = 4_000_000):
    """Probe-window selection (see :func:`_exact_order_stats`): bracket
    ranks ``[min(ks), max(ks)]`` with percentile_approx values, verify
    the bracket EXACTLY with one count aggregate, collect only the
    bracket.  Returns None when the bracket misses a wanted rank or
    holds more than ``max_collect`` rows (heavy tie) — caller falls
    back to the bucket machinery.  3 cheap jobs; the collect is
    ~(rank span + 2 * sketch error) rows on any distribution shape."""
    import numpy as np

    k_lo, k_hi = min(ks), max(ks)
    # rank error of the sketch is m/accuracy; pad the probe quantiles
    # by 4x that so the bracket almost always verifies first try
    acc = 10_000
    err = max(1, m // acc)
    p_lo = max(0.0, (k_lo - 4 * err) / m)
    p_hi = min(1.0, (k_hi + 4 * err) / m)
    a, b_ = vals.agg(
        F.percentile_approx(col, F.lit(p_lo), F.lit(acc)),
        F.percentile_approx(col, F.lit(p_hi), F.lit(acc))).first()
    if a is None or b_ is None:
        return None
    c = F.col(col)
    below, inwin = vals.agg(
        F.count(F.when(c < a, 1)),
        F.count(F.when(c.between(a, b_), 1))).first()
    below, inwin = int(below), int(inwin)
    # the bracket must contain every wanted rank: ranks below+1 ..
    # below+inwin are exactly the rows in [a, b]
    if not (below < k_lo and k_hi <= below + inwin):
        return None
    if inwin > max_collect:
        return None
    arr = np.sort(np.array(
        [r[0] for r in vals.filter(c.between(a, b_)).select(col)
         .collect()], dtype="float64"))
    return [float(arr[k - below - 1]) for k in ks]


def _exact_order_stats(vals: DataFrame, col: str, ks, n_buckets: int,
                       depth: int = 0):
    """Values at the 1-based sorted positions ``ks`` (assumed close
    together, as a median's are).

    Round-14 fast path — QUANTILE-SKETCH PROBE WINDOW: equi-width
    buckets are blind to heavy tails (measured on the sen-slope pair
    frame at sf0.1: outliers stretch (min, max) so far that ONE bucket
    held 98% of 1.2M rows and the "straddling bucket" collect shipped
    1.17M rows to the driver, 4.2 s of a 4.5 s query).  Instead, two
    ``percentile_approx`` probes bracket the wanted ranks (the sketch
    returns REAL data values with a bounded rank error), one aggregate
    EXACTLY counts rows below/inside the bracket, and only the
    bracket's rows collect.  The count pass VERIFIES the bracket
    contains every k — sketch accuracy only gates the fast path, never
    the result — and any miss (or an over-fat bracket, e.g. a heavy
    tie at the median value) falls back to the equi-width bucket
    machinery below, which stays exact for every distribution shape.
    Selected values are the same doubles either way."""
    import numpy as np

    m_max = max(ks)
    cnt, lo, hi = vals.agg(F.count(F.lit(1)), F.min(col),
                           F.max(col)).first()
    if lo is None:
        return []
    if lo == hi:  # all identical — every order statistic is lo
        return [float(lo) for _ in ks]
    if depth == 0 and cnt >= m_max:
        got = _order_stats_probe(vals, col, ks, int(cnt))
        if got is not None:
            return got
    bexp = F.width_bucket(F.col(col), F.lit(float(lo)),
                          F.lit(float(hi)), F.lit(n_buckets))
    counts = {r["__b"]: r["count"] for r in
              vals.withColumn("__b", bexp).groupBy("__b").count()
              .collect()}
    need, acc = set(), 0
    for bidx in range(1, max(counts) + 1):
        c = counts.get(bidx, 0)
        if any(acc < k <= acc + c for k in ks):
            need.add(bidx)
        acc += c
    offset = sum(counts.get(i, 0) for i in range(1, min(need)))
    target = (vals.withColumn("__b", bexp)
              .filter(F.col("__b").isin(sorted(need))).select(col))
    shifted = [k - offset for k in ks]
    if sum(counts.get(i, 0) for i in need) > 8_000_000 and depth < 4:
        return _exact_order_stats(
            target.localCheckpoint(eager=True), col, shifted, n_buckets,
            depth + 1)
    arr = np.sort(np.array(
        [r[0] for r in target.collect()], dtype="float64"))
    return [float(arr[k - 1]) for k in shifted]


def schema_drift_report(old: DataFrame, new: DataFrame) -> DataFrame:
    """Column-level schema diff between two corpus versions — the
    METADATA companion of :func:`snapshot_diff` (rows) and
    :func:`~..functions.corpus.corpus_diff` (content): one row per
    column with ``status`` in ``added`` / ``removed`` /
    ``type_changed`` / ``unchanged`` plus the old/new type strings.
    The check a landing zone runs before the sources layer's drift
    POLICY decides what to do about it (``sources/files.py`` enforces;
    this op reports).  Pure schema metadata — zero jobs, zero scans;
    the result is a literal frame built on the driver."""
    o = {f.name: f.dataType.simpleString() for f in old.schema.fields}
    n = {f.name: f.dataType.simpleString() for f in new.schema.fields}
    rows = []
    for c in sorted(set(o) | set(n)):
        if c not in n:
            rows.append((c, "removed", o[c], None))
        elif c not in o:
            rows.append((c, "added", None, n[c]))
        elif o[c] != n[c]:
            rows.append((c, "type_changed", o[c], n[c]))
        else:
            rows.append((c, "unchanged", o[c], n[c]))
    spark = old.sparkSession
    # JVM-literal frame (no Python-RDD round trip for a metadata-sized
    # result — the save_pca/tiny-write lesson)
    cols = ", ".join(
        "({}, {}, {}, {})".format(
            f"'{c}'", f"'{s}'",
            "NULL" if ot is None else f"'{ot}'",
            "NULL" if nt is None else f"'{nt}'")
        for c, s, ot, nt in rows)
    return spark.sql(
        f"SELECT col AS column, status, old_type, new_type FROM "
        f"(VALUES {cols}) AS t(col, status, old_type, new_type)")


def parquet_file_stats(
    spark,
    path: str,
    columns: Sequence[str] | None = None,
) -> DataFrame:
    """Footer statistics of every parquet file under ``path`` as a
    DataFrame — ``(file, column, rows, size_bytes, min_val, max_val,
    null_count)``, min/max stringified for a uniform schema.

    This is the audit/pruning-index view of a layout: verify that a
    :func:`~..sinks.write_pruned_layout` / ``write_zorder_layout``
    actually produced disjoint ranges, estimate how many files a
    predicate will touch BEFORE running it, or feed an external engine
    a skipping manifest.  Footer reads are distributed — the file list
    becomes a DataFrame and each task opens its own footers with
    pyarrow (metadata-only, no row groups decoded), so a million-file
    100 TB table indexes at cluster parallelism, not driver speed.
    """
    import glob as _glob
    import os as _os

    import pandas as _pd

    files = sorted(
        f for f in _glob.glob(_os.path.join(path, "**", "*.parquet"),
                              recursive=True)
    )
    if not files:
        raise FileNotFoundError(f"no parquet files under {path!r}")

    want = list(columns) if columns else None

    def footers(batches):
        import pyarrow.parquet as _pq

        for pdf in batches:
            rows = []
            for f in pdf["file"]:
                md = _pq.ParquetFile(f).metadata
                size = _os.path.getsize(f)
                names = md.schema.names
                for idx, name in enumerate(names):
                    if want and name not in want:
                        continue
                    lo = hi = None
                    nulls = 0
                    have = False
                    for g in range(md.num_row_groups):
                        st = md.row_group(g).column(idx).statistics
                        if st is None or not st.has_min_max:
                            continue
                        have = True
                        lo = st.min if lo is None else min(lo, st.min)
                        hi = st.max if hi is None else max(hi, st.max)
                        nulls += st.null_count or 0
                    rows.append((f, name, md.num_rows, size,
                                 str(lo) if have else None,
                                 str(hi) if have else None,
                                 nulls if have else None))
            yield _pd.DataFrame(rows, columns=[
                "file", "column", "rows", "size_bytes",
                "min_val", "max_val", "null_count"])

    fdf = spark.createDataFrame([(f,) for f in files], "file string")
    n = min(len(files), spark.sparkContext.defaultParallelism)
    return fdf.repartition(n).mapInPandas(
        footers,
        schema="file string, column string, rows long, size_bytes long, "
               "min_val string, max_val string, null_count long")


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    keys: str | Sequence[str],
    compare_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Key-based diff of two table versions: one row per key that was
    ``added``, ``removed``, or ``changed`` between ``old`` and ``new``.

    The audit/regression primitive the merge-snapshot sink
    (``sinks.py`` time travel) makes cheap to ask for: "what did
    yesterday's sync actually do?".  Unchanged keys produce no output,
    so the result is delta-sized, not table-sized.

    ``compare_cols`` defaults to all shared non-key columns.  Change
    detection compares one 64-bit ``xxhash64`` over PER-COLUMN
    ``xxhash64`` digests (a NULL hashes to the seed constant, a fixed
    marker, and the per-column longs are never null so the combining
    hash is strictly positional — Spark's multi-arg hash over raw
    columns would skip nulls and collide (null,'x') with ('x',null)),
    never a
    column-by-column OR chain: join cost independent of column count,
    NULL distinct from empty string, no separator ambiguity.  A false
    "unchanged" needs a 64-bit hash collision (~5e-20 per key) —
    xxhash64 is JVM-native and measured ~25% faster here than the md5
    chain; the oracle checks the diff's SEMANTICS, not the digest, so
    the hash needs no cross-engine twin.

    Scale shape: ONE full outer join on the key — both sides hash-
    shuffle once; with both snapshots bucketed by key (the merge sink's
    layout) the exchange disappears entirely.  The hash is computed
    before the join, so the join carries keys + 8-byte xxhash64
    digests, not whole rows.
    """
    ks = [keys] if isinstance(keys, str) else list(keys)
    if compare_cols is None:
        compare_cols = [
            c for c in new.columns if c in set(old.columns) and c not in ks]

    def hashed(df: DataFrame, alias: str) -> DataFrame:
        # xxhash64(NULL) returns the seed (42), a fixed marker distinct
        # from any value's hash short of a 2^-64 collision — so NULL,
        # '' and real values all digest differently, and the combine
        # over the (always non-null) per-column longs is positional
        per_col = [F.xxhash64(F.col(c).cast("string"))
                   for c in compare_cols]
        digest = (F.xxhash64(*per_col) if per_col
                  # key-only table: no payload to compare — matched
                  # keys are never 'changed', only added/removed exist
                  else F.lit(0).cast("bigint"))
        return df.select(*ks, digest.alias(alias))

    o = hashed(old, "__h_old")
    n = hashed(new, "__h_new")
    joined = o.join(n, ks, "full_outer")
    change = (
        F.when(F.col("__h_old").isNull(), F.lit("added"))
        .when(F.col("__h_new").isNull(), F.lit("removed"))
        .when(F.col("__h_old") != F.col("__h_new"), F.lit("changed"))
    )
    return (
        joined.withColumn("change_type", change)
        .filter(F.col("change_type").isNotNull())
        .select(*ks, "change_type")
    )


def distribution_drift(
    ref: DataFrame,
    cur: DataFrame,
    cols: Sequence[str],
    bins: int = 10,
    eps: float = 1e-6,
) -> DataFrame:
    """Population-Stability-Index drift between a REFERENCE snapshot
    and a CURRENT batch, per numeric column:

        PSI = sum_bins (p_i - q_i) * ln(p_i / q_i)

    with p/q the eps-clamped bin proportions (clamping keeps empty
    bins finite — the standard PSI convention).  Rule of thumb:
    < 0.1 stable, 0.1-0.25 moderate shift, > 0.25 action.  This is
    the monitoring half of the sync quality gate: expectations catch
    per-row violations, drift catches DISTRIBUTIONAL change (a feed
    that silently switched units passes every not_null/in_range check
    while its histogram walks away).

    Bin bounds come from the reference's min/max (one aggregate over
    all columns in a single scan) so both sides bucket identically;
    values outside the reference range clamp into the edge bins —
    mass piling up in an edge bin IS the drift signal for
    out-of-range shift.  Each side then pays ONE scan: per-column
    bucket expressions are exploded into (column, bin) rows and
    aggregated together (map-side combined), so the cost is
    2 scans + a bins*columns-sized join, independent of column count.

    Returns (column, psi, n_ref, n_cur) — one row per column.
    """
    doubles = {c: F.col(c).cast("double") for c in cols}
    b = ref.agg(*[f for c in cols for f in
                  (F.min(doubles[c]).alias(f"__lo_{c}"),
                   F.max(doubles[c]).alias(f"__hi_{c}"))]).first()
    bounds: dict[str, tuple[float, float]] = {}
    for c in cols:
        lo, hi = b[f"__lo_{c}"], b[f"__hi_{c}"]
        lo = float(lo) if lo is not None else 0.0
        hi = float(hi) if hi is not None else lo + 1.0
        if hi <= lo:
            hi = lo + 1.0
        bounds[c] = (lo, (hi - lo) / bins)

    def bucket_counts(df: DataFrame) -> DataFrame:
        structs = [
            F.struct(
                F.lit(c).alias("column"),
                F.when(
                    doubles[c].isNotNull(),
                    F.least(
                        F.greatest(
                            F.floor((doubles[c] - F.lit(lo))
                                    / F.lit(width)).cast("int"),
                            F.lit(0)),
                        F.lit(bins - 1)),
                ).alias("bin"))
            for c, (lo, width) in bounds.items()
        ]
        return (
            df.select(F.explode(F.array(*structs)).alias("s"))
            .select("s.column", "s.bin")
            .filter(F.col("bin").isNotNull())
            .groupBy("column", "bin")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    spark = ref.sparkSession
    # dense (column, bin) grid, JVM-literal (no Python-RDD round-trip)
    grid = (
        spark.range(1)
        .select(F.explode(F.array(*[F.lit(c) for c in cols]))
                .alias("column"))
        .crossJoin(spark.range(bins).select(
            F.col("id").cast("int").alias("bin")))
    )
    joined = (
        grid.join(bucket_counts(ref).withColumnRenamed("n", "n_ref"),
                  ["column", "bin"], "left")
        .join(bucket_counts(cur).withColumnRenamed("n", "n_cur"),
              ["column", "bin"], "left")
        .select("column", "bin",
                F.coalesce("n_ref", F.lit(0)).alias("n_ref"),
                F.coalesce("n_cur", F.lit(0)).alias("n_cur"))
    )
    tot = Window.partitionBy("column")
    p = F.greatest(F.col("n_ref") / F.sum("n_ref").over(tot), F.lit(eps))
    q = F.greatest(F.col("n_cur") / F.sum("n_cur").over(tot), F.lit(eps))
    return (
        joined.withColumn("__term", (p - q) * F.log(p / q))
        .groupBy("column")
        .agg(F.sum("__term").alias("psi"),
             F.sum("n_ref").alias("n_ref"),
             F.sum("n_cur").alias("n_cur"))
    )
