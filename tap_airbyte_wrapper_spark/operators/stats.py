"""Two-sample statistical tests and resampling — the A/B layer of the
quality toolkit.

:mod:`~.quality` answers "is this ONE corpus sane" (profiles, agreement,
trend screens); a curation pipeline equally needs "are these TWO slices
the same distribution?" — before/after a scorer redeploy, crawl A vs
crawl B, train vs held-out.  The reference has no analogue (its tap.py
moves JSON rows); this is north-star territory for an engine feeding LLM
training runs.  Everything here follows the house discipline:

* one scan of the input, then all statistics on bounded derived tables
  (distinct-value counts, contingency cells, replicate means);
* integer-exact arithmetic wherever the statistic allows it (the
  Mann-Whitney rank sum and tie terms are exact longs, same trick as
  :func:`~.quality.cusum_change_point`'s ``W_k``), so cross-engine
  oracles hash-match bit-for-bit rather than "to within noise";
* no unpartitioned windows — global prefix sums ride
  :func:`~.windows.global_cumsum`'s value-bucketed two-phase shape;
* p-values computed on the driver with ``math`` (libm — the same code
  path DuckDB's ``exp``/``sqrt`` hit, unlike JVM ``Math.exp``'s
  occasionally-different last ulp) from exactly-derived inputs;
* t- and F-based tails are EXACT (round 12): the regularized
  incomplete beta of :mod:`~.tails` replaces the round-10/11 normal /
  Paulson approximations in `welch_t_test`, `welch_t_sliced`,
  `paired_t_test`, `tost_equivalence` (+ sliced), `pairwise_welch`,
  `welch_anova` and `brown_forsythe` — the many-small-slices regime
  the sliced sweeps invite is exactly where a t tail and a z tail
  diverge materially (see tails.py for where the normal approximation
  is RETAINED and why).

Public-knowledge formulas: Kolmogorov-Smirnov asymptotic law
(Kolmogorov 1933; Stephens 1970 small-sample correction), Mann-Whitney
U with tie-corrected normal approximation (Mann & Whitney 1947;
Lehmann, Nonparametrics), Welch's t and Welch-Satterthwaite df (Welch
1947), chi-square independence + Cramer's V (Pearson 1900; Cramer
1946), Poisson bootstrap (Hanley & MacGibbon 2006 — the resampling
scheme that needs no global coordination, which is why it is THE
bootstrap for sharded data), normal CDF via the Abramowitz & Stegun
7.1.26 erf polynomial (|eps| < 1.5e-7, far below the 6-decimal
rounding all outputs carry).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F

from .tails import RANK_EXACT_MAX_N as _RANK_EXACT_MAX_N, \
    apply_ibeta_layers, chi2_sf as _chi2_sf, f_sf as _f_sf, \
    mw_u_exact_p2 as _mw_u_exact_p2, ptukey_sf as _ptukey_sf, \
    t_sf1 as _t_sf1, t_sf2 as _t_sf2, \
    wilcoxon_exact_p2 as _wilcoxon_exact_p2

__all__ = ["ks_test", "ks_test_sliced", "mann_whitney_u",
           "mann_whitney_sliced", "welch_t_test", "welch_t_sliced", "tost_equivalence",
           "tost_sliced", "holm_bonferroni", "benjamini_yekutieli",
           "min_detectable_effect",
           "chi_square_independence", "fisher_exact_2x2", "bootstrap_ci", "autocorrelation",
           "jarque_bera", "proportion_z_test", "seasonal_decompose",
           "bh_fdr", "mutual_information", "wilcoxon_signed_rank",
           "paired_t_test", "wasserstein_1d", "kruskal_wallis",
           "welch_anova", "brown_forsythe", "pairwise_welch", "icc_2_1",
           "icc_1_1", "icc_3_1", "icc_all_forms"]


def _normal_sf2(z: float) -> float:
    """Two-sided normal tail 2*P(Z > |z|) via the A&S 7.1.26 erf
    polynomial on libm doubles (driver-side: matches DuckDB's libm
    arithmetic; the SQL oracles spell out the same polynomial)."""
    x = abs(z) / math.sqrt(2.0)
    t = 1.0 / (1.0 + 0.3275911 * x)
    poly = t * (0.254829592 + t * (-0.284496736 + t * (
        1.421413741 + t * (-1.453152027 + t * 1.061405429))))
    return min(1.0, max(0.0, poly * math.exp(-x * x)))


def _kolmogorov_sf(lam: float) -> float:
    """Kolmogorov distribution upper tail ``Q(lambda) = 2 sum_{k>=1}
    (-1)^{k-1} exp(-2 k^2 lambda^2)`` (first 100 terms, clamped to
    [0, 1]) — the KS p-value kernel, kept driver-side/pure so the SQL
    oracles can mirror the identical ascending-k summation.  Below
    lambda = 0.02 the truncated alternating series has not yet
    converged (at lambda = 0 every term is +-1 and the partial sum is
    garbage); the true tail there is 1 to >300 decimal places, so the
    kernel returns 1.0 — mirrored in the oracles."""
    if lam < 0.02:
        return 1.0
    q = 0.0
    for k in range(1, 101):
        q += (1.0 if k % 2 == 1 else -1.0) * math.exp(
            -2.0 * k * k * lam * lam)
    return min(1.0, max(0.0, 2.0 * q))


def _exactness_envelope(na: int, nb: int, fn_name: str) -> None:
    """Refuse past the envelope where the exact-rational claim holds.
    The cross-product numerators (``cum_a*nb - cum_b*na``) are exact
    in int64 and their conversion to double is exact only while
    ``na*nb < 2**53`` (both slices under ~95M rows); beyond that the
    statistic silently loses the bit-for-bit oracle guarantee, so —
    like :func:`kruskal_wallis`'s ``max_groups`` — the degradation is
    an instructive refusal, not a quiet approximation."""
    if na * nb >= 2 ** 53:
        raise ValueError(
            f"{fn_name}: n_a*n_b = {na}*{nb} exceeds 2^53, outside the "
            "exact-rational envelope (both slices must stay under "
            "~95M non-null rows). Pre-aggregate to a coarser value "
            "grid or compare uniform samples of the slices.")


def _two_group_counts(df: DataFrame, value_col: str, group_col: str,
                      group_a: str, group_b: str) -> DataFrame:
    """Distinct-value table ``(__v, __ca, __cb)`` for the two groups —
    the ONE scan every two-sample rank/ECDF statistic here reads; the
    result is bounded by the number of distinct values, not rows, and
    is eagerly checkpointed because totals, boundary sampling, and the
    prefix pass each consume it."""
    return (df.filter(F.col(value_col).isNotNull()
                      & F.col(group_col).isin(group_a, group_b))
            .groupBy(F.col(value_col).cast("double").alias("__v"))
            .agg(F.sum(F.when(F.col(group_col) == group_a, 1)
                       .otherwise(0)).alias("__ca"),
                 F.sum(F.when(F.col(group_col) == group_b, 1)
                       .otherwise(0)).alias("__cb"))
            .localCheckpoint(eager=True))


def ks_test(df: DataFrame, value_col: str, group_col: str,
            group_a: str, group_b: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov test: did the distribution of
    ``value_col`` shift between two slices?  The distribution-free
    drift gate — :func:`~.quality.distribution_drift`'s PSI needs a
    binning choice; KS's ``D = sup_x |F_a(x) - F_b(x)|`` does not, and
    its null law is exact, so "p < 0.01 -> hold the release" is a
    defensible automated gate.

    Statistic: ECDF gaps evaluated at every distinct value (where the
    sup is attained).  ``D`` is exact rational arithmetic — cumulative
    integer counts over integer totals — so the oracle hash-matches
    bit-for-bit.  The asymptotic p uses Stephens' (1970)
    effective-size correction ``lambda = (sqrt(ne) + 0.12 +
    0.11/sqrt(ne)) * D`` with ``ne = na*nb/(na+nb)`` and the
    Kolmogorov series ``Q(lambda) = 2 sum_{k>=1} (-1)^{k-1}
    exp(-2 k^2 lambda^2)`` (first 100 terms; clamped to [0, 1]).

    Plan: one input scan to per-distinct-value group counts (bounded
    by value cardinality), BOTH cumulatives from one value-bucketed
    prefix pass (shared :func:`_multi_cumsum` — no single-task
    window), one max aggregate.  Output: ONE row ``(n_a, n_b, d_stat,
    p_value)``; nulls when either group is empty."""
    spark = df.sparkSession
    counts = _two_group_counts(df, value_col, group_col,
                               group_a, group_b)
    tot = counts.agg(F.sum("__ca").alias("na"),
                     F.sum("__cb").alias("nb")).first()
    na, nb = int(tot["na"] or 0), int(tot["nb"] or 0)
    if na == 0 or nb == 0:
        return spark.sql(
            f"SELECT CAST({na} AS BIGINT) AS n_a, "
            f"CAST({nb} AS BIGINT) AS n_b, "
            "CAST(NULL AS DOUBLE) AS d_stat, "
            "CAST(NULL AS DOUBLE) AS p_value")
    _exactness_envelope(na, nb, "ks_test")
    cums = _multi_cumsum(counts)  # both prefixes, ONE boundary pass
    # D as an exact rational: max over values of
    # |cuma*nb - cumb*na| / (na*nb)  — integer numerator, so the max
    # is found in exact arithmetic and divided once
    dnum = cums.agg(F.max(F.abs(
        F.col("__cuma") * F.lit(nb) - F.col("__cumb") * F.lit(na)
    )).alias("m")).first()["m"]
    d = int(dnum) / (na * nb)
    ne = na * nb / (na + nb)
    lam = (math.sqrt(ne) + 0.12 + 0.11 / math.sqrt(ne)) * d
    p = _kolmogorov_sf(lam)
    return spark.sql(
        f"SELECT CAST({na} AS BIGINT) AS n_a, "
        f"CAST({nb} AS BIGINT) AS n_b, "
        f"round(CAST({d!r} AS DOUBLE), 6) AS d_stat, "
        f"round(CAST({p!r} AS DOUBLE), 6) AS p_value")


def ks_test_sliced(df: DataFrame, value_col: str, group_col: str,
                   group_a: str, group_b: str,
                   slice_col: str) -> DataFrame:
    """:func:`ks_test` per SLICE — the "did the distribution shift in
    ANY language/source/shard?" screen in ONE pass: one row per slice
    value, each an independent two-sample KS between ``group_a`` and
    ``group_b`` within that slice.  Feed the p column to
    :func:`bh_fdr` for the multiple-testing-corrected sweep.

    Same exact-rational D as the scalar op (integer cumulatives;
    ``|cum_a*nb - cum_b*na|`` max'd before the single division) and
    the same Stephens/Kolmogorov asymptotic p — but here the p SERIES
    evaluates as a column expression (``F.aggregate`` over the
    k = 1..100 term index), so NOTHING reaches the driver and the op
    scales to millions of slices.  The per-slice prefix is a window
    PARTITIONED by slice (parallelism = #slices; one slice's distinct
    values must fit a task — the standard partitioned-window bound,
    stated; quantize the value upstream for ultra-high-cardinality
    metrics).  The scalar op's 2^53 exactness envelope applies PER
    SLICE and is enforced with null-out rather than refusal (one huge
    slice must not kill a million-slice sweep): slices past the
    envelope report ``(n_a, n_b)`` with null ``d_stat``/``p_value``.
    Output: ``(<slice_col>, n_a, n_b, d_stat, p_value)``, one row per
    slice where either group has data; nulls when a group is empty in
    that slice."""
    from pyspark.sql import Window

    counts = (df.filter(F.col(value_col).isNotNull()
                        & F.col(slice_col).isNotNull()
                        & F.col(group_col).isin(group_a, group_b))
              .groupBy(F.col(slice_col).alias("__s"),
                       F.col(value_col).cast("double").alias("__v"))
              .agg(F.sum(F.when(F.col(group_col) == group_a, 1)
                         .otherwise(0)).alias("__ca"),
                   F.sum(F.when(F.col(group_col) == group_b, 1)
                         .otherwise(0)).alias("__cb")))
    w = (Window.partitionBy("__s").orderBy("__v")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    tot = Window.partitionBy("__s")
    cums = (counts
            .withColumn("__cuma", F.sum("__ca").over(w))
            .withColumn("__cumb", F.sum("__cb").over(w))
            .withColumn("__na", F.sum("__ca").over(tot))
            .withColumn("__nb", F.sum("__cb").over(tot)))
    # cross-products in DOUBLE: inside the 2^53 envelope every
    # intermediate (<= na*nb) is double-exact, and outside it the
    # arithmetic stays finite (a long product would throw on ANSI
    # overflow before the envelope null-out could apply)
    per = (cums.groupBy("__s")
           .agg(F.max("__na").alias("na"), F.max("__nb").alias("nb"),
                F.max(F.abs(F.col("__cuma").cast("double")
                            * F.col("__nb")
                            - F.col("__cumb").cast("double")
                            * F.col("__na")))
                .alias("dnum")))
    # DOUBLE product for the envelope test: a long*long product would
    # itself overflow under ANSI before the comparison for absurdly
    # large slices (>3e9 rows per group)
    ok = (F.col("na") > 0) & (F.col("nb") > 0) & \
        (F.col("na").cast("double") * F.col("nb") < F.lit(float(2 ** 53)))
    d = F.col("dnum") / (F.col("na").cast("double") * F.col("nb"))
    ne = (F.col("na").cast("double") * F.col("nb")
          / (F.col("na") + F.col("nb")))
    lam = (F.sqrt(ne) + 0.12 + 0.11 / F.sqrt(ne)) * d
    # Kolmogorov series as a column expression: ascending k, same
    # truncation and lambda < 0.02 convergence guard as the scalar op
    ks = F.array(*[F.lit(float(k)) for k in range(1, 101)])
    series = F.aggregate(
        ks, F.lit(0.0),
        lambda acc, k: acc
        + F.when(F.pmod(k, 2) == 1, F.lit(1.0)).otherwise(F.lit(-1.0))
        * F.exp(-2.0 * k * k * lam * lam))
    q = F.when(lam < 0.02, F.lit(1.0)).otherwise(
        F.least(F.lit(1.0), F.greatest(F.lit(0.0), 2.0 * series)))
    return per.select(
        F.col("__s").alias(slice_col),
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        F.round(F.when(ok, d), 6).alias("d_stat"),
        F.round(F.when(ok, q), 6).alias("p_value"))


def mann_whitney_u(df: DataFrame, value_col: str, group_col: str,
                   group_a: str, group_b: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) test: does one slice
    stochastically dominate the other?  The location companion of
    :func:`ks_test` (KS fires on ANY shape change; rank-sum asks the
    sharper "did the typical value move" and keeps power under heavy
    ties — quantized quality scores, integer ratings).

    Integer-exact core, no per-row ranks: with per-distinct-value
    counts ``c = ca + cb`` and inclusive prefix ``cum``, the average
    rank of a tie group is ``cum - (c - 1)/2``, so twice the rank sum
    ``2*Ra = sum ca * (2*cum - c + 1)`` is an EXACT long — summation
    order cannot perturb it, so ``U``, the tie term ``T = sum
    (c^3 - c)``, and hence ``z`` are bit-identical across engines.

    p-value (round 13, ``method`` column states the switch): with NO
    ties and ``max(n_a, n_b) <= tails.RANK_EXACT_MAX_N`` (25) the
    EXACT combinatorial null via the classic partial-sum DP
    (:func:`~.tails.mw_u_exact_p2` — the regime of the classical
    U critical tables, where the normal approximation can flip the
    decision); otherwise the tie-corrected normal (no continuity
    correction, ``sigma^2 = na*nb/12 * ((n + 1) - T/(n*(n-1)))``,
    A&S erf polynomial — the published large-sample test).  ``z`` is
    reported in both branches.

    Plan: one input scan to the distinct-value count table, one
    value-bucketed global prefix pass, one aggregate.  Output: ONE row
    ``(n_a, n_b, u_stat, z, p_value, method)`` (``z``/``p`` null when
    the variance degenerates — all values tied)."""
    from .windows import global_cumsum

    spark = df.sparkSession
    counts = _two_group_counts(df, value_col, group_col,
                               group_a, group_b)
    cums = global_cumsum(
        counts.withColumn("__c", F.col("__ca") + F.col("__cb")),
        "__v", "__c", "__cum")
    row = cums.agg(
        F.sum("__ca").alias("na"), F.sum("__cb").alias("nb"),
        F.sum(F.col("__ca")
              * (2 * F.col("__cum") - F.col("__c") + 1)).alias("ra2"),
        F.sum(F.col("__c") * F.col("__c") * F.col("__c")
              - F.col("__c")).alias("ties")).first()
    na, nb = int(row["na"] or 0), int(row["nb"] or 0)
    if na == 0 or nb == 0:
        return spark.sql(
            f"SELECT CAST({na} AS BIGINT) AS n_a, "
            f"CAST({nb} AS BIGINT) AS n_b, "
            "CAST(NULL AS DOUBLE) AS u_stat, "
            "CAST(NULL AS DOUBLE) AS z, "
            "CAST(NULL AS DOUBLE) AS p_value, "
            "CAST(NULL AS STRING) AS method")
    n = na + nb
    u2 = int(row["ra2"]) - na * (na + 1)  # 2*U, exact
    t = int(row["ties"])
    var = na * nb / 12.0 * ((n + 1) - t / (n * (n - 1)))
    if var <= 0:
        return spark.sql(
            f"SELECT CAST({na} AS BIGINT) AS n_a, "
            f"CAST({nb} AS BIGINT) AS n_b, "
            f"round(CAST({u2 / 2.0!r} AS DOUBLE), 6) AS u_stat, "
            "CAST(NULL AS DOUBLE) AS z, "
            "CAST(NULL AS DOUBLE) AS p_value, "
            "CAST(NULL AS STRING) AS method")
    z = (u2 - na * nb) / (2.0 * math.sqrt(var))
    if t == 0 and max(na, nb) <= _RANK_EXACT_MAX_N:
        p = _mw_u_exact_p2(u2, na, nb)
        method = "exact"
    else:
        p = _normal_sf2(z)
        method = "normal_approx"
    return spark.sql(
        f"SELECT CAST({na} AS BIGINT) AS n_a, "
        f"CAST({nb} AS BIGINT) AS n_b, "
        f"round(CAST({u2 / 2.0!r} AS DOUBLE), 6) AS u_stat, "
        f"round(CAST({z!r} AS DOUBLE), 6) AS z, "
        f"round(CAST({p!r} AS DOUBLE), 6) AS p_value, "
        f"'{method}' AS method")


def mann_whitney_sliced(df: DataFrame, value_col: str,
                        group_col: str, group_a: str, group_b: str,
                        slice_col: str) -> DataFrame:
    """:func:`mann_whitney_u` per SLICE — the NONPARAMETRIC member of
    the sweep family (r12): :func:`ks_test_sliced` screens shape,
    :func:`welch_t_sliced` screens the mean, this screens stochastic
    dominance under heavy ties (quantized scores, integer ratings) —
    the robust default when per-slice value distributions are skewed
    enough that a mean shift is the wrong question.

    The scalar op's integer-exact core survives slicing intact: per
    (slice, value) counts, the rank prefix runs in a window
    PARTITIONED BY the slice (bounded per-slice distinct values —
    never a single-task global sort; the million-slice contract), and
    ``2*Ra``/ties stay exact longs per slice so the oracle
    hash-matches bit-for-bit.  z and the two-sided p (A&S erf — the
    tie-corrected normal IS the published large-sample test for tied
    data; the SWEEP keeps it even at small per-slice n because the
    exact combinatorial null is a driver-side DP with no column
    spelling — drill into a flagged small slice with the scalar
    :func:`mann_whitney_u`, which since r13 reports the EXACT no-ties
    p there, ``method`` column) evaluate as projections.  Per-slice 2^53 envelope
    NULLs the slice out rather than killing the sweep (the
    ks_test_sliced convention).  Row inventory matches the other
    sweeps (isin pre-filter).  Output: ``(<slice_col>, n_a, n_b,
    u_stat, z, p_value)``."""
    from pyspark.sql import Window

    counts = (df.filter(F.col(value_col).isNotNull()
                        & F.col(slice_col).isNotNull()
                        & F.col(group_col).isin(group_a, group_b))
              .groupBy(F.col(slice_col).alias("__s"),
                       F.col(value_col).cast("double").alias("__v"))
              .agg(F.sum(F.when(F.col(group_col) == group_a, 1)
                         .otherwise(0)).alias("__ca"),
                   F.sum(F.when(F.col(group_col) == group_b, 1)
                         .otherwise(0)).alias("__cb")))
    w = (Window.partitionBy("__s").orderBy("__v")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = (counts.withColumn("__c", F.col("__ca") + F.col("__cb"))
           .withColumn("__cum", F.sum("__c").over(w)))
    per = (cum.groupBy("__s")
           .agg(F.sum("__ca").alias("na"), F.sum("__cb").alias("nb"),
                F.sum(F.col("__ca") * (2 * F.col("__cum")
                                       - F.col("__c") + 1))
                .alias("ra2"),
                F.sum(F.col("__c") * F.col("__c") * F.col("__c")
                      - F.col("__c")).alias("ties")))
    na, nb = F.col("na"), F.col("nb")
    n = na + nb
    # Cast BEFORE multiplying: long*long can wrap at extreme per-slice
    # counts (silently passing the guard in non-ANSI mode) and the
    # DuckDB oracle spells CAST(na AS DOUBLE) * nb — same computation
    # on both engines (round-12 ADVICE).
    ok = ((na > 0) & (nb > 0)
          & (na.cast("double") * nb < F.lit(2.0 ** 53)))
    u2 = F.col("ra2") - na * (na + 1)
    var = (na * nb / 12.0
           * ((n + 1) - F.col("ties") / (n * (n - 1))))
    z = (u2 - na * nb) / (2.0 * F.sqrt(var))
    x = F.abs(z) / math.sqrt(2.0)
    tt = 1.0 / (1.0 + 0.3275911 * x)
    poly = tt * (0.254829592 + tt * (-0.284496736 + tt * (
        1.421413741 + tt * (-1.453152027 + tt * 1.061405429))))
    p = F.least(F.lit(1.0), F.greatest(F.lit(0.0),
                                       poly * F.exp(-x * x)))
    okv = ok & (var > 0)
    return per.select(
        F.col("__s").alias(slice_col),
        na.cast("long").alias("n_a"),
        nb.cast("long").alias("n_b"),
        F.round(F.when(ok, u2 / 2.0), 6).alias("u_stat"),
        F.round(F.when(okv, z), 6).alias("z"),
        F.round(F.when(okv, p), 6).alias("p_value"))


def welch_t_test(df: DataFrame, value_col: str, group_col: str,
                 group_a: str, group_b: str) -> DataFrame:
    """Welch's unequal-variance t-test on the group means — the
    parametric member of the two-sample trio (rank-sum for location
    under ties, KS for shape, Welch for "did the MEAN move and by how
    much", which is what a cost/latency/score regression gate asks).
    Welch's form (not Student's pooled) because corpus slices almost
    never share a variance.

    ``t = (ma - mb) / sqrt(sa^2/na + sb^2/nb)`` with
    Welch-Satterthwaite degrees of freedom; two-sided p EXACT from the
    Student-t tail (:mod:`~.tails` regularized incomplete beta — the
    round-10 normal approximation diverged materially below n ~ 30,
    the very slices a curation gate most often tests; both engines now
    spell out the identical fixed-depth continued fraction).

    Plan: ONE conditional-aggregate pass — six partial aggregates, no
    shuffle beyond the final one-row reduce.  Output: ONE row
    ``(n_a, n_b, mean_a, mean_b, t_stat, dof, p_value)``."""
    spark = df.sparkSession
    va = F.when(F.col(group_col) == group_a, F.col(value_col))
    vb = F.when(F.col(group_col) == group_b, F.col(value_col))
    row = (df.filter(F.col(value_col).isNotNull())
           .agg(F.count(va).alias("na"), F.count(vb).alias("nb"),
                F.avg(va).alias("ma"), F.avg(vb).alias("mb"),
                F.var_samp(va).alias("sa"), F.var_samp(vb).alias("sb"))
           .first())
    na, nb = int(row["na"]), int(row["nb"])
    if na < 2 or nb < 2:
        # keep the means where they exist (n >= 1): the effect size is
        # still information even when the test is undefined
        def _m(v):
            return ("CAST(NULL AS DOUBLE)" if v is None
                    else f"round(CAST({float(v)!r} AS DOUBLE), 6)")

        return spark.sql(
            f"SELECT CAST({na} AS BIGINT) AS n_a, "
            f"CAST({nb} AS BIGINT) AS n_b, "
            f"{_m(row['ma'])} AS mean_a, "
            f"{_m(row['mb'])} AS mean_b, "
            "CAST(NULL AS DOUBLE) AS t_stat, "
            "CAST(NULL AS DOUBLE) AS dof, "
            "CAST(NULL AS DOUBLE) AS p_value")
    ma, mb = float(row["ma"]), float(row["mb"])
    wa, wb = float(row["sa"]) / na, float(row["sb"]) / nb
    if wa + wb <= 0:
        t_stat = dof = p = None
    else:
        t_stat = (ma - mb) / math.sqrt(wa + wb)
        dof = ((wa + wb) * (wa + wb)
               / (wa * wa / (na - 1) + wb * wb / (nb - 1)))
        p = _t_sf2(t_stat, dof)

    def _d(x):
        return ("CAST(NULL AS DOUBLE)" if x is None
                else f"round(CAST({x!r} AS DOUBLE), 6)")

    return spark.sql(
        f"SELECT CAST({na} AS BIGINT) AS n_a, "
        f"CAST({nb} AS BIGINT) AS n_b, "
        f"{_d(ma)} AS mean_a, {_d(mb)} AS mean_b, "
        f"{_d(t_stat)} AS t_stat, {_d(dof)} AS dof, "
        f"{_d(p)} AS p_value")


def welch_t_sliced(df: DataFrame, value_col: str, group_col: str,
                   group_a: str, group_b: str,
                   slice_col: str) -> DataFrame:
    """:func:`welch_t_test` per SLICE — the mean-shift sweep beside
    :func:`ks_test_sliced`'s shape sweep: one row per slice, each an
    independent Welch t between the two groups within that slice, with
    the EXACT Student-t p evaluated as a COLUMN computation
    (:mod:`~.tails`' fixed-depth incomplete-beta layers) so nothing
    reaches the driver (the same million-slice contract; feed
    ``p_value`` to :func:`bh_fdr`) — the exact tail matters HERE most
    of all: per-slice n is routinely small, where the old normal
    approximation was off by 5x (t = 2.5, dof = 4: 0.067 vs 0.012).

    Plan: ONE conditional-aggregate scan grouped by slice — six
    partial aggregates per slice, no windows, no joins; the t / dof
    closed forms and the tail layers are pure projections over that
    k-row table (the ~56 tail layers cost ~2 s of per-PLAN analyzer +
    codegen time, measured — amortized to nothing over a million
    slices).  Row inventory (round-12 unification): rows NOT in
    ``group_a``/``group_b`` are pre-filtered exactly like
    :func:`ks_test_sliced`, so a slice containing only other groups'
    rows is ABSENT from both sweeps and a join on the slice column
    composes cleanly (the bh_fdr protocol); slices where either group
    has n < 2 or the variance degenerates report their counts and
    means with null statistics.  Output: ``(<slice_col>, n_a, n_b,
    mean_a, mean_b, t_stat, dof, p_value)``."""
    va = F.when(F.col(group_col) == group_a, F.col(value_col))
    vb = F.when(F.col(group_col) == group_b, F.col(value_col))
    per = (df.filter(F.col(value_col).isNotNull()
                     & F.col(slice_col).isNotNull()
                     & F.col(group_col).isin(group_a, group_b))
           .groupBy(F.col(slice_col).alias("__s"))
           .agg(F.count(va).alias("na"), F.count(vb).alias("nb"),
                F.avg(va).alias("ma"), F.avg(vb).alias("mb"),
                F.var_samp(va).alias("sa"),
                F.var_samp(vb).alias("sb")))
    ok = (F.col("na") >= 2) & (F.col("nb") >= 2) & \
        ((F.col("sa") / F.col("na") + F.col("sb") / F.col("nb")) > 0)
    wa, wb = F.col("sa") / F.col("na"), F.col("sb") / F.col("nb")
    t_stat = (F.col("ma") - F.col("mb")) / F.sqrt(wa + wb)
    dof = ((wa + wb) * (wa + wb)
           / (wa * wa / (F.col("na") - 1)
              + wb * wb / (F.col("nb") - 1)))
    stats = per.select(
        "__s", "na", "nb", "ma", "mb",
        F.when(ok, t_stat).alias("__t"),
        F.when(ok, dof).alias("__dof"))
    tailed = apply_ibeta_layers(
        stats,
        [("0.5 * __dof", "0.5", "__dof / (__dof + __t * __t)",
          "__p")],
        keep=("__s", "na", "nb", "ma", "mb", "__t", "__dof"))
    return tailed.select(
        F.col("__s").alias(slice_col),
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        F.round(F.col("ma"), 6).alias("mean_a"),
        F.round(F.col("mb"), 6).alias("mean_b"),
        F.round(F.col("__t"), 6).alias("t_stat"),
        F.round(F.col("__dof"), 6).alias("dof"),
        F.round(F.col("__p"), 6).alias("p_value"))


def _normal_ppf(p: float) -> float:
    """Inverse standard-normal CDF via Acklam's rational approximation
    (|rel err| < 1.15e-9 — far below the 6-decimal output rounding);
    driver-side scalar only (the per-call z quantiles), mirrored into
    oracles as literals."""
    if not 0.0 < p < 1.0:
        raise ValueError(f"ppf needs 0 < p < 1, got {p}")
    a = (-3.969683028665376e+01, 2.209460984245205e+02,
         -2.759285104469687e+02, 1.383577518672690e+02,
         -3.066479806614716e+01, 2.506628277459239e+00)
    b = (-5.447609879822406e+01, 1.615858368580409e+02,
         -1.556989798598866e+02, 6.680131188771972e+01,
         -1.328068155288572e+01)
    c = (-7.784894002430293e-03, -3.223964580411365e-01,
         -2.400758277161838e+00, -2.549732539343734e+00,
         4.374664141464968e+00, 2.938163982698783e+00)
    d = (7.784695709041462e-03, 3.224671290700398e-01,
         2.445134137142996e+00, 3.754408661907416e+00)
    plow, phigh = 0.02425, 1 - 0.02425
    if p < plow:
        q = math.sqrt(-2 * math.log(p))
        return ((((((c[0] * q + c[1]) * q + c[2]) * q + c[3]) * q
                  + c[4]) * q + c[5])
                / ((((d[0] * q + d[1]) * q + d[2]) * q + d[3]) * q + 1))
    if p > phigh:
        return -_normal_ppf(1 - p)
    q = p - 0.5
    r = q * q
    return ((((((a[0] * r + a[1]) * r + a[2]) * r + a[3]) * r
              + a[4]) * r + a[5]) * q
            / (((((b[0] * r + b[1]) * r + b[2]) * r + b[3]) * r
                + b[4]) * r + 1))


def min_detectable_effect(df: DataFrame, value_col: str,
                          group_col: str, group_a: str, group_b: str,
                          slice_col: str, alpha: float = 0.05,
                          power: float = 0.8) -> DataFrame:
    """Minimum detectable effect per slice — the EXPERIMENT-DESIGN
    companion of the A/B layer: before reading a per-slice sweep
    (:func:`welch_t_sliced` / :func:`ks_test_sliced`), this table says
    which slices are even BIG enough to see a given shift — a
    non-significant p on a slice whose MDE is 8% of the mean is
    absence of power, not absence of effect.

    Closed form (two-sided level ``alpha``, target ``power``):
    ``mde = (z_{1-alpha/2} + z_{power}) * se`` with the observed Welch
    standard error ``se = sqrt(sa/na + sb/nb)``; ``mde_rel`` divides
    by |mean_a| for a percent-of-baseline reading.  The two normal
    quantiles are per-CALL scalars computed driver-side with Acklam's
    inverse (< 1.15e-9 rel. err, stated) and enter the plan as
    literals — the per-slice arithmetic is pure projection over ONE
    conditional-aggregate scan grouped by slice.  Row inventory
    (round-12 unification): rows NOT in ``group_a``/``group_b`` are
    pre-filtered exactly like :func:`ks_test_sliced` /
    :func:`welch_t_sliced`, so all three sweeps emit the SAME slice
    set and compose by a join on the slice column.  Output:
    ``(<slice_col>, n_a, n_b, mean_a, se, mde_abs, mde_rel)`` (nulls
    when a group has n < 2 or the variance degenerates)."""
    if not 0 < alpha < 1 or not 0 < power < 1:
        raise ValueError(
            f"alpha and power must be in (0,1), got {alpha}, {power}")
    zsum = _normal_ppf(1 - alpha / 2) + _normal_ppf(power)
    va = F.when(F.col(group_col) == group_a, F.col(value_col))
    vb = F.when(F.col(group_col) == group_b, F.col(value_col))
    per = (df.filter(F.col(value_col).isNotNull()
                     & F.col(slice_col).isNotNull()
                     & F.col(group_col).isin(group_a, group_b))
           .groupBy(F.col(slice_col).alias("__s"))
           .agg(F.count(va).alias("na"), F.count(vb).alias("nb"),
                F.avg(va).alias("ma"),
                F.var_samp(va).alias("sa"),
                F.var_samp(vb).alias("sb")))
    ok = (F.col("na") >= 2) & (F.col("nb") >= 2) & \
        ((F.col("sa") / F.col("na") + F.col("sb") / F.col("nb")) > 0)
    se = F.sqrt(F.col("sa") / F.col("na") + F.col("sb") / F.col("nb"))
    mde = F.lit(float(zsum)) * se
    return per.select(
        F.col("__s").alias(slice_col),
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        F.round(F.col("ma"), 6).alias("mean_a"),
        F.round(F.when(ok, se), 6).alias("se"),
        F.round(F.when(ok, mde), 6).alias("mde_abs"),
        F.round(F.when(ok & (F.abs(F.col("ma")) > 0),
                       mde / F.abs(F.col("ma"))), 6).alias("mde_rel"))


def tost_equivalence(df: DataFrame, value_col: str, group_col: str,
                     group_a: str, group_b: str,
                     margin: float) -> DataFrame:
    """TOST equivalence test (Schuirmann 1987, two one-sided tests):
    the gate :func:`welch_t_test` cannot be — a non-significant t says
    "no evidence of difference", which is NOT "evidence of no
    difference".  Before swapping in a cheaper scorer/tokenizer/decode
    path, the question is "is the mean shift provably inside ±margin?"
    and TOST answers it: test ``mu_a - mu_b > -margin`` AND ``mu_a -
    mu_b < +margin`` one-sided; equivalence holds at level alpha when
    BOTH reject, i.e. ``p_tost = max(p_lower, p_upper) < alpha``.

    Welch form throughout (same unequal-variance standard error, with
    the EXACT one-sided Student-t tails at the Welch-Satterthwaite
    dof since round 12 — :mod:`~.tails`): ``t_low = (d + margin) /
    se`` upper-tailed, ``t_high = (margin - d) / se`` upper-tailed per
    Schuirmann.  Plan: the SAME single conditional-aggregate scan as
    :func:`welch_t_test` — six partial aggregates, one-row reduce.
    Output: ONE row ``(n_a, n_b, diff, se, dof, margin, p_lower,
    p_upper, p_tost)`` (nulls when either group has n < 2 or the
    variance degenerates)."""
    if not margin > 0:
        raise ValueError(f"margin must be > 0, got {margin}")
    spark = df.sparkSession
    va = F.when(F.col(group_col) == group_a, F.col(value_col))
    vb = F.when(F.col(group_col) == group_b, F.col(value_col))
    row = (df.filter(F.col(value_col).isNotNull())
           .agg(F.count(va).alias("na"), F.count(vb).alias("nb"),
                F.avg(va).alias("ma"), F.avg(vb).alias("mb"),
                F.var_samp(va).alias("sa"), F.var_samp(vb).alias("sb"))
           .first())
    na, nb = int(row["na"]), int(row["nb"])
    d = se = dof = p_lo = p_hi = p_tost = None
    if na >= 2 and nb >= 2:
        wa, wb = float(row["sa"]) / na, float(row["sb"]) / nb
        if wa + wb > 0:
            d = float(row["ma"]) - float(row["mb"])
            se = math.sqrt(wa + wb)
            dof = ((wa + wb) * (wa + wb)
                   / (wa * wa / (na - 1) + wb * wb / (nb - 1)))
            # H01: d <= -margin, rejected by LARGE (d+margin)/se ->
            # upper tail; H02: d >= +margin, rejected by SMALL
            # (d-margin)/se -> lower tail == upper tail of its negation
            p_lo = _t_sf1((d + margin) / se, dof)
            p_hi = _t_sf1((margin - d) / se, dof)
            p_tost = max(p_lo, p_hi)

    def _d(x):
        return ("CAST(NULL AS DOUBLE)" if x is None
                else f"round(CAST({float(x)!r} AS DOUBLE), 6)")

    return spark.sql(
        f"SELECT CAST({na} AS BIGINT) AS n_a, "
        f"CAST({nb} AS BIGINT) AS n_b, "
        f"{_d(d)} AS diff, {_d(se)} AS se, {_d(dof)} AS dof, "
        f"{_d(float(margin))} AS margin, "
        f"{_d(p_lo)} AS p_lower, {_d(p_hi)} AS p_upper, "
        f"{_d(p_tost)} AS p_tost")


def tost_sliced(df: DataFrame, value_col: str, group_col: str,
                group_a: str, group_b: str, slice_col: str,
                margin: float) -> DataFrame:
    """:func:`tost_equivalence` per SLICE — the composition the
    one-row gate cannot answer: a tokenizer/scorer swap is approved
    when the metric is provably inside ±margin on EVERY language /
    source / shard, not merely in aggregate (Simpson's-paradox
    protection); feed ``p_tost`` to :func:`bh_fdr` exactly like the
    other sweeps.

    Per slice: Welch standard error and dof, Schuirmann's two
    one-sided tests with EXACT one-sided Student-t tails
    (:mod:`~.tails`), ``p_tost = max(p_lower, p_upper)``.  Plan: ONE
    conditional-aggregate scan grouped by slice (the same six partial
    aggregates as :func:`welch_t_sliced`), then the two tails ride
    ONE FUSED PACKED incomplete-beta chain (r14: packed layers +
    mid-chain checkpoints replace the r13 two-staged-chain spelling
    that the then-unpacked fused chain's codegen overflow forced —
    bit-identical values, ~1.8 s less plan constant, measured); the
    checkpointed relation is the BOUNDED per-slice
    table, never input rows.  Row inventory matches
    :func:`ks_test_sliced` / :func:`welch_t_sliced` /
    :func:`min_detectable_effect` (rows outside the two groups
    pre-filtered; the round-12 unification).  Output: ``(<slice_col>,
    n_a, n_b, diff, se, dof, margin, p_lower, p_upper, p_tost)``
    (nulls when either group has n < 2 or the variance
    degenerates)."""
    if not margin > 0:
        raise ValueError(f"margin must be > 0, got {margin}")
    va = F.when(F.col(group_col) == group_a, F.col(value_col))
    vb = F.when(F.col(group_col) == group_b, F.col(value_col))
    per = (df.filter(F.col(value_col).isNotNull()
                     & F.col(slice_col).isNotNull()
                     & F.col(group_col).isin(group_a, group_b))
           .groupBy(F.col(slice_col).alias("__s"))
           .agg(F.count(va).alias("na"), F.count(vb).alias("nb"),
                F.avg(va).alias("ma"), F.avg(vb).alias("mb"),
                F.var_samp(va).alias("sa"),
                F.var_samp(vb).alias("sb")))
    ok = (F.col("na") >= 2) & (F.col("nb") >= 2) & \
        ((F.col("sa") / F.col("na") + F.col("sb") / F.col("nb")) > 0)
    wa, wb = F.col("sa") / F.col("na"), F.col("sb") / F.col("nb")
    diff = F.col("ma") - F.col("mb")
    se = F.sqrt(wa + wb)
    dof = ((wa + wb) * (wa + wb)
           / (wa * wa / (F.col("na") - 1)
              + wb * wb / (F.col("nb") - 1)))
    mg = float(margin)
    stats = per.select(
        "__s", "na", "nb",
        # diff gated like the one-row op: null when the test is
        # undefined (row == scalar pinned in tests)
        F.when(ok, diff).alias("__diff"),
        F.when(ok, se).alias("__se"),
        F.when(ok, dof).alias("__dof"),
        F.when(ok, (diff + F.lit(mg)) / se).alias("__tlo"),
        F.when(ok, (F.lit(mg) - diff) / se).alias("__thi"))
    hi = apply_ibeta_layers(
        stats,
        [("0.5 * __dof", "0.5",
          "__dof / (__dof + __tlo * __tlo)", "__p2lo"),
         ("0.5 * __dof", "0.5",
          "__dof / (__dof + __thi * __thi)", "__p2hi")],
        keep=("__s", "na", "nb", "__diff", "__se", "__dof",
              "__tlo", "__thi"))
    p_lo = F.when(F.col("__tlo") >= 0, F.col("__p2lo") / 2.0) \
        .otherwise(1.0 - F.col("__p2lo") / 2.0)
    p_hi = F.when(F.col("__thi") >= 0, F.col("__p2hi") / 2.0) \
        .otherwise(1.0 - F.col("__p2hi") / 2.0)
    return hi.select(
        F.col("__s").alias(slice_col),
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        F.round(F.col("__diff"), 6).alias("diff"),
        F.round(F.col("__se"), 6).alias("se"),
        F.round(F.col("__dof"), 6).alias("dof"),
        F.round(F.lit(mg), 6).alias("margin"),
        F.round(p_lo, 6).alias("p_lower"),
        F.round(p_hi, 6).alias("p_upper"),
        F.round(F.greatest(p_lo, p_hi), 6).alias("p_tost"))


def chi_square_independence(df: DataFrame, col_x: str,
                            col_y: str) -> DataFrame:
    """Pearson chi-square test of independence between two categorical
    columns, with Cramer's V effect size — "is label distribution
    independent of source/shard/language?" (association between
    categorical metadata is the classic selection-bias tell in a
    training mix).

    ``chi2 = sum_cells (o - e)^2 / e`` with ``e = row_marginal *
    col_marginal / n`` over the FULL r x c grid — zero observed cells
    with positive expectation contribute (a left join from the
    marginal cross product supplies them; summing observed cells only
    is the classic wrong answer).  ``V = sqrt(chi2 / (n * (min(r,c) -
    1)))``.  ``p_value`` is EXACT since round 12: the round-10 claim
    that the incomplete gamma is "not portably expressible" fell to
    the same fixed-depth-kernel treatment as the t/F tails —
    :mod:`~.tails` ``Q(dof/2, chi2/2)`` runs identically driver-side
    and in the DuckDB oracle's generated WITH chain (WH retained only
    above dof = 1000, where its measured error is below output
    rounding).

    Plan: ONE input scan to the (x, y) contingency counts; marginals,
    grid, and the chi2 reduce all run on that label^2-bounded table
    (broadcast cross product — same justification as the agreement
    statistics' confusion grids); the one result row collects and the
    gamma kernel runs driver-side (libm).  Output: ONE row ``(n,
    n_rows, n_cols, chi2, dof, cramers_v, p_value)``."""
    obs = (df.filter(F.col(col_x).isNotNull() & F.col(col_y).isNotNull())
           .groupBy(F.col(col_x).cast("string").alias("__x"),
                    F.col(col_y).cast("string").alias("__y"))
           .agg(F.count(F.lit(1)).alias("__o"))
           .localCheckpoint(eager=True))
    if obs.isEmpty():  # keep the ONE-row contract on empty slices
        return df.sparkSession.sql(
            "SELECT CAST(0 AS BIGINT) AS n, "
            "CAST(0 AS BIGINT) AS n_rows, CAST(0 AS BIGINT) AS n_cols, "
            "CAST(NULL AS DOUBLE) AS chi2, CAST(0 AS BIGINT) AS dof, "
            "CAST(NULL AS DOUBLE) AS cramers_v, "
            "CAST(NULL AS DOUBLE) AS p_value")
    mx = obs.groupBy("__x").agg(F.sum("__o").alias("__nx"))
    my = obs.groupBy("__y").agg(F.sum("__o").alias("__ny"))
    tot = obs.agg(F.sum("__o").alias("__n"),
                  F.countDistinct("__x").alias("__r"),
                  F.countDistinct("__y").alias("__c"))
    grid = (mx.crossJoin(F.broadcast(my))
            .join(F.broadcast(obs), ["__x", "__y"], "left")
            .crossJoin(F.broadcast(tot)))
    e = F.col("__nx") * F.col("__ny") / F.col("__n")
    diff = F.coalesce(F.col("__o"), F.lit(0)) - e
    cell = diff * diff / e  # x*x, not pow(x,2): bit-identical in libm-free form
    row = (grid.groupBy("__n", "__r", "__c")
           .agg(F.sum(cell).alias("__chi2")).first())
    n, r, c = int(row["__n"]), int(row["__r"]), int(row["__c"])
    chi2 = None if row["__chi2"] is None else float(row["__chi2"])
    dof = (r - 1) * (c - 1)
    v = (math.sqrt(chi2 / (n * (min(r, c) - 1)))
         if chi2 is not None and min(r, c) > 1 and n > 0 else None)
    p = (_chi2_sf(chi2, float(dof))
         if chi2 is not None and dof > 0 else None)

    def _d(x):
        return ("CAST(NULL AS DOUBLE)" if x is None
                else f"round(CAST({float(x)!r} AS DOUBLE), 6)")

    return df.sparkSession.sql(
        f"SELECT CAST({n} AS BIGINT) AS n, "
        f"CAST({r} AS BIGINT) AS n_rows, "
        f"CAST({c} AS BIGINT) AS n_cols, "
        f"{_d(chi2)} AS chi2, CAST({dof} AS BIGINT) AS dof, "
        f"{_d(v)} AS cramers_v, {_d(p)} AS p_value")


def fisher_exact_2x2(df: DataFrame, col_x: str, col_y: str,
                     max_support: int = 100_000) -> DataFrame:
    """Fisher's EXACT test for a 2x2 contingency of two boolean
    columns — the small-expected-cell complement of
    :func:`chi_square_independence` (whose chi-square null is an
    asymptotic approximation that collapses exactly where a rare-flag
    x rare-flag audit lives: expected cells < 5).  Conditional on both
    margins, cell ``a`` is hypergeometric; p-values are SUMS of exact
    hypergeometric point probabilities, no distributional
    approximation at all (Fisher 1935 — the lady-tasting-tea design).

    Conventions (the R ``fisher.test`` ones, so results are
    comparable to every published analysis): ``p_two_sided`` sums all
    tables whose point probability is <= the observed table's times
    (1 + 1e-7) (the standard relative-error tolerance for float
    ties); ``p_greater``/``p_less`` are the one-sided tail sums on
    cell a; ``odds_ratio`` is the SAMPLE odds ratio ad/bc (null when
    b*c = 0), not the conditional MLE.

    Plan: ONE conditional-aggregate scan to the four cells; the
    hypergeometric support walk (kmax - kmin + 1 <= min(margins) + 1
    terms) runs driver-side on log-gamma arithmetic
    (:func:`~.tails.lgamma_lanczos` — the oracle replays the same
    Lanczos text inside an ascending generate_series sum, so the two
    engines add the same doubles in the same order).  ``max_support``
    refuses pathologically balanced huge tables (where the exact sum
    is large AND the chi-square approximation is already excellent —
    the refusal message says so); rare-flag audits live at support
    sizes in the hundreds.  Output: ONE row ``(n11, n12, n21, n22,
    odds_ratio, p_two_sided, p_greater, p_less)``."""
    from .tails import lgamma_lanczos as _lg

    spark = df.sparkSession
    x = F.col(col_x).cast("boolean")
    y = F.col(col_y).cast("boolean")
    row = (df.filter(x.isNotNull() & y.isNotNull())
           .agg(F.sum(F.when(x & y, 1).otherwise(0)).alias("a"),
                F.sum(F.when(x & ~y, 1).otherwise(0)).alias("b"),
                F.sum(F.when(~x & y, 1).otherwise(0)).alias("c"),
                F.sum(F.when(~x & ~y, 1).otherwise(0)).alias("d"))
           .first())
    a, b, c, d = (int(row["a"] or 0), int(row["b"] or 0),
                  int(row["c"] or 0), int(row["d"] or 0))
    r1, r2, c1 = a + b, c + d, a + c
    n = r1 + r2
    kmin, kmax = max(0, c1 - r2), min(r1, c1)

    def _fmt(v):
        return ("CAST(NULL AS DOUBLE)" if v is None
                else f"round(CAST({float(v)!r} AS DOUBLE), 6)")

    if n == 0 or r1 == 0 or r2 == 0 or c1 == 0 or c1 == n:
        # a degenerate margin: every table equals the observed one
        orat = (a * d) / (b * c) if b * c > 0 else None
        return spark.sql(
            f"SELECT CAST({a} AS BIGINT) AS n11, "
            f"CAST({b} AS BIGINT) AS n12, "
            f"CAST({c} AS BIGINT) AS n21, "
            f"CAST({d} AS BIGINT) AS n22, "
            f"{_fmt(orat)} AS odds_ratio, "
            "round(CAST(1.0 AS DOUBLE), 6) AS p_two_sided, "
            "round(CAST(1.0 AS DOUBLE), 6) AS p_greater, "
            "round(CAST(1.0 AS DOUBLE), 6) AS p_less")
    if kmax - kmin + 1 > max_support:
        raise ValueError(
            f"fisher_exact_2x2: hypergeometric support has "
            f"{kmax - kmin + 1} tables (> max_support={max_support}). "
            "At margins this large and balanced the chi-square "
            "approximation (chi_square_independence.p_value, exact "
            "incomplete-gamma tail) is already accurate; Fisher's "
            "exact sum is for the small-expected-cell regime.")
    lden = _lg(n + 1.0) - _lg(c1 + 1.0) - _lg(n - c1 + 1.0)

    def logp(k):
        return (_lg(r1 + 1.0) - _lg(k + 1.0) - _lg(r1 - k + 1.0)
                + _lg(r2 + 1.0) - _lg(c1 - k + 1.0)
                - _lg(r2 - c1 + k + 1.0) - lden)

    p_obs = math.exp(logp(a))
    thresh = p_obs * (1.0 + 1e-7)
    p_two = p_ge = p_le = 0.0
    for k in range(kmin, kmax + 1):
        pk = math.exp(logp(k))
        if pk <= thresh:
            p_two = p_two + pk
        if k >= a:
            p_ge = p_ge + pk
        if k <= a:
            p_le = p_le + pk
    p_two, p_ge, p_le = (min(1.0, p_two), min(1.0, p_ge),
                         min(1.0, p_le))
    orat = (a * d) / (b * c) if b * c > 0 else None
    return spark.sql(
        f"SELECT CAST({a} AS BIGINT) AS n11, "
        f"CAST({b} AS BIGINT) AS n12, "
        f"CAST({c} AS BIGINT) AS n21, "
        f"CAST({d} AS BIGINT) AS n22, "
        f"{_fmt(orat)} AS odds_ratio, "
        f"{_fmt(p_two)} AS p_two_sided, "
        f"{_fmt(p_ge)} AS p_greater, "
        f"{_fmt(p_le)} AS p_less")


def _fisher2x2_logp_sql(k_expr: str) -> str:
    """Log hypergeometric point probability of cell-a value ``k_expr``
    over per-row DOUBLE margin columns ``__fr1``/``__fr2``/``__fc1``
    and the precomputed ``__flden`` — token-for-token the scalar
    :func:`fisher_exact_2x2`'s ``logp`` (same Lanczos text, same term
    order), shared by the Spark sweep layers and the DuckDB oracle."""
    from .tails import lgamma_sql as _lgs

    return (f"({_lgs('__fr1 + 1.0')} - {_lgs(f'{k_expr} + 1.0')}"
            f" - {_lgs(f'__fr1 - {k_expr} + 1.0')}"
            f" + {_lgs('__fr2 + 1.0')}"
            f" - {_lgs(f'__fc1 - {k_expr} + 1.0')}"
            f" - {_lgs(f'__fr2 - __fc1 + {k_expr} + 1.0')}"
            f" - __flden)")


# Wilson-Hilferty chi-square upper tail as expression text over
# chi2/dof columns — token-for-token tails.chi2_sf's WH branch (the
# sliced sweep's stated approximation above CHI2_SLICED_EXACT_MAX_DOF;
# same A&S erf polynomial both engines).
def _chi2_wh_sql(chi2: str, dof: str) -> str:
    c2 = f"(2.0 / (9.0 * {dof}))"
    z = (f"((pow({chi2} / {dof}, 0.3333333333333333)"
         f" - (1.0 - {c2})) / sqrt({c2}))")
    xx = f"(abs({z}) / sqrt(2.0))"
    t = f"(1.0 / (1.0 + 0.3275911 * {xx}))"
    poly = (f"({t} * (0.254829592 + {t} * (-0.284496736 + {t} * ("
            f"1.421413741 + {t} * (-1.453152027 + {t}"
            f" * 1.061405429)))))")
    sf2 = (f"least(1.0, greatest(0.0, {poly}"
           f" * exp(-{xx} * {xx})))")
    return (f"(CASE WHEN {z} >= 0.0 THEN {sf2} / 2.0 "
            f"ELSE 1.0 - {sf2} / 2.0 END)")


def chi_square_sliced(df: DataFrame, x_col: str, y_col: str,
                      slice_col: str,
                      fisher_max_support: int = 10_000) -> DataFrame:
    """:func:`chi_square_independence` per SLICE — the CATEGORICAL
    member of the sweep family (round 13; KS: shape, Welch: mean,
    Mann-Whitney: dominance, TOST: equivalence, this: "did the
    label x source association shift in any shard/language?"): one
    row per slice, each an independent r x c independence test over
    that slice's own label grid, with small-expected-cell slices
    falling back to FISHER'S EXACT 2x2 — the regime where the
    chi-square null collapses is exactly the rare-flag x rare-flag
    audit a per-slice drill-down hits.

    Plan: ONE input scan to per-(slice, x, y) counts; marginals and
    the full per-slice grid (zero observed cells with positive
    expectation INCLUDED — the left join from the marginal product
    supplies them, as in the scalar) via slice-keyed joins, every
    intermediate bounded by labels^2 per slice (never a global
    single task — the million-slice contract); then pure projections:

    * ``method = 'chi2_exact'``: exact ``Q(dof/2, chi2/2)`` as ~75
      incomplete-gamma COLUMN layers
      (:func:`~.tails.apply_igamma_layers` at IG_SLICED_ITER = 70 —
      exact to 1.1e-13 for dof <= CHI2_SLICED_EXACT_MAX_DOF = 150,
      measured; the reduced depth keeps one kernel under the JVM
      codegen ceiling, stated).
    * ``method = 'chi2_wh'``: Wilson-Hilferty above dof 150 (a
      13 x 14-label grid before it engages — stated approximation,
      same spelling both engines).
    * ``method = 'fisher_exact'``: for 2 x 2 slices with
      ``min_expected < 5`` and hypergeometric support <=
      ``fisher_max_support``: the exact conditional two-sided p
      (R convention, point probabilities <= observed * (1 + 1e-7)),
      evaluated as ONE ``aggregate(sequence(kmin, kmax), ...)``
      column fold in ascending k — the same doubles in the same
      order as the scalar :func:`fisher_exact_2x2` driver loop and
      the DuckDB oracle's ``list_sum`` (support stays bounded by the
      smaller margin; a slice over the cap keeps the chi-square p
      with its ``min_expected`` visible instead of killing the sweep
      — the sweep analogue of the scalar's ``max_support`` refusal,
      stated).

    Cell layout for the Fisher fallback: rows/columns ordered by the
    slice's SORTED labels (a = (min_x, min_y)); the two-sided p is
    invariant under any relabeling, so it equals the scalar op's
    ``p_two_sided`` regardless of which level is "positive" (pinned).

    Output: ``(<slice_col>, n, n_rows, n_cols, chi2, dof,
    cramers_v, min_expected, method, p_value)``; one-label slices
    keep their row with null statistics; feed ``p_value`` to
    :func:`bh_fdr`."""
    from .tails import CHI2_SLICED_EXACT_MAX_DOF, IG_SLICED_ITER, \
        apply_igamma_layers

    obs = (df.filter(F.col(x_col).isNotNull()
                     & F.col(y_col).isNotNull()
                     & F.col(slice_col).isNotNull())
           .groupBy(F.col(slice_col).alias("__sl"),
                    F.col(x_col).cast("string").alias("__x"),
                    F.col(y_col).cast("string").alias("__y"))
           .agg(F.count(F.lit(1)).alias("__o"))
           # eager checkpoint, as in the scalar op: the count table is
           # the BOUNDED intermediate (labels^2 per slice) consumed
           # four times below — one materialization beats four input
           # scans AND cuts the self-join lineage ambiguity
           .localCheckpoint(eager=True))
    mx = obs.groupBy("__sl", "__x").agg(F.sum("__o").alias("__nx"))
    my = obs.groupBy("__sl", "__y").agg(F.sum("__o").alias("__ny"))
    tot = obs.groupBy("__sl").agg(
        F.sum("__o").alias("__n"),
        F.countDistinct("__x").alias("__r"),
        F.countDistinct("__y").alias("__c"),
        F.min("__x").alias("__x1"), F.max("__x").alias("__x2"),
        F.min("__y").alias("__y1"), F.max("__y").alias("__y2"))
    grid = (mx.join(my, "__sl")
            .join(obs, ["__sl", "__x", "__y"], "left")
            .join(tot, "__sl"))
    e = F.col("__nx") * F.col("__ny") / F.col("__n")
    o0 = F.coalesce(F.col("__o"), F.lit(0))
    diff = o0 - e
    cell = diff * diff / e  # x*x, not pow: same form as the scalar
    is_cell = [
        ((F.col("__x") == F.col("__x1"))
         & (F.col("__y") == F.col("__y1"))),
        ((F.col("__x") == F.col("__x1"))
         & (F.col("__y") == F.col("__y2"))),
        ((F.col("__x") == F.col("__x2"))
         & (F.col("__y") == F.col("__y1"))),
        ((F.col("__x") == F.col("__x2"))
         & (F.col("__y") == F.col("__y2")))]
    per = (grid.groupBy("__sl")
           .agg(F.first("__n").alias("n"),
                F.first("__r").alias("r"),
                F.first("__c").alias("c"),
                F.sum(cell).alias("chi2"),
                F.min(e).alias("min_e"),
                *[F.sum(F.when(cond, o0).otherwise(0)).alias(nm)
                  for nm, cond in zip(("fa", "fb", "fc", "fd"),
                                      is_cell)]))
    stats = per.select(
        "__sl", "n", "r", "c", "chi2", "min_e",
        "fa", "fb", "fc", "fd",
        ((F.col("r") - 1) * (F.col("c") - 1))
        .cast("double").alias("dof"))
    # eager checkpoint of the BOUNDED per-slice row table (one row per
    # slice) before the tail layers: each selectExpr layer re-analyzes
    # its whole child tree, and 75 layers stacked on the live
    # join/aggregate subtree cost ~10 s of pure analyzer time per
    # sweep (measured) vs ~1 s on a checkpointed leaf — the same
    # staging discipline as tost_sliced's two chains
    stats = stats.localCheckpoint(eager=True)
    keep = ("__sl", "n", "r", "c", "chi2", "min_e",
            "fa", "fb", "fc", "fd", "dof")
    # NARROW chain: only (__sl, chi2, dof) thread the 75 layers (the
    # analyzer cost scales with columns x layers — measured ~35 ms per
    # selectExpr at full width); the other per-slice columns rejoin
    # from the checkpointed stats table via a broadcast hash join on
    # the slice key afterwards.
    tailed_q = apply_igamma_layers(
        stats.select("__sl", "chi2", "dof"),
        "0.5 * dof", "0.5 * chi2", keep=("__sl",), out="__q",
        iters=IG_SLICED_ITER, checkpoint_every=25)
    tailed = stats.join(F.broadcast(tailed_q.select("__sl", "__q")),
                        "__sl")
    lpk = _fisher2x2_logp_sql("CAST(kk AS DOUBLE)")
    lpa = _fisher2x2_logp_sql("CAST(fa AS DOUBLE)")
    from .tails import lgamma_sql as _lgs
    fisher = (
        tailed
        .selectExpr(
            *keep, "__q",
            "CAST(fa + fb AS DOUBLE) AS __fr1",
            "CAST(fc + fd AS DOUBLE) AS __fr2",
            "CAST(fa + fc AS DOUBLE) AS __fc1")
        .selectExpr(
            *keep, "__q", "__fr1", "__fr2", "__fc1",
            "greatest(0.0, __fc1 - __fr2) AS __fkmin",
            "least(__fr1, __fc1) AS __fkmax",
            # the 2x2 CASE guard is load-bearing: on non-2x2 slices
            # the min/max pseudo-cells make a lgamma argument
            # negative, which DuckDB's ln REFUSES (error, not NULL)
            # — both engines must skip the branch lazily
            "(CASE WHEN r = 2 AND c = 2 THEN "
            f"({_lgs('CAST(n AS DOUBLE) + 1.0')}"
            f" - {_lgs('__fc1 + 1.0')}"
            f" - {_lgs('CAST(n AS DOUBLE) - __fc1 + 1.0')})"
            " ELSE NULL END) AS __flden")
        .selectExpr(
            *keep, "__q", "__fr1", "__fr2", "__fc1", "__fkmin",
            "__fkmax", "__flden",
            "(r = 2 AND c = 2 AND min_e < 5.0 AND"
            f" (__fkmax - __fkmin + 1.0)"
            f" <= {float(fisher_max_support)!r}) AS __fok",
            "(CASE WHEN r = 2 AND c = 2 THEN "
            f"(exp({lpa}) * (1.0 + 1e-07)) ELSE NULL END) AS __fth")
        .selectExpr(
            *keep, "__q", "__fok",
            "(CASE WHEN __fok THEN least(1.0, aggregate("
            "sequence(CAST(__fkmin AS BIGINT),"
            " CAST(__fkmax AS BIGINT)),"
            " CAST(0.0 AS DOUBLE),"
            f" (acc, kk) -> acc + (CASE WHEN exp({lpk}) <= __fth"
            f" THEN exp({lpk}) ELSE 0.0 END)))"
            " ELSE NULL END) AS __fp")
        .selectExpr(
            *keep, "__q", "__fok", "__fp",
            f"(CASE WHEN chi2 IS NULL OR dof <= 0.0 THEN NULL"
            f" WHEN __fok THEN 'fisher_exact'"
            f" WHEN dof <= {CHI2_SLICED_EXACT_MAX_DOF!r}"
            f" THEN 'chi2_exact'"
            f" ELSE 'chi2_wh' END) AS method",
            f"(CASE WHEN chi2 IS NULL OR dof <= 0.0 THEN NULL"
            f" WHEN __fok THEN __fp"
            f" WHEN dof <= {CHI2_SLICED_EXACT_MAX_DOF!r} THEN __q"
            f" ELSE {_chi2_wh_sql('chi2', 'dof')} END) AS __p"))
    return fisher.select(
        F.col("__sl").alias(slice_col),
        F.col("n").cast("long").alias("n"),
        F.col("r").cast("long").alias("n_rows"),
        F.col("c").cast("long").alias("n_cols"),
        F.round(F.col("chi2"), 6).alias("chi2"),
        F.col("dof").cast("long").alias("dof"),
        F.round(F.when((F.least("r", "c") > 1) & (F.col("n") > 0),
                       F.sqrt(F.col("chi2")
                              / (F.col("n")
                                 * (F.least("r", "c") - F.lit(1))))),
                6).alias("cramers_v"),
        F.round(F.col("min_e"), 6).alias("min_expected"),
        F.col("method"),
        F.round(F.col("__p"), 6).alias("p_value"))


# Poisson(1) inverse-CDF thresholds: cumulative exp(-1)/k! for k=0..8
# (mass beyond 9 is < 1.1e-7); a 48-bit md5 uniform >= threshold[k]
# adds 1 to the weight, so w = sum of 9 comparisons — pure integer
# adds, identical in Spark and the SQL oracles.
_POISSON1_CDF = [0.36787944117144233, 0.7357588823428847,
                 0.9196986029286058, 0.9810118431238463,
                 0.9963401531726563, 0.9994058151824183,
                 0.9999167588507119, 0.9999897508033253,
                 0.999998874797402]


def bootstrap_ci(df: DataFrame, value_col: str, id_col: str,
                 n_boot: int = 200, conf: float = 0.95,
                 salt: str = "") -> DataFrame:
    """Poisson-bootstrap confidence interval for the MEAN of a column
    — the error bar every "quality went from 0.61 to 0.63" claim
    needs.  The Poisson bootstrap (Hanley & MacGibbon 2006) replaces
    multinomial resampling (which needs the global n up front and
    coordinated draws) with independent per-row Poisson(1) replicate
    weights — embarrassingly parallel, which is exactly why it is the
    bootstrap that survives sharded data.

    Determinism contract (same as :func:`~.quality.dp_noisy_counts`):
    weights come from ``md5(id, replicate, salt)`` through the
    Poisson(1) inverse CDF, so reruns and the SQL oracle reproduce the
    draw exactly; vary ``salt`` for fresh randomness.

    Plan: one scan with a ``sequence(0, n_boot-1)`` explode — a
    CPU-side xn_boot amplification that partial-aggregates map-side,
    so the SHUFFLE carries only n_boot x partitions partial rows and
    the reduce is an n_boot-row table; the percentile over replicate
    means is exact on that bounded table.  No collect of data rows, no
    driver loop.  Output: ONE row ``(n_items, n_boot, mean, ci_lo,
    ci_hi)``."""
    if not 0 < conf < 1:
        raise ValueError(f"conf must be in (0,1), got {conf}")
    if n_boot < 2:
        raise ValueError(f"n_boot must be >= 2, got {n_boot}")
    base = (df.filter(F.col(value_col).isNotNull())
            .select(F.col(id_col).cast("string").alias("__id"),
                    F.col(value_col).cast("double").alias("__v")))
    reps = base.withColumn(
        "__r", F.explode(F.sequence(F.lit(0), F.lit(n_boot - 1))))
    u = (F.conv(F.substring(F.md5(F.concat_ws(
        "\x1f", F.col("__id"), F.col("__r").cast("string"),
        F.lit(salt))), 1, 12), 16, 10).cast("double")
        / F.lit(float(1 << 48)))
    w = sum((u >= F.lit(c)).cast("int") for c in _POISSON1_CDF)
    means = (reps.withColumn("__w", w)
             .groupBy("__r")
             .agg(F.sum(F.col("__w") * F.col("__v")).alias("__sw"),
                  F.sum("__w").alias("__w"))
             .select(F.try_divide("__sw", "__w").alias("__m")))
    alpha = (1.0 - conf) / 2.0
    stats = base.agg(F.count(F.lit(1)).alias("n_items"),
                     F.avg("__v").alias("__mean"))
    return (stats.crossJoin(F.broadcast(
        means.agg(
            F.percentile("__m", F.lit(alpha)).alias("__lo"),
            F.percentile("__m", F.lit(1.0 - alpha)).alias("__hi"))))
        .select("n_items",
                F.lit(n_boot).cast("long").alias("n_boot"),
                # 4 decimals, not the house 6: the replicate means are
                # large-magnitude float sums whose engine-order ulp
                # drift can reach ~1e-6 absolute; an error bar loses
                # nothing at 1e-4
                F.round("__mean", 4).alias("mean"),
                F.round("__lo", 4).alias("ci_lo"),
                F.round("__hi", 4).alias("ci_hi")))


def _normal_sf1(z: float) -> float:
    """One-sided upper tail P(Z > z) from the two-sided helper."""
    return _normal_sf2(z) / 2.0 if z >= 0 else 1.0 - _normal_sf2(z) / 2.0


def icc_2_1(df: DataFrame, item_col: str, rater_col: str,
            score_col: str) -> DataFrame:
    """Intraclass correlation ICC(2,1) (Shrout & Fleiss 1979: two-way
    random effects, absolute agreement, single rater) — the CONTINUOUS
    member of the agreement family (:func:`~.quality.cohen_kappa` /
    Fleiss / Krippendorff cover categorical labels; when k model
    judges emit real-valued quality scores, ICC answers "do the judges
    agree on absolute score, not just ranking?").

    ANOVA decomposition on the COMPLETE n x k grid (items rated by
    every rater; incomplete items are dropped and counted — the
    standard Shrout-Fleiss complete-case convention; repeated ratings
    by one rater on one item collapse to their mean first):

        icc = (BMS - EMS) / (BMS + (k-1) EMS + k (JMS - EMS) / n)

    with BMS/JMS/EMS the between-item / between-rater / residual mean
    squares.  Plan: one scan to the kept (item, rater, score) cells
    (the completeness filter is a value-partitioned window count);
    SST and the grand mean are one aggregate; the item sum-of-squares
    partial-aggregates to item-count rows, the rater table is k rows —
    no collect beyond the final scalars.  Output: ONE row
    ``(n_items, k_raters, n_dropped, bms, jms, ems, icc)`` (nulls when
    fewer than 2 items/raters survive or the grid degenerates)."""
    return _icc_form(df, item_col, rater_col, score_col, form="2,1")


def _icc_mean_squares(kept: DataFrame, n: int, k: int,
                      m: float) -> tuple:
    """The Shrout-Fleiss ANOVA partials over a complete n x k grid of
    (item __it, rater __r, score __x) cells: between-item BMS,
    between-rater JMS, two-way residual EMS, and the one-way
    within-item WMS — everything all three single-rater ICC forms
    consume.  SST and the two marginal sums of squares ride ONE
    union-tagged aggregate action over the checkpointed grid (round
    14 — the three separate actions each paid a driver round trip;
    the per-term squared-deviation arithmetic is unchanged and the
    trailing *k / *n products multiply the same summed double);
    only scalars reach the driver."""
    lm = F.lit(m)
    tagged = (
        kept.select(F.lit(0).alias("__t"),
                    ((F.col("__x") - lm) * (F.col("__x") - lm))
                    .alias("__s"))
        .unionByName(
            kept.groupBy("__it").agg(F.avg("__x").alias("mi"))
            .select(F.lit(1).alias("__t"),
                    ((F.col("mi") - lm) * (F.col("mi") - lm))
                    .alias("__s")))
        .unionByName(
            kept.groupBy("__r").agg(F.avg("__x").alias("mj"))
            .select(F.lit(2).alias("__t"),
                    ((F.col("mj") - lm) * (F.col("mj") - lm))
                    .alias("__s"))))
    by = {int(r["__t"]): float(r["s"])
          for r in tagged.groupBy("__t").agg(F.sum("__s").alias("s"))
          .collect()}
    sst = by[0]
    ssr = by[1] * k
    ssc = by[2] * n
    bms = ssr / (n - 1)
    jms = ssc / (k - 1)
    ems = (sst - ssr - ssc) / ((n - 1) * (k - 1))
    wms = (sst - ssr) / (n * (k - 1))
    return bms, jms, ems, wms


def icc_1_1(df: DataFrame, item_col: str, rater_col: str,
            score_col: str) -> DataFrame:
    """ICC(1,1) (Shrout & Fleiss 1979: one-way random effects, single
    rater) — the member for when each item may be scored by a
    DIFFERENT random set of judges, so rater identity carries no
    information and rater variance cannot be separated out:

        icc = (BMS - WMS) / (BMS + (k-1) WMS)

    with WMS the one-way within-item mean square ``(SST - SSR) /
    (n (k-1))``.  Lowest of the three forms on the same data (rater
    main effects count against agreement twice).  Same complete-case
    grid, partials, and plan as :func:`icc_2_1`; output ONE row
    ``(n_items, k_raters, n_dropped, bms, wms, icc)``."""
    return _icc_form(df, item_col, rater_col, score_col, form="1,1")


def icc_3_1(df: DataFrame, item_col: str, rater_col: str,
            score_col: str) -> DataFrame:
    """ICC(3,1) (Shrout & Fleiss 1979: two-way mixed effects,
    consistency, single rater) — the member for a FIXED judge panel
    where calibration offsets between judges are fine and only
    consistency of ordering/spacing matters:

        icc = (BMS - EMS) / (BMS + (k-1) EMS)

    (the :func:`icc_2_1` formula minus the rater-variance penalty
    term, so it is the highest of the three forms on the same data).
    Same complete-case grid, partials, and plan as :func:`icc_2_1`;
    output ONE row ``(n_items, k_raters, n_dropped, bms, ems, icc)``."""
    return _icc_form(df, item_col, rater_col, score_col, form="3,1")


def icc_all_forms(df: DataFrame, item_col: str, rater_col: str,
                  score_col: str) -> DataFrame:
    """All three Shrout-Fleiss single-rater forms from ONE grid scan
    and one set of ANOVA partials (each ``icc_*_1`` call builds and
    checkpoints its own complete-case grid; when you want the whole
    family — the usual reporting case — this computes the shared
    sums of squares once, ~3x cheaper).  Output: ONE row
    ``(n_items, k_raters, n_dropped, icc11, icc21, icc31)``."""
    return _icc_form(df, item_col, rater_col, score_col, form="all")


def _icc_form(df: DataFrame, item_col: str, rater_col: str,
              score_col: str, form: str) -> DataFrame:
    """The one ICC plan behind ICC(1,1)/(2,1)/(3,1)/all: the complete-case
    grid, its ANOVA partials and one output row.  Each single form
    reports the mean squares its formula uses (ICC(2,1) all three of
    BMS/JMS/EMS); ``all`` reports the three ICCs."""
    from pyspark.sql import Window

    spark = df.sparkSession
    cells = (df.filter(F.col(item_col).isNotNull()
                       & F.col(rater_col).isNotNull()
                       & F.col(score_col).isNotNull())
             .groupBy(F.col(item_col).alias("__it"),
                      F.col(rater_col).alias("__r"))
             .agg(F.avg(F.col(score_col).cast("double")).alias("__x"))
             # item x rater-bounded; the k/item-count aggregate and the
             # completeness window BOTH consume it — unmaterialized,
             # each action re-ran the input scan + union + cell
             # aggregate (round 14: 3 input scans -> 1)
             .localCheckpoint(eager=True))
    # duplicates per (item, rater) collapse to their mean, so the
    # completeness window-count below counts RATERS, not rows; the
    # total distinct-item count rides the same action (it only feeds
    # n_dropped, and saves the third scan a standalone count paid)
    card = cells.agg(F.countDistinct("__r").alias("k"),
                     F.countDistinct("__it").alias("it")).first()
    k = int(card["k"] or 0)
    total_items = int(card["it"] or 0)
    kept = (cells
            .withColumn("__cnt", F.count(F.lit(1)).over(
                Window.partitionBy("__it")))
            .filter(F.col("__cnt") == k).drop("__cnt")
            .localCheckpoint(eager=True))
    tot = kept.agg(F.avg("__x").alias("m"),
                   F.countDistinct("__it").alias("n")).first()
    n = int(tot["n"] or 0)
    dropped = total_items - n if k > 0 else 0
    head = (f"SELECT CAST({n} AS BIGINT) AS n_items, "
            f"CAST({k} AS BIGINT) AS k_raters, "
            f"CAST({dropped} AS BIGINT) AS n_dropped, ")
    cols = {"1,1": ("bms", "wms", "icc"), "2,1": ("bms", "jms", "ems", "icc"),
            "3,1": ("bms", "ems", "icc"),
            "all": ("icc11", "icc21", "icc31")}[form]
    if n < 2 or k < 2:
        return spark.sql(head + ", ".join(
            f"CAST(NULL AS DOUBLE) AS {c}" for c in cols))
    bms, jms, ems, wms = _icc_mean_squares(kept, n, k,
                                           float(tot["m"]))

    def _ratio(num, den):
        return num / den if den != 0 else None

    def _d(x):
        return ("CAST(NULL AS DOUBLE)" if x is None
                else f"round(CAST({x!r} AS DOUBLE), 6)")

    icc = {"1,1": _ratio(bms - wms, bms + (k - 1) * wms),
           "2,1": _ratio(bms - ems,
                         bms + (k - 1) * ems + k * (jms - ems) / n),
           "3,1": _ratio(bms - ems, bms + (k - 1) * ems)}
    vals = {"bms": bms, "jms": jms, "ems": ems, "wms": wms,
            "icc": icc.get(form), "icc11": icc["1,1"],
            "icc21": icc["2,1"], "icc31": icc["3,1"]}
    return spark.sql(head + ", ".join(f"{_d(vals[c])} AS {c}" for c in cols))


def _multi_cumsum(counts: DataFrame) -> DataFrame:
    """One value-bucketed pass computing the three prefixes the
    Wasserstein grid needs over the (__v, __ca, __cb) count table —
    inclusive cumulatives __cuma/__cumb and the distinct-value ordinal
    __ord — instead of three chained :func:`~.windows.global_cumsum`
    calls each re-paying the boundary sample, offset collect, and
    window scan (reviewed: 3x the jobs on exactly the large inputs the
    two-phase machinery exists for)."""
    from pyspark.sql import Window

    from .windows import _value_buckets

    keyed = counts.withColumn("__k0", F.col("__v"))
    spark = counts.sparkSession
    parts = _value_buckets(keyed, spark.sparkContext.defaultParallelism)
    per = {r["__pid"]: (int(r["a"] or 0), int(r["b"] or 0), int(r["n"]))
           for r in parts.groupBy("__pid")
           .agg(F.sum("__ca").alias("a"), F.sum("__cb").alias("b"),
                F.count(F.lit(1)).alias("n")).collect()}
    offs_a, offs_b, offs_n = [], [], []
    acc_a = acc_b = acc_n = 0
    for pid in range(max(per) + 1 if per else 0):
        offs_a.append(acc_a)
        offs_b.append(acc_b)
        offs_n.append(acc_n)
        a, b, n = per.get(pid, (0, 0, 0))
        acc_a += a
        acc_b += b
        acc_n += n
    w = (Window.partitionBy("__pid").orderBy("__k0")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))

    def off(vals):
        return F.element_at(F.array(*[F.lit(v) for v in (vals or [0])]),
                            F.col("__pid") + 1)

    return (parts
            .withColumn("__cuma", F.sum("__ca").over(w) + off(offs_a))
            .withColumn("__cumb", F.sum("__cb").over(w) + off(offs_b))
            .withColumn("__ord", F.count(F.lit(1)).over(w) + off(offs_n))
            .drop("__pid", "__k0"))


def wasserstein_1d(df: DataFrame, value_col: str, group_col: str,
                   group_a: str, group_b: str) -> DataFrame:
    """1-D Wasserstein-1 (earth mover's) distance between two slices —
    the INTEGRAL companion of :func:`ks_test`'s sup: ``W1 = integral
    |F_a - F_b| dx``, i.e. how much mass moved times HOW FAR, in the
    value's own units (a 2% tail excursion that KS barely sees but
    that doubles the max document length shows up here; conversely a
    tiny vertical gap spread over a long range is W1-visible,
    KS-invisible).

    Closed form on the distinct-value grid: between consecutive
    values the ECDFs are constant, so ``W1 = sum_i (x_{i+1} - x_i) *
    |F_a(x_i) - F_b(x_i)|`` — the vertical gaps are exact rationals
    (integer cumulative counts), each term multiplies one float gap,
    and the single division by ``na*nb`` happens once at the end.

    Plan: the KS count table with ONE boundary pass computing all
    three prefixes (both group cumulatives plus the distinct-value
    ORDINAL, a cumsum of ones) in a single bucketed projection —
    consecutive-value pairing becomes an equi-join on ordinal+1, no
    window, no driver-side sort.  Output: ONE row ``(n_a, n_b, w1)``."""
    spark = df.sparkSession
    counts = _two_group_counts(df, value_col, group_col,
                               group_a, group_b)
    tot = counts.agg(F.sum("__ca").alias("na"),
                     F.sum("__cb").alias("nb")).first()
    na, nb = int(tot["na"] or 0), int(tot["nb"] or 0)
    if na == 0 or nb == 0:
        return spark.sql(
            f"SELECT CAST({na} AS BIGINT) AS n_a, "
            f"CAST({nb} AS BIGINT) AS n_b, "
            "CAST(NULL AS DOUBLE) AS w1")
    _exactness_envelope(na, nb, "wasserstein_1d")
    cums = _multi_cumsum(counts)
    left = cums.select("__ord", "__v", "__cuma", "__cumb")
    right = cums.select((F.col("__ord") - 1).alias("__ord"),
                        F.col("__v").alias("__vnext"))
    num = (left.join(right, "__ord")
           .agg(F.sum((F.col("__vnext") - F.col("__v"))
                      * F.abs(F.col("__cuma") * F.lit(nb)
                              - F.col("__cumb") * F.lit(na)))
                .alias("s")).first()["s"])
    w1 = float(num or 0.0) / (na * nb)
    return spark.sql(
        f"SELECT CAST({na} AS BIGINT) AS n_a, "
        f"CAST({nb} AS BIGINT) AS n_b, "
        f"round(CAST({w1!r} AS DOUBLE), 6) AS w1")


def kruskal_wallis(df: DataFrame, value_col: str,
                   group_col: str,
                   max_groups: int = 10_000) -> DataFrame:
    """Kruskal-Wallis H — the k-SAMPLE member of the rank-test family
    (:func:`mann_whitney_u` compares two slices; this asks "do ANY of
    the k sources/languages/shards differ in location?" in one test,
    before pairwise drilling with BH-corrected Mann-Whitneys).

    Integer-exact core shared with the other rank tests: per
    (value, group) counts joined to the per-distinct-value prefix,
    ``2*R_g = sum cnt * (2*cum - c + 1)`` per group is an exact long;
    the group table (k rows) collects driver-side where H and the tie
    correction ``1 - sum(c^3-c)/(n^3-n)`` evaluate in exact-int-fed
    double arithmetic.  The upper-tail p is EXACT since round 12
    (:mod:`~.tails` regularized incomplete gamma ``Q((k-1)/2, H/2)``
    for k-1 <= 1000 — the real-use regime is k < 100, where the old
    Wilson-Hilferty approximation was off by up to 3e-3; WH retained
    above the ceiling with a measured < 2.9e-7 bound, see tails).

    Plan: one input scan to (value, group) counts; per-value totals
    and one value-bucketed prefix pass; per-group aggregate (k rows).
    Output: ONE row ``(n, k, h, h_tie_corrected, dof, p_value)``
    (nulls when fewer than 2 groups or all values tied)."""
    from .windows import global_cumsum

    spark = df.sparkSession
    vg = (df.filter(F.col(value_col).isNotNull()
                    & F.col(group_col).isNotNull())
          .groupBy(F.col(value_col).cast("double").alias("__v"),
                   F.col(group_col).cast("string").alias("__g"))
          .agg(F.count(F.lit(1)).alias("__cnt"))
          .localCheckpoint(eager=True))
    totals = vg.groupBy("__v").agg(F.sum("__cnt").alias("__c"))
    cums = global_cumsum(totals, "__v", "__c", "__cum")
    # ONE union-tagged action (round 14, the _tau_core discipline)
    # returns the k-row group table AND the tie sum together; the old
    # standalone countDistinct guard action is replaced by a LIMIT on
    # the collect — the driver never holds more than max_groups + 2
    # rows either way, and the job count drops from 3 driver actions
    # (guard, groups, ties) to 1 on the same checkpointed base.
    contrib = vg.join(cums, "__v").select(
        F.lit(0).alias("__t"), F.col("__g"),
        F.col("__cnt").alias("__a"),
        (F.col("__cnt")
         * (2 * F.col("__cum") - F.col("__c") + 1)).alias("__b"))
    tie_rows = cums.select(
        F.lit(1).alias("__t"), F.lit(None).cast("string").alias("__g"),
        (F.col("__c") * F.col("__c") * F.col("__c") - F.col("__c"))
        .alias("__a"),
        F.lit(None).cast("long").alias("__b"))
    rows = (contrib.unionByName(tie_rows)
            .groupBy("__t", "__g")
            .agg(F.sum("__a").alias("ng"), F.sum("__b").alias("r2"))
            .limit(max_groups + 2).collect())
    per_group = [r for r in rows if r["__t"] == 0]
    if len(per_group) > max_groups:
        raise ValueError(
            f"kruskal_wallis collects one (ng, 2*Rg) row per group to "
            f"the driver; got more than max_groups={max_groups} "
            "distinct groups — that group column looks like an id, "
            "not a category. Bucket it upstream or raise max_groups "
            "consciously.")
    tie_sum = [r for r in rows if r["__t"] == 1]
    ties = {"t": tie_sum[0]["ng"] if tie_sum else 0}
    k = len(per_group)
    n = sum(int(r["ng"]) for r in per_group)
    null_row = (
        f"SELECT CAST({n} AS BIGINT) AS n, "
        f"CAST({k} AS BIGINT) AS k, "
        "CAST(NULL AS DOUBLE) AS h, "
        "CAST(NULL AS DOUBLE) AS h_tie_corrected, "
        "CAST(NULL AS DOUBLE) AS dof, "
        "CAST(NULL AS DOUBLE) AS p_value")
    if k < 2 or n < 2:
        return spark.sql(null_row)
    t = int(ties["t"] or 0)
    # H = 12/(n(n+1)) * sum R_g^2/n_g - 3(n+1); R_g = r2/2
    s = sum((int(r["r2"]) * int(r["r2"])) / (4.0 * int(r["ng"]))
            for r in per_group)
    h = 12.0 / (n * (n + 1)) * s - 3.0 * (n + 1)
    denom = 1.0 - t / (n * n * n - n)
    if denom <= 0:  # every value identical
        return spark.sql(null_row)
    hc = h / denom
    dfree = k - 1
    p = _chi2_sf(hc, float(dfree))
    return spark.sql(
        f"SELECT CAST({n} AS BIGINT) AS n, "
        f"CAST({k} AS BIGINT) AS k, "
        f"round(CAST({h!r} AS DOUBLE), 6) AS h, "
        f"round(CAST({hc!r} AS DOUBLE), 6) AS h_tie_corrected, "
        f"round(CAST({float(dfree)!r} AS DOUBLE), 6) AS dof, "
        f"round(CAST({p!r} AS DOUBLE), 6) AS p_value")


# _f_sf — the exact F upper tail (tails.ibeta); it replaced the
# round-11 Paulson/Wilson-Hilferty normal approximation in round 12
# for welch_anova and brown_forsythe (imported at top).


def welch_anova(df: DataFrame, value_col: str, group_col: str,
                max_groups: int = 10_000) -> DataFrame:
    """Welch's one-way ANOVA F (Welch 1951, Biometrika 38) — the
    k-GROUP parametric screen beside :func:`kruskal_wallis`: "did the
    MEAN differ across any of the k sources/languages/shards?" for
    normal-ish metrics, without the classical ANOVA's equal-variance
    assumption (corpus slices almost never share a variance — the same
    reason :func:`welch_t_test` is Welch's form, not Student's).

    With per-group weights ``w_j = n_j / s_j^2``, ``W = sum w_j`` and
    the weighted grand mean ``x* = sum w_j m_j / W``:

        F   = [sum w_j (m_j - x*)^2 / (k-1)]
              / [1 + 2(k-2)/(k^2-1) * L]
        L   = sum (1 - w_j/W)^2 / (n_j - 1)
        df1 = k - 1,  df2 = (k^2 - 1) / (3 L)

    For k = 2 this degenerates to exactly ``t^2`` of
    :func:`welch_t_test` with ``df2`` the Welch-Satterthwaite df
    (pinned in tests).  The upper-tail p is the EXACT F tail since
    round 12 (:mod:`~.tails` incomplete beta; it replaced the
    round-11 Paulson/Wilson-Hilferty approximation, which drifted
    materially at small per-group n — the sliced-sweep regime).

    Conventions: groups need ``n_j >= 2`` and a positive variance to
    carry a weight — smaller groups are EXCLUDED (complete-case, k
    counts included groups); any included group with zero variance
    degenerates the weights, so the statistics null out (documented,
    matching R ``oneway.test``'s NaN).  Like :func:`kruskal_wallis`,
    one (n, mean, var) row per group collects driver-side behind the
    same ``max_groups`` id-column guard.

    Plan: ONE conditional-aggregate input scan to the k-row group
    table (map-side partial aggregation; no shuffle beyond the k-key
    reduce).  Output: ONE row ``(n, k, f_stat, df1, df2, p_value)``."""
    spark = df.sparkSession
    per_group = (df.filter(F.col(value_col).isNotNull()
                           & F.col(group_col).isNotNull())
                 .groupBy(F.col(group_col).cast("string").alias("__g"))
                 .agg(F.count(F.lit(1)).alias("ng"),
                      F.avg(F.col(value_col).cast("double"))
                      .alias("m"),
                      F.var_samp(F.col(value_col).cast("double"))
                      .alias("s2")))
    n_groups = per_group.count()
    if n_groups > max_groups:
        raise ValueError(
            f"welch_anova collects one (n, mean, var) row per group to "
            f"the driver; got {n_groups} distinct groups > max_groups="
            f"{max_groups} — that group column looks like an id, not a "
            "category. Bucket it upstream or raise max_groups "
            "consciously.")
    # deterministic driver-side order so the float reduction is
    # reproducible run-to-run (collect order is not)
    rows = sorted(((str(r["__g"]), int(r["ng"]), r["m"], r["s2"])
                   for r in per_group.collect()), key=lambda r: r[0])
    rows = [r for r in rows if r[1] >= 2 and r[3] is not None]
    k = len(rows)
    n = sum(r[1] for r in rows)
    null_row = (
        f"SELECT CAST({n} AS BIGINT) AS n, "
        f"CAST({k} AS BIGINT) AS k, "
        "CAST(NULL AS DOUBLE) AS f_stat, "
        "CAST(NULL AS DOUBLE) AS df1, "
        "CAST(NULL AS DOUBLE) AS df2, "
        "CAST(NULL AS DOUBLE) AS p_value")
    if k < 2 or any(r[3] <= 0 for r in rows):
        return spark.sql(null_row)
    w = [ng / s2 for _, ng, _, s2 in rows]
    big_w = sum(w)
    xstar = sum(wj * m for wj, (_, _, m, _) in zip(w, rows)) / big_w
    a = sum(wj * (m - xstar) ** 2
            for wj, (_, _, m, _) in zip(w, rows)) / (k - 1)
    lam = sum((1.0 - wj / big_w) ** 2 / (ng - 1)
              for wj, (_, ng, _, _) in zip(w, rows))
    f_stat = a / (1.0 + 2.0 * (k - 2) / (k * k - 1.0) * lam)
    df1 = float(k - 1)
    df2 = (k * k - 1.0) / (3.0 * lam) if lam > 0 else None
    p = _f_sf(f_stat, df1, df2) if df2 is not None else None

    def _d(x):
        return ("CAST(NULL AS DOUBLE)" if x is None
                else f"round(CAST({float(x)!r} AS DOUBLE), 6)")

    return spark.sql(
        f"SELECT CAST({n} AS BIGINT) AS n, "
        f"CAST({k} AS BIGINT) AS k, "
        f"{_d(f_stat)} AS f_stat, {_d(df1)} AS df1, "
        f"{_d(df2)} AS df2, {_d(p)} AS p_value")


def pairwise_welch(df: DataFrame, value_col: str, group_col: str,
                   max_groups: int = 100) -> DataFrame:
    """All-pairs Welch t — the POST-HOC drill after :func:`welch_anova`
    fires: the omnibus F says "some group mean differs", this one says
    WHICH pairs, one row per unordered group pair.  Two corrected
    protocols ride the output (round 13): feed ``p_value`` to
    :func:`bh_fdr` (FDR control, the BH-over-Welch protocol), or read
    ``p_gh`` directly — the GAMES-HOWELL familywise p (Games & Howell
    1976): the studentized-range tail ``P(Q_{k, dof} > |t|*sqrt(2))``
    with the pair's own Welch-Satterthwaite dof and ``k`` = the
    number of groups in the family, evaluated EXACTLY by
    :func:`~.tails.ptukey_sf`'s fixed-node quadrature (same
    fixed-depth contract as the t/F/chi-square tails; the DuckDB
    oracle replays the identical node sums).  ``p_gh >= p_value``
    always (range of k covers the pair; equality in the k = 2 limit
    where Q = |T|*sqrt(2) exactly — both pinned in tests).

    Plan: the SAME single conditional-aggregate scan as
    :func:`welch_anova` (one k-row group table), then all k(k-1)/2
    pair statistics evaluate driver-side from the collected
    (n, mean, var) rows and return as one literal frame — zero
    additional input passes, so k=20 groups cost exactly what k=2
    costs.  ``max_groups`` defaults LOW (100 -> 4950 output rows):
    the output is quadratic in k, which is the op's honest contract
    (an id-shaped group column would explode it).

    Per pair: Welch t / Welch-Satterthwaite df / two-sided EXACT
    Student-t p (same contract as :func:`welch_t_test`; pinned equal
    in tests) plus ``q_stat = |t| * sqrt(2)`` and the exact
    Games-Howell ``p_gh``.  Groups need ``n_j >= 2`` and positive
    variance; pairs where either side degenerates report their means
    with null statistics.  ``k`` counts every group that entered the
    pair table (including degenerate ones — they are part of the
    comparison family even when their own pairs are untestable).
    Output: ``(group_a, group_b, n_a, n_b, mean_a, mean_b, t_stat,
    dof, p_value, q_stat, p_gh)`` ordered by (group_a, group_b).

    r14 ADVICE note on the family size: ``k_family`` (the k that
    parameterizes the studentized-range tail) counts EVERY group in
    the collected table, including n < 2 / zero-variance groups whose
    own pairs are untestable.  This is deliberate and conservative
    (p_gh can only grow with k), but it makes p_gh data-dependent on
    degenerate family members; R implementations that drop degenerate
    groups before counting k will report a smaller p_gh on such data.
    Consumers who need the parameterizing k can recover it exactly
    from the output: k_family = (1 + sqrt(1 + 8 * n_rows)) / 2 — the
    output always carries all k(k-1)/2 pair rows, degenerate ones
    with null statistics (schema kept column-stable vs r13: the
    driver-green oracle mirrors this exact column list)."""
    spark = df.sparkSession
    per_group = (df.filter(F.col(value_col).isNotNull()
                           & F.col(group_col).isNotNull())
                 .groupBy(F.col(group_col).cast("string").alias("__g"))
                 .agg(F.count(F.lit(1)).alias("ng"),
                      F.avg(F.col(value_col).cast("double"))
                      .alias("m"),
                      F.var_samp(F.col(value_col).cast("double"))
                      .alias("s2")))
    # ONE job guards AND fetches: collect at most max_groups+1 group
    # rows — the extra row proves the violation without a separate
    # count() action (two tiny jobs cost two scheduler round-trips;
    # the k-row table is bounded either way, so the limit is driver-
    # safe even when the guard fires on an id-shaped column)
    got = per_group.limit(max_groups + 1).collect()
    if len(got) > max_groups:
        raise ValueError(
            f"pairwise_welch emits one row per group PAIR — more "
            f"than max_groups={max_groups} groups would be more than "
            f"{max_groups * (max_groups - 1) // 2} rows. That group "
            "column looks like an id, not a category; bucket it "
            "upstream or raise max_groups consciously.")
    rows = sorted(((str(r["__g"]), int(r["ng"]), r["m"], r["s2"])
                   for r in got), key=lambda r: r[0])

    k_family = len(rows)
    tuples = []
    for i in range(len(rows)):
        for j in range(i + 1, len(rows)):
            ga, na, ma, sa = rows[i]
            gb, nb, mb, sb = rows[j]
            t_stat = dof = p = q_stat = p_gh = None
            if (na >= 2 and nb >= 2 and sa is not None
                    and sb is not None and sa + sb > 0):
                wa, wb = sa / na, sb / nb
                if wa + wb > 0:
                    t_stat = (ma - mb) / math.sqrt(wa + wb)
                    dof = ((wa + wb) ** 2
                           / (wa * wa / (na - 1) + wb * wb / (nb - 1)))
                    p = _t_sf2(t_stat, dof)
                    q_stat = abs(t_stat) * math.sqrt(2.0)
                    p_gh = _ptukey_sf(q_stat, k_family, dof)
            tuples.append((ga, gb, na, nb,
                           None if ma is None else float(ma),
                           None if mb is None else float(mb),
                           t_stat, dof, p, q_stat, p_gh))
    # ONE inline VALUES relation via PARAMETERIZED sql: group names
    # are DATA and must never pass through the SQL parser as text (a
    # backslash or quote in a group value would be re-interpreted as
    # an escape — the r11 ADVICE crash), and named parameter binding
    # keeps them out of the parse while staying a JVM-side
    # LocalRelation (spark.createDataFrame routes even a tiny frame
    # through a Python-RDD round-trip — ~0.45 s measured on this op);
    # rounding stays engine-side (SQL round) so it keeps HALF_UP
    # semantics rather than Python's banker's rounding.
    args: dict = {}

    def _bind(val) -> str:
        key = f"v{len(args)}"
        args[key] = val
        return f":{key}"

    rows_sql = []
    for (ga, gb, na, nb, ma, mb, t_stat, dof, pv, qs, pgh) in tuples:
        cells = [_bind(ga), _bind(gb),
                 f"CAST({_bind(na)} AS BIGINT)",
                 f"CAST({_bind(nb)} AS BIGINT)"]
        for v in (ma, mb, t_stat, dof, pv, qs, pgh):
            cells.append(
                "CAST(NULL AS DOUBLE)" if v is None
                else f"round(CAST({_bind(float(v))} AS DOUBLE), 6)")
        rows_sql.append("(" + ", ".join(cells) + ")")
    if not rows_sql:
        return spark.sql(
            "SELECT CAST(NULL AS STRING) AS group_a, "
            "CAST(NULL AS STRING) AS group_b, "
            "CAST(0 AS BIGINT) AS n_a, CAST(0 AS BIGINT) AS n_b, "
            "CAST(NULL AS DOUBLE) AS mean_a, "
            "CAST(NULL AS DOUBLE) AS mean_b, "
            "CAST(NULL AS DOUBLE) AS t_stat, "
            "CAST(NULL AS DOUBLE) AS dof, "
            "CAST(NULL AS DOUBLE) AS p_value, "
            "CAST(NULL AS DOUBLE) AS q_stat, "
            "CAST(NULL AS DOUBLE) AS p_gh").limit(0)
    return spark.sql(
        "SELECT group_a, group_b, n_a, n_b, mean_a, mean_b, "
        "t_stat, dof, p_value, q_stat, p_gh FROM (VALUES "
        + ", ".join(rows_sql)
        + ") AS t(group_a, group_b, n_a, n_b, mean_a, mean_b, "
        "t_stat, dof, p_value, q_stat, p_gh)",
        args=args).orderBy("group_a", "group_b")


def brown_forsythe(df: DataFrame, value_col: str, group_col: str,
                   max_groups: int = 10_000) -> DataFrame:
    """Brown-Forsythe test (Brown & Forsythe 1974 — Levene's test on
    deviations from the group MEDIAN): did the SPREAD differ across
    the k sources/shards?  The screen that completes the k-group trio
    (:func:`welch_anova` asks about means, :func:`kruskal_wallis`
    about location under ranks; this one catches a variance blow-up a
    mean gate never sees — and its verdict is exactly the "do the
    slices share a variance?" question that decides whether classic
    pooled ANOVA would even have been valid).  Median centering (not
    mean) is what makes it robust to the heavy tails corpus metrics
    actually have.

    Statistic: classic one-way ANOVA F on ``z_ij = |x_ij - med_j|``:
    ``F = [(N-k)/(k-1)] * sum n_j (zbar_j - zbar)^2 / sum (z_ij -
    zbar_j)^2`` with df ``(k-1, N-k)``; EXACT F tail since round 12
    (:mod:`~.tails` incomplete beta, shared with
    :func:`welch_anova`).

    Group medians are EXACT and integer-positioned from the
    per-(value, group) count table — the same bounded core as the rank
    tests: a per-GROUP (partitioned, never single-task) prefix over
    distinct values locates the two middle positions, even ``n_j``
    averages them (DuckDB ``median`` convention, so the oracle
    mirrors).  Plan: one scan to (value, group) counts; k-row median
    table broadcast back; ONE conditional-agg scan over the z values.
    Same ``max_groups`` driver guard as the siblings.  Output: ONE row
    ``(n, k, f_stat, df1, df2, p_value)`` (nulls when fewer than 2
    groups survive or every deviation is identical)."""
    from pyspark.sql import Window

    spark = df.sparkSession
    vg = (df.filter(F.col(value_col).isNotNull()
                    & F.col(group_col).isNotNull())
          .groupBy(F.col(group_col).cast("string").alias("__g"),
                   F.col(value_col).cast("double").alias("__v"))
          .agg(F.count(F.lit(1)).alias("__cnt"))
          .localCheckpoint(eager=True))
    n_groups = vg.select("__g").distinct().count()
    if n_groups > max_groups:
        raise ValueError(
            f"brown_forsythe broadcasts one median row per group; got "
            f"{n_groups} distinct groups > max_groups={max_groups} — "
            "that group column looks like an id, not a category. "
            "Bucket it upstream or raise max_groups consciously.")
    w = (Window.partitionBy("__g").orderBy("__v")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = (vg.withColumn("__cum", F.sum("__cnt").over(w))
           .withColumn("__ng", F.sum("__cnt").over(
               Window.partitionBy("__g"))))
    # the two middle positions (1-indexed): floor((n+1)/2) and
    # floor(n/2)+1 — equal for odd n, adjacent for even n
    lo = F.floor((F.col("__ng") + 1) / 2)
    hi = F.floor(F.col("__ng") / 2) + 1
    covers_lo = (F.col("__cum") >= lo) & \
        (F.col("__cum") - F.col("__cnt") < lo)
    covers_hi = (F.col("__cum") >= hi) & \
        (F.col("__cum") - F.col("__cnt") < hi)
    med = (cum.groupBy("__g")
           .agg(((F.max(F.when(covers_lo, F.col("__v")))
                  + F.max(F.when(covers_hi, F.col("__v")))) / 2)
                .alias("__med"),
                F.max("__ng").alias("__ng"))
           .filter(F.col("__ng") >= 2))
    z = (df.filter(F.col(value_col).isNotNull()
                   & F.col(group_col).isNotNull())
         .select(F.col(group_col).cast("string").alias("__g"),
                 F.col(value_col).cast("double").alias("__x"))
         .join(F.broadcast(med.select("__g", "__med")), "__g")
         .withColumn("__z", F.abs(F.col("__x") - F.col("__med"))))
    rows = sorted(
        ((str(r["__g"]), int(r["ng"]), float(r["zm"]),
          float(r["zv"]) if r["zv"] is not None else 0.0)
         for r in z.groupBy("__g")
         .agg(F.count(F.lit(1)).alias("ng"), F.avg("__z").alias("zm"),
              F.var_samp("__z").alias("zv")).collect()),
        key=lambda r: r[0])
    k = len(rows)
    n = sum(r[1] for r in rows)
    null_row = (
        f"SELECT CAST({n} AS BIGINT) AS n, "
        f"CAST({k} AS BIGINT) AS k, "
        "CAST(NULL AS DOUBLE) AS f_stat, "
        "CAST(NULL AS DOUBLE) AS df1, "
        "CAST(NULL AS DOUBLE) AS df2, "
        "CAST(NULL AS DOUBLE) AS p_value")
    if k < 2 or n <= k:
        return spark.sql(null_row)
    zbar = sum(ng * zm for _, ng, zm, _ in rows) / n
    ss_between = sum(ng * (zm - zbar) ** 2 for _, ng, zm, _ in rows)
    ss_within = sum((ng - 1) * zv for _, ng, _, zv in rows)
    if ss_within <= 0:
        return spark.sql(null_row)
    df1, df2 = float(k - 1), float(n - k)
    f_stat = (ss_between / df1) / (ss_within / df2)
    p = _f_sf(f_stat, df1, df2)

    def _d(x):
        return f"round(CAST({float(x)!r} AS DOUBLE), 6)"

    return spark.sql(
        f"SELECT CAST({n} AS BIGINT) AS n, "
        f"CAST({k} AS BIGINT) AS k, "
        f"{_d(f_stat)} AS f_stat, {_d(df1)} AS df1, "
        f"{_d(df2)} AS df2, {_d(p)} AS p_value")


def wilcoxon_signed_rank(df: DataFrame, col_a: str,
                         col_b: str) -> DataFrame:
    """Wilcoxon signed-rank test for PAIRED scores — "did re-scoring
    the SAME documents shift them?" (:func:`mann_whitney_u` compares
    two different slices; this is the member for model-A-vs-model-B on
    one corpus, where pairing removes the between-document variance).

    Wilcoxon's zero-exclusion convention: ``d = a - b``, zero
    differences drop, |d| gets average ranks, ``W+`` = rank sum of the
    positive differences.  Same integer-exact core as Mann-Whitney —
    from per-distinct-|d| counts ``(cp, cn)`` and the inclusive prefix
    ``cum``: ``2*W+ = sum cp * (2*cum - c + 1)`` is an exact long, as
    are the tie term and the variance numerator, so ``z = (2*(2W+) -
    n(n+1)) / (4*sqrt((2n(n+1)(2n+1) - T)/48))`` is bit-identical
    across engines.

    p-value (round 13, ``method`` column states the switch): with NO
    zero differences, NO tied |d| and ``n <= tails.RANK_EXACT_MAX_N``
    the EXACT 2^n sign-assignment null
    (:func:`~.tails.wilcoxon_exact_p2`; the R ``wilcox.test``
    exact-eligibility conditions — zeros or ties change the null, so
    either disqualifies, stated); otherwise the Pratt/Lehmann
    tie-corrected normal (no continuity correction).

    Plan: one input scan to the distinct-|d| count table, one
    value-bucketed global prefix pass, one aggregate.  Output: ONE row
    ``(n_pairs, n_nonzero, w_plus, z, p_value, method)`` (z/p null
    when every pair ties or all |d| are equal-sign degenerate
    variance)."""
    from .windows import global_cumsum

    spark = df.sparkSession
    d = F.col(col_a).cast("double") - F.col(col_b).cast("double")
    base = (df.filter(F.col(col_a).isNotNull()
                      & F.col(col_b).isNotNull())
            .select(d.alias("__d")))
    counts = (base.filter(F.col("__d") != 0)
              .groupBy(F.abs(F.col("__d")).alias("__ad"))
              .agg(F.sum(F.when(F.col("__d") > 0, 1).otherwise(0))
                   .alias("__cp"),
                   F.count(F.lit(1)).alias("__c"))
              .localCheckpoint(eager=True))
    n_pairs = base.count()
    if counts.isEmpty():  # every pair tied -> zero-exclusion drops all
        return spark.sql(
            f"SELECT CAST({n_pairs} AS BIGINT) AS n_pairs, "
            "CAST(0 AS BIGINT) AS n_nonzero, "
            "CAST(NULL AS DOUBLE) AS w_plus, "
            "CAST(NULL AS DOUBLE) AS z, "
            "CAST(NULL AS DOUBLE) AS p_value, "
            "CAST(NULL AS STRING) AS method")
    cums = global_cumsum(counts, "__ad", "__c", "__cum")
    row = cums.agg(
        F.sum("__c").alias("n"),
        F.sum(F.col("__cp")
              * (2 * F.col("__cum") - F.col("__c") + 1)).alias("w2"),
        F.sum(F.col("__c") * F.col("__c") * F.col("__c")
              - F.col("__c")).alias("ties")).first()
    n = int(row["n"])
    w2, t = int(row["w2"]), int(row["ties"])
    var48 = 2 * n * (n + 1) * (2 * n + 1) - t  # 48*sigma^2, exact
    method = None
    if var48 <= 0:
        z = p = None
    else:
        z = (2 * w2 - n * (n + 1)) / (4.0 * math.sqrt(var48 / 48.0))
        if (t == 0 and n_pairs == n
                and n <= _RANK_EXACT_MAX_N):
            p = _wilcoxon_exact_p2(w2, n)
            method = "exact"
        else:
            p = _normal_sf2(z)
            method = "normal_approx"

    def _d(x):
        return ("CAST(NULL AS DOUBLE)" if x is None
                else f"round(CAST({x!r} AS DOUBLE), 6)")

    ms = "CAST(NULL AS STRING)" if method is None else f"'{method}'"
    return spark.sql(
        f"SELECT CAST({n_pairs} AS BIGINT) AS n_pairs, "
        f"CAST({n} AS BIGINT) AS n_nonzero, "
        f"round(CAST({w2 / 2.0!r} AS DOUBLE), 6) AS w_plus, "
        f"{_d(z)} AS z, {_d(p)} AS p_value, {ms} AS method")


def paired_t_test(df: DataFrame, col_a: str, col_b: str) -> DataFrame:
    """Paired t-test — the parametric twin of
    :func:`wilcoxon_signed_rank`: one-sample t on the within-pair
    differences, ``t = mean(d) / (sd(d)/sqrt(n))``, df = n-1,
    two-sided EXACT Student-t p (:mod:`~.tails` incomplete beta since
    round 12 — and the paired design is where small n is ROUTINE:
    annotator-pair studies run at n = 20).  Use the
    signed-rank test when differences are heavy-tailed; this when you
    also want the effect SIZE (mean_diff) in original units.

    Plan: ONE aggregate pass over the difference column.  Output: ONE
    row ``(n, mean_diff, t_stat, dof, p_value)``."""
    spark = df.sparkSession
    d = F.col(col_a).cast("double") - F.col(col_b).cast("double")
    row = (df.filter(F.col(col_a).isNotNull()
                     & F.col(col_b).isNotNull())
           .agg(F.count(F.lit(1)).alias("n"),
                F.avg(d).alias("md"),
                F.var_samp(d).alias("vd")).first())
    n = int(row["n"])
    if n < 2:
        return spark.sql(
            f"SELECT CAST({n} AS BIGINT) AS n, "
            "CAST(NULL AS DOUBLE) AS mean_diff, "
            "CAST(NULL AS DOUBLE) AS t_stat, "
            "CAST(NULL AS DOUBLE) AS dof, "
            "CAST(NULL AS DOUBLE) AS p_value")
    md, vd = float(row["md"]), float(row["vd"])
    if vd <= 0:
        t_stat = p = None
    else:
        t_stat = md / math.sqrt(vd / n)
        p = _t_sf2(t_stat, float(n - 1))

    def _fmt(x):
        return ("CAST(NULL AS DOUBLE)" if x is None
                else f"round(CAST({x!r} AS DOUBLE), 6)")

    return spark.sql(
        f"SELECT CAST({n} AS BIGINT) AS n, "
        f"{_fmt(md)} AS mean_diff, {_fmt(t_stat)} AS t_stat, "
        f"round(CAST({float(n - 1)!r} AS DOUBLE), 6) AS dof, "
        f"{_fmt(p)} AS p_value")


def bh_fdr(df: DataFrame, p_col: str, id_col: str,
           alpha: float = 0.05) -> DataFrame:
    """Benjamini-Hochberg false-discovery-rate correction — the
    multiple-testing companion the rest of this module makes
    necessary: run the slice tests per language x source x shard and
    you have hundreds of p-values, of which alpha's worth are false
    positives BY DESIGN; BH (1995) step-up controls the expected
    false-discovery proportion instead.

    Decision rule: with p-values ranked ascending (1-based rank i of
    m), find the largest ``k`` with ``p_(k) <= k/m * alpha``; reject
    ranks ``1..k``.  Tied p-values cannot straddle the cut: if rank k
    satisfies the condition, an equal p at rank k+1 satisfies it too
    (same p, larger threshold), so ties reject together regardless of
    the id tie-break.  The comparison is evaluated multiplication-only
    (``p * m <= rank * alpha``) so both engines compute identical
    doubles.

    Plan: ranks from the value-bucketed two-phase machinery (no
    single-task sort), ONE aggregate for k, broadcast scalar back —
    three passes over the (id, p) projection, which is checkpointed.
    Output: one row per input ``(id_col, p, rank, rejected)``; q-values
    (adjusted p) need a global suffix-min and are deliberately not
    computed — the DECISION is the scale-safe part.  Rows with null p
    are dropped (report them upstream, they are not tests)."""
    from .windows import global_distribution_ranks

    if not 0 < alpha < 1:
        raise ValueError(f"alpha must be in (0,1), got {alpha}")
    base = (df.filter(F.col(p_col).isNotNull())
            .select(F.col(id_col).alias("__id"),
                    F.col(p_col).cast("double").alias("__p"))
            .localCheckpoint(eager=True))
    m = base.count()
    ranked = global_distribution_ranks(
        base, [F.col("__p"), F.col("__id")], rank_col="__rank")
    kmax_row = ranked.agg(F.max(F.when(
        F.col("__p") * F.lit(float(m))
        <= F.col("__rank") * F.lit(alpha), F.col("__rank"))
    ).alias("k")).first()
    k = int(kmax_row["k"] or 0)
    return (ranked.select(
        F.col("__id").alias(id_col),
        F.col("__p").alias("p"),
        F.col("__rank").cast("long").alias("rank"),
        (F.col("__rank") <= F.lit(k)).alias("rejected"))
        .orderBy("rank"))


def holm_bonferroni(df: DataFrame, p_col: str, id_col: str,
                    alpha: float = 0.05) -> DataFrame:
    """Holm's step-down correction (Holm 1979) — the FWER companion
    of :func:`bh_fdr`: when even ONE false rejection is unacceptable
    (a compliance gate, a "which slice do we freeze the release for"
    decision), Holm controls the family-wise error at alpha with
    uniformly more power than plain Bonferroni and no independence
    assumption at all.  Reject while ``p_(i) <= alpha / (m - i + 1)``
    stepping down from the smallest p; the FIRST failure stops all
    later rejections (p-values are monotone in the procedure, not per
    test).

    Plan: identical scale shape to bh_fdr — checkpointed (id, p)
    projection, value-bucketed global ranks (no single-task sort),
    ONE aggregate for the first failing rank, broadcast back.
    Output: one row per input ``(id_col, p, rank, rejected)``; null p
    rows drop (they are not tests)."""
    from .windows import global_distribution_ranks

    if not 0 < alpha < 1:
        raise ValueError(f"alpha must be in (0,1), got {alpha}")
    base = (df.filter(F.col(p_col).isNotNull())
            .select(F.col(id_col).alias("__id"),
                    F.col(p_col).cast("double").alias("__p"))
            .localCheckpoint(eager=True))
    m = base.count()
    ranked = global_distribution_ranks(
        base, [F.col("__p"), F.col("__id")], rank_col="__rank")
    first_fail = ranked.agg(F.min(F.when(
        F.col("__p") * (F.lit(float(m)) - F.col("__rank") + 1)
        > F.lit(alpha), F.col("__rank"))).alias("ff")).first()
    k = (int(first_fail["ff"]) - 1
         if first_fail["ff"] is not None else m)
    return (ranked.select(
        F.col("__id").alias(id_col),
        F.col("__p").alias("p"),
        F.col("__rank").cast("long").alias("rank"),
        (F.col("__rank") <= F.lit(k)).alias("rejected"))
        .orderBy("rank"))


def benjamini_yekutieli(df: DataFrame, p_col: str, id_col: str,
                        alpha: float = 0.05) -> DataFrame:
    """Benjamini-Yekutieli FDR (BY 2001) — :func:`bh_fdr` under
    ARBITRARY dependence: the sliced sweeps' p-values share the same
    underlying corpus (overlapping languages x sources x shards), and
    when that dependence is not provably positive-regression, BH's
    guarantee formally lapses; BY restores it by spending
    ``alpha / c(m)`` with the harmonic factor ``c(m) = sum_{i<=m}
    1/i`` (~ ln m + 0.577 — the honest price of no assumptions;
    document WHICH correction a pipeline gate uses).

    Plan: bh_fdr's exact shape with the rescaled threshold — the
    harmonic sum is a per-call DRIVER scalar (ascending-order
    summation, mirrored verbatim in the oracle's ascending
    generate_series sum).  Output: ``(id_col, p, rank, rejected)``
    ordered by rank."""
    from .windows import global_distribution_ranks

    if not 0 < alpha < 1:
        raise ValueError(f"alpha must be in (0,1), got {alpha}")
    base = (df.filter(F.col(p_col).isNotNull())
            .select(F.col(id_col).alias("__id"),
                    F.col(p_col).cast("double").alias("__p"))
            .localCheckpoint(eager=True))
    m = base.count()
    cm = 0.0
    for i in range(1, m + 1):
        cm = cm + 1.0 / i
    ranked = global_distribution_ranks(
        base, [F.col("__p"), F.col("__id")], rank_col="__rank")
    kmax_row = ranked.agg(F.max(F.when(
        F.col("__p") * F.lit(float(m)) * F.lit(cm)
        <= F.col("__rank") * F.lit(alpha), F.col("__rank"))
    ).alias("k")).first()
    k = int(kmax_row["k"] or 0)
    return (ranked.select(
        F.col("__id").alias(id_col),
        F.col("__p").alias("p"),
        F.col("__rank").cast("long").alias("rank"),
        (F.col("__rank") <= F.lit(k)).alias("rejected"))
        .orderBy("rank"))


def mutual_information(df: DataFrame, col_x: str,
                       col_y: str) -> DataFrame:
    """Mutual information between two categorical columns, with
    marginal entropies and the normalized variant — the LEAKAGE
    screen :func:`chi_square_independence` can't be: chi2 says
    "dependent, p < .05" at corpus n for even trivial association;
    MI says HOW MANY BITS of the label a feature gives away (the
    "does source identify the split?" question before anyone trains
    on it).  Natural-log nats, ``nmi = mi / sqrt(hx * hy)``
    (Strehl & Ghosh 2002).

    Zero observed cells contribute exactly 0 (the 0*log(0) limit), so
    unlike chi2 no grid completion is needed — the observed
    contingency table is the whole computation.  Plan: ONE input scan
    to (x, y) counts; joint/marginal terms on that label^2-bounded
    table.  Output: ONE row ``(n, mi, h_x, h_y, nmi)`` (``nmi`` null
    when either column is constant)."""
    obs = (df.filter(F.col(col_x).isNotNull() & F.col(col_y).isNotNull())
           .groupBy(F.col(col_x).cast("string").alias("__x"),
                    F.col(col_y).cast("string").alias("__y"))
           .agg(F.count(F.lit(1)).alias("__o"))
           .localCheckpoint(eager=True))
    if obs.isEmpty():  # keep the ONE-row contract on empty slices
        return df.sparkSession.sql(
            "SELECT CAST(0 AS BIGINT) AS n, "
            "CAST(NULL AS DOUBLE) AS mi, CAST(NULL AS DOUBLE) AS h_x, "
            "CAST(NULL AS DOUBLE) AS h_y, CAST(NULL AS DOUBLE) AS nmi")
    mx = obs.groupBy("__x").agg(F.sum("__o").alias("__nx"))
    my = obs.groupBy("__y").agg(F.sum("__o").alias("__ny"))
    tot = obs.agg(F.sum("__o").alias("__n"))
    n = F.col("__n").cast("double")
    joined = (obs.join(F.broadcast(mx), "__x")
              .join(F.broadcast(my), "__y")
              .crossJoin(F.broadcast(tot)))
    mi = joined.agg(F.sum(
        F.col("__o") / n * F.log(F.col("__o") * n
                                 / (F.col("__nx") * F.col("__ny"))))
        .alias("__mi"))
    hx = (mx.crossJoin(F.broadcast(tot))
          .agg((-F.sum(F.col("__nx") / n
                       * F.log(F.col("__nx") / n))).alias("__hx")))
    hy = (my.crossJoin(F.broadcast(tot))
          .agg((-F.sum(F.col("__ny") / n
                       * F.log(F.col("__ny") / n))).alias("__hy")))
    return (tot.crossJoin(F.broadcast(mi))
            .crossJoin(F.broadcast(hx))
            .crossJoin(F.broadcast(hy))
            .select(
                F.col("__n").cast("long").alias("n"),
                F.round(F.greatest("__mi", F.lit(0.0)), 6).alias("mi"),
                F.round("__hx", 6).alias("h_x"),
                F.round("__hy", 6).alias("h_y"),
                F.round(F.when(
                    (F.col("__hx") > 0) & (F.col("__hy") > 0),
                    F.greatest("__mi", F.lit(0.0))
                    / F.sqrt(F.col("__hx") * F.col("__hy"))), 6)
                .alias("nmi")))


def jarque_bera(df: DataFrame, value_col: str) -> DataFrame:
    """Jarque-Bera normality screen: are these scores/residuals even
    roughly Gaussian?  (Every z-threshold gate in this module assumes
    approximate normality somewhere; this is the op that checks the
    assumption instead of hoping.)  ``JB = n/6 (g1^2 + g2^2/4)`` from
    the population skewness ``g1 = m3/m2^1.5`` and excess kurtosis
    ``g2 = m4/m2^2 - 3``; under the null JB ~ chi-square(2), whose
    tail is the CLOSED FORM ``exp(-JB/2)`` — no incomplete gamma
    needed, so the p is exact and portable.

    Numerics: CENTERED moment sums in a second pass (raw power sums
    up to v^4 would lose the central moments to catastrophic
    cancellation at corpus magnitudes); the projection is checkpointed
    so the mean pass and the moment pass scan the upstream once.
    Output: ONE row ``(n, skewness, ex_kurtosis, jb, p_value)``
    (nulls when the column is constant or n < 2)."""
    spark = df.sparkSession
    base = (df.filter(F.col(value_col).isNotNull())
            .select(F.col(value_col).cast("double").alias("__v"))
            .localCheckpoint(eager=True))
    mu_row = base.agg(F.avg("__v").alias("mu"),
                      F.count(F.lit(1)).alias("n")).first()
    n = int(mu_row["n"])
    if n < 2:
        return spark.sql(
            f"SELECT CAST({n} AS BIGINT) AS n, "
            "CAST(NULL AS DOUBLE) AS skewness, "
            "CAST(NULL AS DOUBLE) AS ex_kurtosis, "
            "CAST(NULL AS DOUBLE) AS jb, "
            "CAST(NULL AS DOUBLE) AS p_value")
    mu = float(mu_row["mu"])
    c = F.col("__v") - F.lit(mu)
    m = base.agg(F.sum(c * c).alias("s2"),
                 F.sum(c * c * c).alias("s3"),
                 F.sum(c * c * c * c).alias("s4")).first()
    m2, m3, m4 = (float(m["s2"]) / n, float(m["s3"]) / n,
                  float(m["s4"]) / n)
    if m2 <= 0:
        return spark.sql(
            f"SELECT CAST({n} AS BIGINT) AS n, "
            "CAST(NULL AS DOUBLE) AS skewness, "
            "CAST(NULL AS DOUBLE) AS ex_kurtosis, "
            "CAST(NULL AS DOUBLE) AS jb, "
            "CAST(NULL AS DOUBLE) AS p_value")
    g1 = m3 / (m2 * math.sqrt(m2))
    g2 = m4 / (m2 * m2) - 3.0
    jb = n / 6.0 * (g1 * g1 + g2 * g2 / 4.0)
    p = math.exp(-jb / 2.0)
    return spark.sql(
        f"SELECT CAST({n} AS BIGINT) AS n, "
        f"round(CAST({g1!r} AS DOUBLE), 6) AS skewness, "
        f"round(CAST({g2!r} AS DOUBLE), 6) AS ex_kurtosis, "
        f"round(CAST({jb!r} AS DOUBLE), 6) AS jb, "
        f"round(CAST({p!r} AS DOUBLE), 6) AS p_value")


def proportion_z_test(df: DataFrame, success_col: str, group_col: str,
                      group_a: str, group_b: str) -> DataFrame:
    """Two-proportion z-test — the conversion/violation-RATE member of
    the two-sample family (Welch compares means of a value; this
    compares rates of a flag: gate pass rate before/after a scorer
    redeploy, PII hit rate crawl-vs-crawl).  Pooled-variance form:
    ``z = (p_a - p_b) / sqrt(p(1-p)(1/na + 1/nb))`` with ``p`` the
    pooled success rate; two-sided p via the A&S erf polynomial.

    All inputs to z are exact integer counts, so the statistic is
    bit-identical across engines.  ``success_col`` is interpreted
    truthily: booleans or 0/1 ints.  Plan: ONE conditional-aggregate
    scan.  Output: ONE row ``(n_a, n_b, p_a, p_b, z, p_value)``."""
    spark = df.sparkSession
    s = F.col(success_col).cast("boolean").cast("int")
    row = (df.filter(F.col(success_col).isNotNull())
           .agg(F.sum(F.when(F.col(group_col) == group_a, 1)
                      .otherwise(0)).alias("na"),
                F.sum(F.when(F.col(group_col) == group_b, 1)
                      .otherwise(0)).alias("nb"),
                F.sum(F.when(F.col(group_col) == group_a, s)
                      .otherwise(0)).alias("xa"),
                F.sum(F.when(F.col(group_col) == group_b, s)
                      .otherwise(0)).alias("xb")).first())
    na, nb = int(row["na"] or 0), int(row["nb"] or 0)
    if na == 0 or nb == 0:
        return spark.sql(
            f"SELECT CAST({na} AS BIGINT) AS n_a, "
            f"CAST({nb} AS BIGINT) AS n_b, "
            "CAST(NULL AS DOUBLE) AS p_a, CAST(NULL AS DOUBLE) AS p_b, "
            "CAST(NULL AS DOUBLE) AS z, "
            "CAST(NULL AS DOUBLE) AS p_value")
    xa, xb = int(row["xa"]), int(row["xb"])
    pa, pb = xa / na, xb / nb
    pool = (xa + xb) / (na + nb)
    var = pool * (1.0 - pool) * (1.0 / na + 1.0 / nb)
    if var <= 0:  # all successes or all failures in both groups
        z = p = None
    else:
        z = (pa - pb) / math.sqrt(var)
        p = _normal_sf2(z)

    def _d(x):
        return ("CAST(NULL AS DOUBLE)" if x is None
                else f"round(CAST({x!r} AS DOUBLE), 6)")

    return spark.sql(
        f"SELECT CAST({na} AS BIGINT) AS n_a, "
        f"CAST({nb} AS BIGINT) AS n_b, "
        f"{_d(pa)} AS p_a, {_d(pb)} AS p_b, "
        f"{_d(z)} AS z, {_d(p)} AS p_value")


def binom_test_exact(df: DataFrame, success_col: str,
                     p0: float) -> DataFrame:
    """EXACT one-sample binomial test (round 13): is the observed
    flag RATE consistent with a target ``p0``?  The one-sample,
    exact complement of :func:`proportion_z_test` — "did the
    quality-flag rate leave its contract?" lives at exactly the
    small-k / rare-flag margin where the normal approximation
    collapses, and the binomial tail IS the regularized incomplete
    beta the repo's fixed-depth kernel already computes exactly:

    ``P(X >= k) = I_{p0}(k, n-k+1)`` and ``P(X <= k) = 1 -
    I_{p0}(k+1, n-k)`` (boundary k = 0 / k = n tails are exactly 1).
    ``p_two_sided`` uses the DOUBLED-TAIL convention ``min(1, 2 *
    min(p_less, p_greater))`` — stated: R's ``binom.test`` instead
    sums all outcomes with pmf <= observed (the "minlike"
    convention); the doubled tail is the standard conservative
    alternative and, unlike the pmf-threshold sum, is a fixed pair of
    incomplete-beta evaluations, so the oracle replays it exactly.

    EXACT for ``n <= tails.BINOM_SCALAR_EXACT_MAX_N`` (100 000 —
    round 14, verdict ask #5): the SCALAR op computes its tails
    driver-side, where the O(n) log-space direct summation
    (:func:`~.tails.binom_cdf_direct`, ascending order mirrored by
    the oracle's ``list_sum(generate_series)``) is exact far beyond
    the fixed-depth ibeta kernel's n <= 400 validity boundary — that
    kernel gate still governs the SLICED op's column chains, where a
    per-slice direct sum would be an O(n) per-row explode.  Above
    the scalar gate the plain normal ``z = (k - n p0)/sqrt(n p0
    (1-p0))`` takes over (oracle-list-cost ceiling, not an accuracy
    cliff), with the branch stated in a ``method`` column.
    Cross-check pins: direct sum vs ibeta < 3e-12 across the old
    gate; vs math.comb exact rationals < 3e-14.

    Plan: ONE aggregate scan to (k, n); tails driver-side.  Output:
    ONE row ``(n, k, p_hat, p0, p_greater, p_less, p_two_sided,
    method)``."""
    if not 0.0 < p0 < 1.0:
        raise ValueError(f"binom_test_exact needs 0 < p0 < 1, "
                         f"got {p0}")
    from .tails import BINOM_SCALAR_EXACT_MAX_N, \
        binom_cdf_direct as _bcdf, binom_sf_direct as _bsf

    spark = df.sparkSession
    s = F.col(success_col).cast("boolean")
    row = (df.filter(s.isNotNull())
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum(s.cast("int")).alias("k")).first())
    n = int(row["n"] or 0)
    if n == 0:
        return spark.sql(
            "SELECT CAST(0 AS BIGINT) AS n, CAST(0 AS BIGINT) AS k, "
            "CAST(NULL AS DOUBLE) AS p_hat, "
            f"round(CAST({float(p0)!r} AS DOUBLE), 6) AS p0, "
            "CAST(NULL AS DOUBLE) AS p_greater, "
            "CAST(NULL AS DOUBLE) AS p_less, "
            "CAST(NULL AS DOUBLE) AS p_two_sided, "
            "CAST(NULL AS STRING) AS method")
    k = int(row["k"])
    if n <= BINOM_SCALAR_EXACT_MAX_N:
        p_ge = _bsf(k, n, p0)
        p_le = _bcdf(k, n, p0)
        method = "exact"
    else:
        z = (k - n * p0) / math.sqrt(n * p0 * (1.0 - p0))
        sf2 = _normal_sf2(z)
        p_ge = sf2 / 2.0 if z >= 0 else 1.0 - sf2 / 2.0
        p_le = 1.0 - p_ge
        method = "normal_approx"
    p2 = min(1.0, 2.0 * min(p_ge, p_le))
    return spark.sql(
        f"SELECT CAST({n} AS BIGINT) AS n, "
        f"CAST({k} AS BIGINT) AS k, "
        f"round(CAST({k / n!r} AS DOUBLE), 6) AS p_hat, "
        f"round(CAST({float(p0)!r} AS DOUBLE), 6) AS p0, "
        f"round(CAST({p_ge!r} AS DOUBLE), 6) AS p_greater, "
        f"round(CAST({p_le!r} AS DOUBLE), 6) AS p_less, "
        f"round(CAST({p2!r} AS DOUBLE), 6) AS p_two_sided, "
        f"'{method}' AS method")


def binom_test_sliced(df: DataFrame, success_col: str,
                      slice_col: str, p0: float) -> DataFrame:
    """:func:`binom_test_exact` per SLICE — "did the flag rate leave
    its contract ``p0`` in ANY source/language/shard?": the
    rate-contract member of the sweep family; EXACT for slices with
    ``n <= tails.BINOM_EXACT_MAX_N`` (400 — the kernel-validation
    boundary, see the constant's measured-error comment), the plain
    normal above with the branch in a ``method`` column (token-
    identical CASE text both engines via ``_binom_branch_exprs``).

    Plan: ONE conditional-aggregate scan to per-slice (k, n); the two
    exact tails ride ONE FUSED PACKED incomplete-beta chain (r14:
    :func:`~.tails.apply_ibeta_layers` packs the Lentz half-step
    layers two-per-projection — bit-identical — and mid-chain
    checkpoints of the BOUNDED per-slice table keep each codegen
    stage under the JVM method ceiling that made r13 stage the two
    kernels into separate chains; measured 5.3 -> ~2.6 s at sf0.1);
    the k = 0 / k = n boundaries CASE to
    exact 1.0, and every chain argument is CLAMPED into the validated
    region on rows the branch CASE discards.  ``p_two_sided`` =
    doubled tail as in the scalar (stated); feed it to
    :func:`bh_fdr`.  Output: ``(<slice_col>, n, k, p_hat,
    p_two_sided, p_greater, p_less, method)``."""
    if not 0.0 < p0 < 1.0:
        raise ValueError(f"binom_test_sliced needs 0 < p0 < 1, "
                         f"got {p0}")
    from .tails import BINOM_EXACT_MAX_N as _NMAX

    s = F.col(success_col).cast("boolean")
    per = (df.filter(s.isNotNull() & F.col(slice_col).isNotNull())
           .groupBy(F.col(slice_col).alias("__sl"))
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum(s.cast("int")).alias("k"))
           .localCheckpoint(eager=True))
    p0r = f"{float(p0)!r}"
    # chain args CLAMPED into the kernel's validated region (n <= 400)
    # on rows the branch CASE discards — same discipline as the
    # chi-square/Poisson sweeps
    nmx, nmx1 = f"{float(_NMAX)!r}", f"{float(_NMAX + 1)!r}"
    le = apply_ibeta_layers(
        per,
        [(f"least(greatest(CAST(k AS DOUBLE), 1.0), {nmx})",
          f"least(CAST(n - k AS DOUBLE) + 1.0, {nmx1})", p0r,
          "__ge"),
         (f"least(CAST(k AS DOUBLE) + 1.0, {nmx1})",
          f"least(greatest(CAST(n - k AS DOUBLE), 1.0), {nmx})",
          p0r, "__le1")],
        keep=("__sl", "n", "k"))
    pge, ple, meth = _binom_branch_exprs(_NMAX, p0r)
    out = le.selectExpr(
        "__sl", "n", "k",
        f"{pge} AS __pge", f"{ple} AS __ple", f"{meth} AS method")
    return out.select(
        F.col("__sl").alias(slice_col),
        F.col("n").cast("long").alias("n"),
        F.col("k").cast("long").alias("k"),
        F.round(F.col("k") / F.col("n"), 6).alias("p_hat"),
        F.round(F.least(F.lit(1.0),
                        2.0 * F.least("__pge", "__ple")), 6)
        .alias("p_two_sided"),
        F.round(F.col("__pge"), 6).alias("p_greater"),
        F.round(F.col("__ple"), 6).alias("p_less"),
        F.col("method"))


def paired_t_sliced(df: DataFrame, col_a: str, col_b: str,
                    slice_col: str) -> DataFrame:
    """:func:`paired_t_test` per SLICE — the PAIRED member the sweep
    family lacked (round 13): "did rescoring the SAME documents shift
    them in any language/source/shard?"  The paired design is where
    small per-slice n is routine (annotator studies), i.e. exactly
    the exact-tail regime.

    Plan: ONE aggregate scan over the difference column grouped by
    slice (count/avg/var_samp — three partials), then the t / dof
    closed forms and the EXACT Student-t p as the same fixed-depth
    incomplete-beta layers as :func:`welch_t_sliced` — pure
    projections, nothing reaches the driver (the million-slice
    contract; feed ``p_value`` to :func:`bh_fdr`).  Slices with n < 2
    or zero variance keep their row with null statistics.  Output:
    ``(<slice_col>, n, mean_diff, t_stat, dof, p_value)``."""
    d = F.col(col_a).cast("double") - F.col(col_b).cast("double")
    per = (df.filter(F.col(col_a).isNotNull()
                     & F.col(col_b).isNotNull()
                     & F.col(slice_col).isNotNull())
           .groupBy(F.col(slice_col).alias("__sl"))
           .agg(F.count(F.lit(1)).alias("n"),
                F.avg(d).alias("md"),
                F.var_samp(d).alias("vd")))
    ok = (F.col("n") >= 2) & (F.col("vd") > 0)
    t = F.col("md") / F.sqrt(F.col("vd") / F.col("n"))
    stats = per.select(
        "__sl", "n", "md",
        F.when(ok, t).alias("__t"),
        F.when(ok, (F.col("n") - 1).cast("double")).alias("__dof"))
    tailed = apply_ibeta_layers(
        stats,
        [("0.5 * __dof", "0.5", "__dof / (__dof + __t * __t)",
          "__p")],
        keep=("__sl", "n", "md", "__t", "__dof"))
    return tailed.select(
        F.col("__sl").alias(slice_col),
        F.col("n").cast("long").alias("n"),
        F.round(F.col("md"), 6).alias("mean_diff"),
        F.round(F.col("__t"), 6).alias("t_stat"),
        F.round(F.col("__dof"), 6).alias("dof"),
        F.round(F.col("__p"), 6).alias("p_value"))


def _normal_sf2_sql(z: str) -> str:
    """:func:`_normal_sf2` as expression text over ``z`` — the A&S
    7.1.26 polynomial, token-for-token the Python loop and the
    spelled-out oracles (Mann-Whitney, Wilcoxon), for sliced ops that
    need the two-sided normal tail as a COLUMN."""
    x = f"(abs({z}) / sqrt(2.0))"
    t = f"(1.0 / (1.0 + 0.3275911 * {x}))"
    poly = (f"({t} * (0.254829592 + {t} * (-0.284496736 + {t} * ("
            f"1.421413741 + {t} * (-1.453152027 + {t}"
            f" * 1.061405429)))))")
    return (f"least(1.0, greatest(0.0, {poly}"
            f" * exp(-{x} * {x})))")


def poisson_test_exact(df: DataFrame, mu0: float,
                       count_col: str | None = None) -> DataFrame:
    """EXACT one-sample Poisson test (round 13): is the observed
    event COUNT consistent with an expected ``mu0``?  The count
    sibling of :func:`binom_test_exact` (rates of a flag vs rates of
    EVENTS — "did the error/violation count leave its per-window
    contract?"), and its tails are the incomplete GAMMA the repo's
    fixed-depth kernel already computes exactly: ``P(X <= k) =
    Q(k + 1, mu0)`` and ``P(X >= k) = 1 - Q(k, mu0)`` (k = 0 upper
    tail is exactly 1).  ``p_two_sided`` = doubled tail (stated — R's
    ``poisson.test`` uses the pmf-threshold sum; same trade as the
    binomial op).

    Exact for ``k <= tails.POISSON_SCALAR_EXACT_MAX_K`` (100 000 —
    round 14, verdict ask #5): the scalar tails are driver-side, so
    the O(k) log-space direct summation
    (:func:`~.tails.poisson_cdf_direct`, oracle-mirrored by
    ``list_sum(generate_series)`` in the same ascending order) is
    exact far beyond the fixed-depth igamma kernel's k <= 499 depth
    ceiling — which still governs the SLICED op's column chains.
    The plain normal ``z = (k - mu0)/sqrt(mu0)`` takes over above
    (oracle-list-cost ceiling, not an accuracy cliff), stated in a
    ``method`` column.  Cross-check pins: direct sum vs igamma_q <
    2e-13 across the old gate.

    Plan: ONE aggregate scan to k (row count, or ``sum(count_col)``
    for pre-aggregated per-window counts).  Output: ONE row ``(k,
    mu0, p_greater, p_less, p_two_sided, method)``."""
    if not mu0 > 0.0:
        raise ValueError(f"poisson_test_exact needs mu0 > 0, "
                         f"got {mu0}")
    from .tails import POISSON_SCALAR_EXACT_MAX_K, \
        poisson_cdf_direct as _pcdf, poisson_sf_direct as _psf

    spark = df.sparkSession
    if count_col is None:
        k = int(df.count())
    else:
        row = (df.filter(F.col(count_col).isNotNull())
               .agg(F.sum(F.col(count_col).cast("long"))
                    .alias("k")).first())
        k = int(row["k"] or 0)
    if k <= POISSON_SCALAR_EXACT_MAX_K:
        p_ge = _psf(k, mu0)
        p_le = _pcdf(k, mu0)
        method = "exact"
    else:
        z = (k - mu0) / math.sqrt(mu0)
        sf2 = _normal_sf2(z)
        p_ge = sf2 / 2.0 if z >= 0 else 1.0 - sf2 / 2.0
        p_le = 1.0 - p_ge
        method = "normal_approx"
    p2 = min(1.0, 2.0 * min(p_ge, p_le))
    return spark.sql(
        f"SELECT CAST({k} AS BIGINT) AS k, "
        f"round(CAST({float(mu0)!r} AS DOUBLE), 6) AS mu0, "
        f"round(CAST({p_ge!r} AS DOUBLE), 6) AS p_greater, "
        f"round(CAST({p_le!r} AS DOUBLE), 6) AS p_less, "
        f"round(CAST({p2!r} AS DOUBLE), 6) AS p_two_sided, "
        f"'{method}' AS method")


def _binom_branch_exprs(nmax: int, p0: str) -> tuple:
    """(p_greater, p_less, method) expression texts over per-row
    columns ``n``/``k`` (longs) and the two beta-chain outputs
    ``__ge``/``__le1`` — ONE builder shared by the Spark sliced op
    and its DuckDB oracle (the scalar op's driver Python follows the
    same formulas on the same kernel)."""
    zt = (f"((CAST(k AS DOUBLE) - CAST(n AS DOUBLE) * {p0})"
          f" / sqrt(CAST(n AS DOUBLE) * {p0} * (1.0 - {p0})))")
    sf2 = _normal_sf2_sql(zt)
    norm_ge = (f"(CASE WHEN {zt} >= 0.0 THEN {sf2} / 2.0 "
               f"ELSE 1.0 - {sf2} / 2.0 END)")
    pge = (f"(CASE WHEN n <= {nmax} THEN "
           f"(CASE WHEN k = 0 THEN 1.0 ELSE __ge END) "
           f"ELSE {norm_ge} END)")
    ple = (f"(CASE WHEN n <= {nmax} THEN "
           f"(CASE WHEN k = n THEN 1.0 ELSE 1.0 - __le1 END) "
           f"ELSE 1.0 - {norm_ge} END)")
    meth = (f"(CASE WHEN n <= {nmax} THEN 'exact' "
            f"ELSE 'normal_approx' END)")
    return pge, ple, meth


def _poisson_branch_exprs(kmax: int, mu: str) -> tuple:
    """(p_greater, p_less, method) expression texts over per-row
    columns ``k`` (long), ``__qge``/``__qle`` (the two incomplete-
    gamma chain outputs) — ONE builder shared by the Spark sliced op
    and its DuckDB oracle, so the exact/normal branch CASEs are
    token-identical in both engines."""
    zt = f"((CAST(k AS DOUBLE) - {mu}) / sqrt({mu}))"
    sf2 = _normal_sf2_sql(zt)
    norm_ge = (f"(CASE WHEN {zt} >= 0.0 THEN {sf2} / 2.0 "
               f"ELSE 1.0 - {sf2} / 2.0 END)")
    pge = (f"(CASE WHEN k <= {kmax} THEN "
           f"(CASE WHEN k = 0 THEN 1.0 ELSE 1.0 - __qge END) "
           f"ELSE {norm_ge} END)")
    ple = (f"(CASE WHEN k <= {kmax} THEN __qle "
           f"ELSE 1.0 - {norm_ge} END)")
    meth = (f"(CASE WHEN k <= {kmax} THEN 'exact' "
            f"ELSE 'normal_approx' END)")
    return pge, ple, meth


def poisson_test_sliced(df: DataFrame, slice_col: str, mu0: float,
                        count_col: str | None = None) -> DataFrame:
    """:func:`poisson_test_exact` per SLICE — "did the event count
    leave its contract ``mu0`` in ANY day/shard/source?": the
    count-contract member of the sweep family.  Per-slice k from one
    aggregate scan; the two exact tails ride ONE FUSED packed
    incomplete-gamma chain (r14 —
    :func:`~.tails.apply_igamma_layers_multi` at IG_SLICED_ITER
    depth with mid-chain checkpoints of the bounded per-slice table;
    bit-identical to the r13 two-staged-chain spelling, ~1.3 s less
    plan constant, measured);
    slices with ``k > tails.POISSON_SLICED_EXACT_MAX_K`` (74 — the
    sliced kernel's stated depth ceiling at a = k + 1) take the
    normal approximation as a projection (same A&S text both
    engines), with the branch in a ``method`` column — the exact gate
    is deliberately the RARE-event regime (error counts, violation
    counts), which is where exactness matters.  Output:
    ``(<slice_col>, k, p_two_sided, p_greater, p_less, method)``;
    feed ``p_two_sided`` to :func:`bh_fdr`."""
    if not mu0 > 0.0:
        raise ValueError(f"poisson_test_sliced needs mu0 > 0, "
                         f"got {mu0}")
    from .tails import IG_SLICED_ITER, POISSON_SLICED_EXACT_MAX_K, \
        apply_igamma_layers_multi

    base = df.filter(F.col(slice_col).isNotNull())
    if count_col is None:
        per = (base.groupBy(F.col(slice_col).alias("__sl"))
               .agg(F.count(F.lit(1)).alias("k")))
    else:
        per = (base.filter(F.col(count_col).isNotNull())
               .groupBy(F.col(slice_col).alias("__sl"))
               .agg(F.sum(F.col(count_col).cast("long")).alias("k")))
    per = per.localCheckpoint(eager=True)
    mu = f"{float(mu0)!r}"
    kmax = POISSON_SLICED_EXACT_MAX_K
    # clamp a into the kernel's exact region on rows the CASE
    # discards (k = 0 lower boundary; k > kmax normal branch) — the
    # same discipline as the chi-square sweep's dof clamp
    le = apply_igamma_layers_multi(
        per,
        [(f"least(greatest(CAST(k AS DOUBLE), 1.0), "
          f"{float(kmax)!r})", mu, "__qge"),
         (f"least(CAST(k AS DOUBLE) + 1.0, {float(kmax + 1)!r})",
          mu, "__qle")],
        keep=("__sl", "k"), iters=IG_SLICED_ITER,
        checkpoint_every=15)
    pge, ple, meth = _poisson_branch_exprs(kmax, mu)
    out = le.selectExpr(
        "__sl", "k",
        f"{pge} AS __pge", f"{ple} AS __ple", f"{meth} AS method")
    return out.select(
        F.col("__sl").alias(slice_col),
        F.col("k").cast("long").alias("k"),
        F.round(F.least(F.lit(1.0),
                        2.0 * F.least("__pge", "__ple")), 6)
        .alias("p_two_sided"),
        F.round(F.col("__pge"), 6).alias("p_greater"),
        F.round(F.col("__ple"), 6).alias("p_less"),
        F.col("method"))


def seasonal_decompose(df: DataFrame, time_col: str, value_col: str,
                       period: int,
                       max_rows: int = 200_000) -> DataFrame:
    """Classical additive seasonal decomposition (the moving-average
    method statsmodels calls ``seasonal_decompose``): observed =
    trend + seasonal + residual.  The seasonality companion of
    :func:`autocorrelation` — ACF says "there IS a lag-7 cycle";
    this op splits the series so the trend tests
    (:func:`~.quality.mann_kendall_trend`, CUSUM) can run on the
    deseasonalized part instead of chasing the weekly wave.

    Method (Box-Jenkins classical): centered moving-average trend
    (window ``period`` for odd periods; the 2xMA half-weighted-ends
    filter for even), defined only where the full window exists;
    per-phase means of the detrended values, centered to sum to zero;
    residual = observed - trend - seasonal.

    Contract: ``time_col`` is a regular INTEGER grid (same as ACF —
    resample upstream).  The series is ordered by one unpartitioned
    window, so — same honest contract as Sen's slope — the op REFUSES
    inputs past ``max_rows`` (a decomposition input is an
    already-aggregated series; if yours has >200k points, aggregate
    coarser or raise the cap consciously).  Everything after the
    window is phase-bounded (``period`` rows, broadcast back).
    Output: one row per input point ``(t, observed, trend, seasonal,
    residual)``, trend/residual null at the edges."""
    from pyspark.sql import Window

    if period < 2:
        raise ValueError(f"period must be >= 2, got {period}")
    base = (df.filter(F.col(time_col).isNotNull()
                      & F.col(value_col).isNotNull())
            .select(F.col(time_col).cast("long").alias("t"),
                    F.col(value_col).cast("double").alias("observed"))
            .localCheckpoint(eager=True))
    n = base.count()
    if n > max_rows:
        raise ValueError(
            f"seasonal_decompose orders the series through one window; "
            f"got n={n} > max_rows={max_rows}. A decomposition input "
            "should be an already-aggregated series — aggregate "
            "coarser upstream or raise max_rows consciously.")
    w = Window.orderBy("t")
    if period % 2 == 1:
        h = period // 2
        frame = w.rowsBetween(-h, h)
        trend = F.when(
            F.count(F.lit(1)).over(frame) == period,
            F.sum("observed").over(frame) / F.lit(float(period)))
    else:
        # 2xMA: half weight on both ends of a period+1 window
        h = period // 2
        frame = w.rowsBetween(-h, h)
        trend = F.when(
            F.count(F.lit(1)).over(frame) == period + 1,
            (F.sum("observed").over(frame)
             - 0.5 * F.lag("observed", h).over(w)
             - 0.5 * F.lead("observed", h).over(w))
            / F.lit(float(period)))
    detr = base.withColumn("trend", trend).withColumn(
        "__phase", ((F.col("t") % period) + period) % period)
    detr = detr.localCheckpoint(eager=True)  # window runs once
    raw = (detr.filter(F.col("trend").isNotNull())
           .groupBy("__phase")
           .agg(F.avg(F.col("observed") - F.col("trend"))
                .alias("__raw")))
    # center the period-row table so the seasonal component sums to 0
    centered = raw.crossJoin(
        F.broadcast(raw.agg(F.avg("__raw").alias("__m")))).select(
        "__phase", (F.col("__raw") - F.col("__m")).alias("__seas"))
    return (detr.join(F.broadcast(centered), "__phase", "left")
            .select("t", "observed",
                    F.round("trend", 6).alias("trend"),
                    F.round("__seas", 6).alias("seasonal"),
                    F.round(F.col("observed") - F.col("trend")
                            - F.col("__seas"), 6).alias("residual"))
            .orderBy("t"))


def autocorrelation(df: DataFrame, time_col: str, value_col: str,
                    max_lag: int = 7) -> DataFrame:
    """Sample autocorrelation function (ACF) of a regular time series
    at lags 1..max_lag — the periodicity screen for ingest volume and
    metric series (a weekly crawl cadence shows up as a lag-7 spike;
    the trend tests in :mod:`~.quality` assume you've LOOKED for
    seasonality first).

    Contract: ``time_col`` is an INTEGER index on a regular grid
    (resample upstream — e.g. per-day means via
    :func:`~.timeseries.resample`); gaps are fine (missing pairs just
    drop out, per the pairwise-complete convention).  Statistic: the
    standard biased-denominator estimator ``r_k = sum_t (x_t - mu)
    (x_{t+k} - mu) / sum_t (x_t - mu)^2`` with the GLOBAL mean/SS in
    the denominator (Box & Jenkins) — not a per-lag Pearson.

    Plan: the series is checkpointed (mean pass + both join sides),
    lags materialize as a ``sequence`` explode (xmax_lag on the
    SERIES, which is already aggregate-sized), and pairing is one
    equi-join on the shifted index — shuffle on the integer key, no
    window at all.  Output: ``max_lag`` rows ``(lag, n_pairs, acf)``,
    null acf when the series is constant."""
    if max_lag < 1:
        raise ValueError(f"max_lag must be >= 1, got {max_lag}")
    base = (df.filter(F.col(time_col).isNotNull()
                      & F.col(value_col).isNotNull())
            .select(F.col(time_col).cast("long").alias("__t"),
                    F.col(value_col).cast("double").alias("__v"))
            .localCheckpoint(eager=True))
    # two-pass demeaning: mean first (tiny row), then centered SS and
    # cross products against the literal scalar
    mu_row = base.agg(F.avg("__v").alias("mu")).first()
    mu = float(mu_row["mu"]) if mu_row["mu"] is not None else 0.0
    ss = base.agg(F.sum((F.col("__v") - F.lit(mu))
                        * (F.col("__v") - F.lit(mu)))
                  .alias("ss")).first()["ss"]
    ss = float(ss or 0.0)
    shifted = (base.withColumn(
        "__lag", F.explode(F.sequence(F.lit(1), F.lit(max_lag))))
        .select(F.col("__lag"), (F.col("__t") + F.col("__lag"))
                .alias("__t"), F.col("__v").alias("__v0")))
    pairs = shifted.join(base, "__t")
    return (pairs.groupBy(F.col("__lag").cast("int").alias("lag"))
            .agg(F.count(F.lit(1)).alias("n_pairs"),
                 F.sum((F.col("__v0") - F.lit(mu))
                       * (F.col("__v") - F.lit(mu))).alias("__num"))
            .select("lag", "n_pairs",
                    F.round(F.when(F.lit(ss) > 0,
                                   F.col("__num") / F.lit(ss)), 6)
                    .alias("acf"))
            .orderBy("lag"))
