"""Round-11 regression pins: the four round-10 ADVICE items, then the
round's new operators (tests appended as they land)."""
import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------
# ADVICE r10 fixes
# ---------------------------------------------------------------------

def test_mutual_information_empty_slice_keeps_contract(spark):
    """ADVICE (medium): the empty branch used to return the chi2
    schema (n, n_rows, n_cols, chi2, dof, cramers_v); the documented
    contract is ONE row (n, mi, h_x, h_y, nmi) so per-slice unions
    don't break on an empty slice."""
    from tap_airbyte_wrapper_spark.operators import mutual_information

    df = spark.createDataFrame([(None, "y"), ("x", None)],
                               "x string, y string")
    out = mutual_information(df, "x", "y")
    assert out.columns == ["n", "mi", "h_x", "h_y", "nmi"]
    row = out.first()
    assert row["n"] == 0 and row["mi"] is None and row["nmi"] is None
    # schema must union cleanly with the non-empty output
    nonempty = mutual_information(
        spark.createDataFrame([("a", "p"), ("b", "q")],
                              "x string, y string"), "x", "y")
    assert out.unionByName(nonempty).count() == 2


def test_pmi_ignores_null_text_rows(spark):
    """ADVICE (low): words(NULL) is a null array and size(null) = -1
    under legacy sizeOfNull, which used to shrink the bigram total by
    one per null-text row.  A corpus with nulls must produce the same
    PMI values as the same corpus with nulls dropped."""
    from tap_airbyte_wrapper_spark.functions.corpus import (
        pmi_collocations)

    rows = [(1, "new york new york new york"),
            (2, "york new york new york new"),
            (3, None), (4, None), (5, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    clean = df.filter(F.col("text").isNotNull())
    got = {(r["w1"], r["w2"]): r["pmi"]
           for r in pmi_collocations(df, min_count=2, k=10).collect()}
    want = {(r["w1"], r["w2"]): r["pmi"]
            for r in pmi_collocations(clean, min_count=2,
                                      k=10).collect()}
    assert got == want and got  # non-empty and identical


def test_ks_and_wasserstein_refuse_past_exact_envelope():
    """ADVICE (low): na*nb >= 2^53 leaves the exact-rational envelope;
    the degradation must be an instructive refusal (like
    kruskal_wallis's max_groups), not a silent precision loss."""
    from tap_airbyte_wrapper_spark.operators.stats import (
        _exactness_envelope)

    big = 100_000_000  # 1e8 each -> 1e16 > 2^53
    with pytest.raises(ValueError, match="2\\^53"):
        _exactness_envelope(big, big, "ks_test")
    with pytest.raises(ValueError, match="exact-rational"):
        _exactness_envelope(big, big, "wasserstein_1d")
    _exactness_envelope(90_000_000, 90_000_000, "ks_test")  # inside


def test_drift_report_keeps_latest_not_slowest(spark, tmp_path):
    """ADVICE (low): the report dedup used to order on wall_seconds
    (a duration) so the SLOWEST run won, not the latest.  With the
    written_at stamp, a later verdict supersedes an earlier one even
    when the earlier run was slower."""
    import os

    from tap_airbyte_wrapper_spark.streaming import (
        read_drift_gate_report)

    gate_dir = os.path.join(str(tmp_path), "_drift_gate")
    # older row: slow run, landed=False; newer row: fast run,
    # landed=True — the old ordering would keep the stale verdict
    spark.createDataFrame(
        [(0, 10, 3.5, False, 9.0, 1000.0),
         (0, 10, 0.2, True, 0.5, 2000.0)],
        "batch_id long, n long, psi double, landed boolean, "
        "wall_seconds double, written_at double"
    ).write.mode("append").parquet(gate_dir)
    row = read_drift_gate_report(spark, str(tmp_path)).first()
    assert row["landed"] is True and row["written_at"] == 2000.0


def test_benford_survives_all_null_slice(spark):
    """Regression (r11 audit): an all-null value column made every
    digit count 0, so exp_n = 0 and the ANSI chi2 division threw —
    the audit table must come back with 9 digit rows and null chi2."""
    from tap_airbyte_wrapper_spark.operators import benford_deviation

    rows = benford_deviation(
        spark.createDataFrame([(None,), (None,)], "a double"),
        "a").collect()
    assert len(rows) == 9
    assert all(r["n"] == 0 and r["chi2"] is None for r in rows)


def test_rank_tests_survive_all_null_slice(spark):
    """Regression (r11 audit): an all-null value slice used to crash
    mann_whitney_u/kruskal_wallis with ArrayIndexOutOfBounds — the
    empty counts table left the two-phase prefix machinery with an
    empty offsets array, and constant folding evaluated
    element_at(array(), 1) at PLAN time despite zero rows.  Every
    sibling keeps its one-null-row contract on the same input."""
    from tap_airbyte_wrapper_spark.operators import (kruskal_wallis,
                                                     mann_whitney_u)

    df = spark.createDataFrame([(None, "a"), (None, "b")],
                               "v double, g string")
    row = mann_whitney_u(df, "v", "g", "a", "b").first()
    assert row["n_a"] == 0 and row["u_stat"] is None
    row = kruskal_wallis(df, "v", "g").first()
    assert row["k"] == 0 and row["h"] is None


# ---------------------------------------------------------------------
# Welch one-way ANOVA F (Welch 1951) — k-group parametric screen
# ---------------------------------------------------------------------

def _grouped_df(spark, groups):
    rows = [(float(v), g) for g, vs in groups.items() for v in vs]
    return spark.createDataFrame(rows, "v double, g string")


def test_welch_anova_k2_equals_welch_t_squared(spark):
    """R's documented sleep-data Welch t: t = -1.8608, df = 17.776
    (oneway.test gives F = 3.4626 = t^2 with the same denominator
    df).  For k = 2 Welch's F must equal t^2 and df2 must equal the
    Welch-Satterthwaite dof exactly."""
    from tap_airbyte_wrapper_spark.operators import (welch_anova,
                                                     welch_t_test)

    g1 = [0.7, -1.6, -0.2, -1.2, -0.1, 3.4, 3.7, 0.8, 0.0, 2.0]
    g2 = [1.9, 0.8, 1.1, 0.1, -0.1, 4.4, 5.5, 1.6, 4.6, 3.4]
    df = _grouped_df(spark, {"a": g1, "b": g2})
    row = welch_anova(df, "v", "g").first()
    assert row["f_stat"] == pytest.approx(3.462627, abs=1e-5)
    assert row["df2"] == pytest.approx(17.77647, abs=1e-4)
    t = welch_t_test(df, "v", "g", "a", "b").first()
    assert row["f_stat"] == pytest.approx(t["t_stat"] ** 2, abs=1e-4)
    assert row["df2"] == pytest.approx(t["dof"], abs=1e-4)


def test_welch_anova_k3_formula_pin(spark):
    """Three unequal-variance groups, expected values computed
    independently from the Welch 1951 formulas (weights, weighted
    grand mean, Paulson z)."""
    from tap_airbyte_wrapper_spark.operators import welch_anova

    row = welch_anova(_grouped_df(spark, {
        "a": [1, 2, 3, 4], "b": [2, 4, 6, 8, 10],
        "c": [5, 5.5, 6, 6.5]}), "v", "g").first()
    assert row["n"] == 13 and row["k"] == 3
    assert row["f_stat"] == pytest.approx(9.256145, abs=1e-6)
    assert row["df1"] == 2.0
    assert row["df2"] == pytest.approx(5.722919, abs=1e-6)
    # Paulson z = 2.1253 -> one-sided p ~ 0.0168
    assert row["p_value"] == pytest.approx(0.0168, abs=2e-3)


def test_welch_anova_degenerates_and_guard(spark):
    from tap_airbyte_wrapper_spark.operators import welch_anova

    # single group -> nulls, n/k still report
    row = welch_anova(_grouped_df(spark, {"a": [1, 2, 3]}),
                      "v", "g").first()
    assert row["k"] == 1 and row["f_stat"] is None
    # n_j < 2 groups are excluded (complete-case)
    row = welch_anova(_grouped_df(spark, {
        "a": [1, 2, 3], "b": [2, 3, 9], "tiny": [7]}),
        "v", "g").first()
    assert row["k"] == 2 and row["n"] == 6
    # zero-variance group degenerates the weights -> nulls
    row = welch_anova(_grouped_df(spark, {
        "a": [1, 2, 3], "b": [5, 5, 5]}), "v", "g").first()
    assert row["f_stat"] is None and row["k"] == 2
    # id-like group column refuses
    rows = [(float(i % 7), str(i)) for i in range(50)]
    with pytest.raises(ValueError, match="max_groups"):
        welch_anova(spark.createDataFrame(rows, "v double, g string"),
                    "v", "g", max_groups=10)


# ---------------------------------------------------------------------
# Sliced KS — the per-slice drift sweep, nothing on the driver
# ---------------------------------------------------------------------

def test_ks_sliced_equals_scalar_per_slice(spark):
    """Each slice row must equal ks_test run on that slice alone —
    including the column-expression Kolmogorov p series matching the
    driver-side math.exp series to 6 decimals; a planted shift slice
    flags while an identical slice reads D = 0, p = 1."""
    from tap_airbyte_wrapper_spark.operators import (ks_test,
                                                     ks_test_sliced)

    rows = []
    for i in range(400):
        rows += [(float(i % 50), "a", "s1"),
                 (float((i * 7) % 50), "b", "s1"),
                 (float(i % 50), "a", "s2"),
                 (float(i % 50) + 20.0, "b", "s2"),
                 (float(i % 50), "a", "s3"),
                 (float(i % 50) + (1.0 if i % 9 == 0 else 0.0), "b",
                  "s3")]
    df = spark.createDataFrame(rows, "v double, g string, s string")
    out = {r["s"]: r for r in
           ks_test_sliced(df, "v", "g", "a", "b", "s").collect()}
    assert len(out) == 3
    for s in ["s1", "s2", "s3"]:
        ref = ks_test(df.filter(df.s == s), "v", "g", "a", "b").first()
        for c in ["n_a", "n_b", "d_stat", "p_value"]:
            assert out[s][c] == ref[c], (s, c, out[s][c], ref[c])
    assert out[s2 := "s2"]["p_value"] == 0.0 and out["s1"]["d_stat"] == 0.0


def test_ks_sliced_empty_group_and_envelope(spark):
    """A slice where one group is empty reports null stats (not a
    dropped row, not a crash); the per-slice 2^53 envelope nulls out
    instead of refusing (one huge slice must not kill the sweep)."""
    from tap_airbyte_wrapper_spark.operators import ks_test_sliced

    rows = [(1.0, "a", "only_a"), (2.0, "a", "only_a"),
            (1.0, "a", "both"), (2.0, "b", "both")]
    out = {r["s"]: r for r in ks_test_sliced(
        spark.createDataFrame(rows, "v double, g string, s string"),
        "v", "g", "a", "b", "s").collect()}
    assert out["only_a"]["n_b"] == 0
    assert out["only_a"]["d_stat"] is None
    assert out["both"]["d_stat"] == 1.0


def test_welch_sliced_equals_scalar_per_slice(spark):
    """Each slice row equals welch_t_test on that slice alone —
    including the column-expression erf p matching the driver-side
    polynomial; an n=1 slice keeps its counts with null stats."""
    from tap_airbyte_wrapper_spark.operators import (welch_t_sliced,
                                                     welch_t_test)

    rows = []
    for i in range(300):
        rows += [(float(i % 40), "a", "s1"),
                 (float(i % 40) + 2.0, "b", "s1"),
                 (float(i % 40), "a", "s2"),
                 (float(i % 40), "b", "s2")]
    rows.append((5.0, "a", "tiny"))
    df = spark.createDataFrame(rows, "v double, g string, s string")
    out = {r["s"]: r for r in
           welch_t_sliced(df, "v", "g", "a", "b", "s").collect()}
    for s in ["s1", "s2"]:
        ref = welch_t_test(df.filter(df.s == s), "v", "g",
                           "a", "b").first()
        for c in ["n_a", "n_b", "mean_a", "mean_b", "t_stat", "dof",
                  "p_value"]:
            assert out[s][c] == ref[c], (s, c)
    assert out["tiny"]["n_a"] == 1 and out["tiny"]["t_stat"] is None


def test_mde_closed_form_and_quantiles(spark):
    """Acklam quantiles pin to the textbook z values (1.959964 /
    0.841621); the MDE row is the closed form over the observed Welch
    se, and a bigger slice has a SMALLER mde (the point of the
    table)."""
    import math

    from tap_airbyte_wrapper_spark.operators import (
        min_detectable_effect)
    from tap_airbyte_wrapper_spark.operators.stats import _normal_ppf

    assert _normal_ppf(0.975) == pytest.approx(1.959964, abs=1e-6)
    assert _normal_ppf(0.8) == pytest.approx(0.841621, abs=1e-6)
    rows = []
    for i in range(400):
        rows += [(float(i % 40), "a", "big"),
                 (float(i % 40) + 1.0, "b", "big")]
    for i in range(20):
        # (i*2) % 40 spans the same 0..38 range so the small slice
        # differs in n, not in spread
        rows += [(float((i * 2) % 40), "a", "small"),
                 (float((i * 2) % 40) + 1.0, "b", "small")]
    df = spark.createDataFrame(rows, "v double, g string, s string")
    out = {r["s"]: r for r in min_detectable_effect(
        df, "v", "g", "a", "b", "s").collect()}
    zsum = _normal_ppf(0.975) + _normal_ppf(0.8)
    big = out["big"]
    assert big["mde_abs"] == pytest.approx(
        round(zsum * big["se"], 6), abs=2e-6)
    assert big["mde_rel"] == pytest.approx(
        big["mde_abs"] / abs(big["mean_a"]), abs=1e-4)
    assert out["small"]["mde_abs"] > big["mde_abs"] * 3  # ~sqrt(20x)
    assert out["small"]["mde_abs"] == pytest.approx(
        big["mde_abs"] * math.sqrt(400 / 20), rel=0.05)
    with pytest.raises(ValueError, match="alpha"):
        min_detectable_effect(df, "v", "g", "a", "b", "s", alpha=1.5)


# ---------------------------------------------------------------------
# TOST equivalence — "provably inside ±margin", not "not significant"
# ---------------------------------------------------------------------

def test_tost_proves_equivalence_and_refuses_difference(spark):
    """Two near-identical large slices pass TOST at a loose margin and
    FAIL it at a margin tighter than their true shift; the symmetric
    one-sided structure pins p_lower == p_upper when d == 0."""
    from tap_airbyte_wrapper_spark.operators import tost_equivalence

    a = [float(v % 40) for v in range(400)]
    b = [float(v % 40) + 0.5 for v in range(400)]
    df = _grouped_df(spark, {"a": a, "b": b})
    loose = tost_equivalence(df, "v", "g", "a", "b",
                             margin=3.0).first()
    assert loose["diff"] == pytest.approx(-0.5, abs=1e-9)
    assert loose["p_tost"] < 0.01           # equivalent within ±3
    tight = tost_equivalence(df, "v", "g", "a", "b",
                             margin=0.1).first()
    assert tight["p_tost"] > 0.5            # NOT provably within ±0.1
    sym = tost_equivalence(_grouped_df(spark, {"a": a, "b": a}),
                           "v", "g", "a", "b", margin=1.0).first()
    assert sym["p_lower"] == sym["p_upper"]


def test_tost_one_sided_tails_hand_pin(spark):
    """Hand pin of the Schuirmann tails: with d, se, margin and the
    Welch dof known, p_lower = P(T_dof > (d+m)/se) and p_upper =
    P(T_dof > (m-d)/se) — EXACT Student-t tails since round 12 (both
    groups n = 5, var 2.5 -> wa = wb = 0.5 -> dof = 8 by
    Welch-Satterthwaite, also asserted)."""
    import math

    from tap_airbyte_wrapper_spark.operators import tost_equivalence
    from tap_airbyte_wrapper_spark.operators.tails import t_sf1

    a = [1.0, 2.0, 3.0, 4.0, 5.0]
    b = [1.5, 2.5, 3.5, 4.5, 5.5]
    row = tost_equivalence(_grouped_df(spark, {"a": a, "b": b}),
                           "v", "g", "a", "b", margin=2.0).first()
    se = math.sqrt(2.5 / 5 + 2.5 / 5)
    assert row["se"] == pytest.approx(se, abs=1e-6)
    assert row["dof"] == pytest.approx(8.0, abs=1e-6)
    assert row["p_lower"] == pytest.approx(
        round(t_sf1((-0.5 + 2.0) / se, 8.0), 6), abs=1e-6)
    assert row["p_upper"] == pytest.approx(
        round(t_sf1((2.0 + 0.5) / se, 8.0), 6), abs=1e-6)
    # degenerate + guard
    deg = tost_equivalence(_grouped_df(spark, {"a": [1.0], "b": b}),
                           "v", "g", "a", "b", margin=1.0).first()
    assert deg["p_tost"] is None and deg["n_a"] == 1
    with pytest.raises(ValueError, match="margin"):
        tost_equivalence(_grouped_df(spark, {"a": a, "b": b}),
                         "v", "g", "a", "b", margin=0.0)


# ---------------------------------------------------------------------
# Pairwise Welch t — post-hoc drill after welch_anova
# ---------------------------------------------------------------------

def test_pairwise_welch_matches_two_sample_op(spark):
    """Each pair row must equal welch_t_test run on that pair alone
    (same t / dof / p contract), and the pair set is all unordered
    pairs ordered lexicographically."""
    from tap_airbyte_wrapper_spark.operators import (pairwise_welch,
                                                     welch_t_test)

    groups = {"a": [1.0, 2.0, 3.0, 4.0], "b": [2.0, 4.0, 6.0, 8.0],
              "c": [5.0, 5.5, 6.0, 6.5]}
    df = _grouped_df(spark, groups)
    out = pairwise_welch(df, "v", "g").collect()
    assert [(r["group_a"], r["group_b"]) for r in out] == \
        [("a", "b"), ("a", "c"), ("b", "c")]
    for r in out:
        ref = welch_t_test(df, "v", "g", r["group_a"],
                           r["group_b"]).first()
        for m in ["n_a", "n_b", "mean_a", "mean_b", "t_stat", "dof",
                  "p_value"]:
            assert r[m] == ref[m], (r["group_a"], r["group_b"], m)


def test_pairwise_welch_degenerates_and_guard(spark):
    from tap_airbyte_wrapper_spark.operators import (bh_fdr,
                                                     pairwise_welch)

    # a 1-row group pairs with null stats but reported means
    out = pairwise_welch(_grouped_df(spark, {
        "a": [1.0, 2.0, 3.0], "tiny": [7.0]}), "v", "g").collect()
    assert len(out) == 1 and out[0]["t_stat"] is None
    assert out[0]["mean_b"] == 7.0
    # composes with bh_fdr on p_value
    df = _grouped_df(spark, {"a": [1, 2, 3, 4], "b": [2, 4, 6, 8],
                             "c": [50, 51, 52, 53]})
    pw = pairwise_welch(df, "v", "g").withColumn(
        "pair", F.concat_ws("|", "group_a", "group_b"))
    rej = {r["pair"]: r["rejected"]
           for r in bh_fdr(pw, "p_value", "pair").collect()}
    assert rej["a|c"] and rej["b|c"]
    # quadratic-output guard
    rows = [(float(i % 7), str(i)) for i in range(60)]
    with pytest.raises(ValueError, match="max_groups"):
        pairwise_welch(spark.createDataFrame(
            rows, "v double, g string"), "v", "g", max_groups=10)


# ---------------------------------------------------------------------
# Brown-Forsythe — the k-group spread-homogeneity screen
# ---------------------------------------------------------------------

def test_brown_forsythe_formula_pin(spark):
    """3 groups with one even-n group (its exact median is the average
    of the two middle values); expected F computed independently from
    the Brown & Forsythe 1974 definition."""
    from tap_airbyte_wrapper_spark.operators import brown_forsythe

    row = brown_forsythe(_grouped_df(spark, {
        "a": [1, 2, 3, 4, 9], "b": [2, 4, 6, 8, 10, 12],
        "c": [5, 5.5, 6, 6.5]}), "v", "g").first()
    assert row["n"] == 15 and row["k"] == 3
    assert row["f_stat"] == pytest.approx(2.352941, abs=1e-6)
    assert row["df1"] == 2.0 and row["df2"] == 12.0
    assert 0.10 < row["p_value"] < 0.18  # exact F tail ~ 0.137


def test_brown_forsythe_detects_spread_change(spark):
    """Same medians, one group's spread scaled 10x -> significant;
    identical spreads -> F ~ 0."""
    from tap_airbyte_wrapper_spark.operators import brown_forsythe

    base = [float(v) for v in range(-10, 11)]
    same = brown_forsythe(_grouped_df(spark, {
        "a": base, "b": [v + 100 for v in base]}), "v", "g").first()
    assert same["f_stat"] == pytest.approx(0.0, abs=1e-9)
    blown = brown_forsythe(_grouped_df(spark, {
        "a": base, "b": [v * 10 for v in base]}), "v", "g").first()
    assert blown["p_value"] < 0.001


def test_brown_forsythe_edges(spark):
    from tap_airbyte_wrapper_spark.operators import brown_forsythe

    # single group -> nulls with counts; n_j < 2 groups excluded
    row = brown_forsythe(_grouped_df(spark, {"a": [1, 2, 3]}),
                         "v", "g").first()
    assert row["k"] == 1 and row["f_stat"] is None
    row = brown_forsythe(_grouped_df(spark, {
        "a": [1, 2, 3], "b": [2, 5, 9], "tiny": [7]}),
        "v", "g").first()
    assert row["k"] == 2 and row["n"] == 6
    # constant groups: every |x - med| = 0 -> degenerate nulls
    row = brown_forsythe(_grouped_df(spark, {
        "a": [5, 5, 5], "b": [7, 7, 7]}), "v", "g").first()
    assert row["f_stat"] is None
    rows = [(float(i % 7), str(i)) for i in range(50)]
    with pytest.raises(ValueError, match="max_groups"):
        brown_forsythe(spark.createDataFrame(
            rows, "v double, g string"), "v", "g", max_groups=10)


def test_bleu_per_doc_plan_scales_clean(spark, sf_dir):
    """The round's one LAZY distributed fleet entry (the stats ops
    return literal one-row frames — their internal plans are covered
    by the ops' own scale shapes): no cartesian product, no GLOBAL
    sort — the per-doc closed form is pure projection over grouped
    aggregates."""
    import io
    from contextlib import redirect_stdout

    from tap_airbyte_wrapper_spark.plans import QUERIES

    buf = io.StringIO()
    with redirect_stdout(buf):
        QUERIES["bleu_per_doc_docs"](spark, sf_dir).explain("formatted")
    p = buf.getvalue()
    assert "CartesianProduct" not in p
    assert "Sort [" not in p  # no total-order anywhere in the plan


# ---------------------------------------------------------------------
# ICC(1,1) / ICC(3,1) — closing the Shrout-Fleiss single-rater family
# ---------------------------------------------------------------------

def _sf_grid(spark):
    data = {1: [9, 2, 5, 8], 2: [6, 1, 3, 2], 3: [8, 4, 6, 8],
            4: [7, 1, 2, 6], 5: [10, 5, 6, 9], 6: [6, 2, 4, 7]}
    rows = [(i, j + 1, float(v))
            for i, vs in data.items() for j, v in enumerate(vs)]
    return spark.createDataFrame(rows,
                                 "item long, rater int, score double")


def test_icc_1_1_and_3_1_shrout_fleiss_table(spark):
    """Shrout & Fleiss 1979 Table 2 (6 targets x 4 judges): the
    published column reads ICC(1,1) = .17, ICC(2,1) = .29,
    ICC(3,1) = .71; exact values 0.165742 / 0.289764 / 0.714841."""
    from tap_airbyte_wrapper_spark.operators import icc_1_1, icc_3_1

    one = icc_1_1(_sf_grid(spark), "item", "rater", "score").first()
    assert one["n_items"] == 6 and one["k_raters"] == 4
    assert one["icc"] == pytest.approx(0.165742, abs=1e-6)
    three = icc_3_1(_sf_grid(spark), "item", "rater", "score").first()
    assert three["icc"] == pytest.approx(0.714841, abs=1e-6)


def test_icc_all_forms_matches_single_form_ops(spark):
    """The one-scan family op agrees with each single-form op on the
    published grid (0.165742 / 0.289764 / 0.714841) and keeps the
    count columns."""
    from tap_airbyte_wrapper_spark.operators import icc_all_forms

    row = icc_all_forms(_sf_grid(spark), "item", "rater",
                        "score").first()
    assert row["n_items"] == 6 and row["k_raters"] == 4
    assert row["icc11"] == pytest.approx(0.165742, abs=1e-6)
    assert row["icc21"] == pytest.approx(0.289764, abs=1e-6)
    assert row["icc31"] == pytest.approx(0.714841, abs=1e-6)


def test_icc_form_ordering_and_degenerate(spark):
    """ICC(1,1) <= ICC(2,1) <= ICC(3,1) on any grid with rater main
    effects; a one-rater grid nulls out with counts intact."""
    from tap_airbyte_wrapper_spark.operators import (icc_1_1, icc_2_1,
                                                     icc_3_1)

    grid = _sf_grid(spark)
    i1 = icc_1_1(grid, "item", "rater", "score").first()["icc"]
    i2 = icc_2_1(grid, "item", "rater", "score").first()["icc"]
    i3 = icc_3_1(grid, "item", "rater", "score").first()["icc"]
    assert i1 <= i2 <= i3
    one_rater = spark.createDataFrame(
        [(i, 1, float(i)) for i in range(5)],
        "item long, rater int, score double")
    row = icc_1_1(one_rater, "item", "rater", "score").first()
    assert row["k_raters"] == 1 and row["icc"] is None
    assert "wms" in icc_1_1(grid, "item", "rater", "score").columns
    assert "ems" in icc_3_1(grid, "item", "rater", "score").columns


# ---------------------------------------------------------------------
# Per-doc BLEU/ROUGE (drill-down companion of bleu_rouge_corpus)
# ---------------------------------------------------------------------

def test_bleu_per_doc_matches_corpus_on_single_doc(spark):
    """On a 1-document corpus the per-doc row must equal the corpus
    row metric-for-metric (same clipping, totals, bp — just no
    summation to collapse)."""
    from tap_airbyte_wrapper_spark.functions import (bleu_rouge_corpus,
                                                     bleu_rouge_per_doc)

    df = spark.createDataFrame(
        [(1, "the cat sat on the mat today", "the cat sat on a mat")],
        "doc_id long, cand string, ref string")
    corpus = bleu_rouge_corpus(df, "cand", "ref", "doc_id").first()
    per = bleu_rouge_per_doc(df, "cand", "ref", "doc_id").first()
    for m in ["p1", "p2", "p3", "p4", "rouge1_r", "rouge2_r",
              "bp", "bleu"]:
        assert per[m] == pytest.approx(corpus[m], abs=1e-6), m
    assert per["doc_id"] == 1 and per["c_len"] == 7


def test_bleu_per_doc_separates_damaged_docs(spark):
    """Verbatim copies score exactly 1 everywhere; a damaged doc
    scores < 1; zero-overlap candidates score bleu = 0 (no
    smoothing)."""
    from tap_airbyte_wrapper_spark.functions import bleu_rouge_per_doc

    ref = "alpha beta gamma delta epsilon zeta"
    rows = [(1, ref, ref),
            (2, "alpha beta gamma delta zeta epsilon", ref),
            (3, "xxx yyy zzz www vvv uuu", ref)]
    out = {r["doc_id"]: r for r in bleu_rouge_per_doc(
        spark.createDataFrame(rows,
                              "doc_id long, cand string, ref string"),
        "cand", "ref", "doc_id", max_n=2).collect()}
    assert out[1]["bleu"] == 1.0 and out[1]["rouge1_r"] == 1.0
    assert out[2]["p1"] == 1.0 and 0 < out[2]["bleu"] < 1.0
    assert out[3]["bleu"] == 0.0 and out[3]["p1"] == 0.0


def test_bleu_per_doc_short_and_empty_edges(spark):
    """A 1-token candidate has no bigrams -> p2 null -> bleu null at
    max_n=2; an all-whitespace pair still emits its row with null
    metrics; null cand drops the pair (corpus-op contract)."""
    from tap_airbyte_wrapper_spark.functions import bleu_rouge_per_doc

    rows = [(1, "hello", "hello"), (2, "  ", "  "), (3, None, "x")]
    out = {r["doc_id"]: r for r in bleu_rouge_per_doc(
        spark.createDataFrame(rows,
                              "doc_id long, cand string, ref string"),
        "cand", "ref", "doc_id", max_n=2).collect()}
    assert set(out) == {1, 2}
    assert out[1]["p1"] == 1.0 and out[1]["bleu"] is None
    assert out[2]["c_len"] == 0 and out[2]["bleu"] is None
    with pytest.raises(ValueError):
        bleu_rouge_per_doc(spark.createDataFrame(
            [(1, "a", "a")], "doc_id long, cand string, ref string"),
            "cand", "ref", "doc_id", max_n=0)


# ---------------------------------------------------------------------
# MP4 sample-table (stts) timing signature — same-fps re-encode gate
# ---------------------------------------------------------------------

def _vfr_deltas(n=120, base=3000):
    # variable-frame-rate timing: the discriminating case for the sig
    return [base + ((i * 37) % 7) * 150 for i in range(n)]


def _mp4_asset(deltas, seed, w=640, h=360, dur=4000, sizes=None):
    """Stub header with a real stts (+optional stsz) and an
    md5-chain mdat essence — seed selects the 'encode'."""
    import hashlib
    import struct

    from tap_airbyte_wrapper_spark.functions import mp4_stub

    stub = mp4_stub(w, h, dur, sample_deltas=deltas,
                    sample_sizes=sizes)
    body = stub[:-16]  # drop the stock empty mdat box
    ess = bytearray()
    i = 0
    while len(ess) < 2300:
        ess += hashlib.md5(f"{seed}:{i}".encode()).digest()
        i += 1
    return body + struct.pack(">I", 8 + 2300) + b"mdat" \
        + bytes(ess[:2300])


def test_mp4_sample_deltas_roundtrip():
    from tap_airbyte_wrapper_spark.functions import (mp4_sample_deltas,
                                                     mp4_stub)

    deltas = _vfr_deltas()
    ts, entries = mp4_sample_deltas(
        mp4_stub(640, 360, 4000, sample_deltas=deltas,
                 sample_sizes=[100] * len(deltas)))
    assert ts == 90000
    expanded = [d for cnt, d in entries for _ in range(cnt)]
    assert expanded == deltas
    # stock stub has no sample table; junk is not MP4; a truncated
    # stts refuses rather than guessing
    assert mp4_sample_deltas(mp4_stub(640, 360, 4000)) is None
    assert mp4_sample_deltas(b"\x00" * 64) is None
    full = mp4_stub(640, 360, 4000, sample_deltas=deltas)
    assert mp4_sample_deltas(full[:len(full) - 300]) is None


def test_timing_sig_survives_reencode_and_timescale(spark):
    """The planted re-encode: durations preserved, every essence byte
    rewritten — byte-window signatures decorrelate, timing signatures
    are IDENTICAL; and the microsecond normalization makes the sig
    invariant to a timescale rewrite (90000 -> 45000 with halved
    deltas)."""
    import struct

    from tap_airbyte_wrapper_spark.functions import (media_window_sig,
                                                     mp4_timing_sig)

    deltas = _vfr_deltas()
    a = _mp4_asset(deltas, seed=1, sizes=[100 + i for i in
                                          range(len(deltas))])
    b = _mp4_asset(deltas, seed=2, sizes=[90 + 2 * i for i in
                                          range(len(deltas))])
    c = _mp4_asset(list(reversed(deltas)), seed=3)
    # timescale rewrite of a: halve every delta, patch mdhd 90000->45000
    half = _mp4_asset([d // 2 for d in deltas], seed=4)
    at = half.find(b"mdhd") + 16
    assert struct.unpack(">I", half[at:at + 4])[0] == 90000
    half = half[:at] + struct.pack(">I", 45000) + half[at + 4:]
    # deltas must be even for exact halving
    assert all(d % 2 == 0 for d in deltas)
    df = spark.createDataFrame(
        [(1, a), (2, b), (3, c), (4, half)], "id long, m binary")
    # stride=32 so the 2300-byte test essence spans the 64 windows
    # (at the production 4096 stride a fixture this small informs
    # only one window)
    rows = {r["id"]: r for r in df.select(
        "id", mp4_timing_sig(F.col("m")).alias("ts"),
        media_window_sig(F.col("m"), stride=32).alias("ws")).collect()}
    assert rows[1]["ts"] == rows[2]["ts"]          # re-encode caught
    assert rows[1]["ts"] != rows[3]["ts"]          # timing change seen
    assert rows[1]["ts"] == rows[4]["ts"]          # timescale-invariant
    xor = rows[1]["ws"] ^ rows[2]["ws"]
    assert bin(xor & ((1 << 64) - 1)).count("1") > 6  # byte sig misses


def test_media_timing_pairs_catch_reencode(spark):
    """End-to-end: the timing gate pairs the re-encode the container
    gate misses; a resized re-upload honestly escapes (dims leave the
    block); different timing in the same block does not pair."""
    from tap_airbyte_wrapper_spark.functions import (
        media_container_near_dup_pairs,
        media_timing_near_dup_pairs,
    )

    deltas = _vfr_deltas()
    rows = [(1, _mp4_asset(deltas, seed=1)),
            (2, _mp4_asset(deltas, seed=2)),          # re-encode of 1
            (3, _mp4_asset(list(reversed(deltas)), seed=3)),
            (4, _mp4_asset(deltas, seed=1, w=1280, h=720))]  # resized
    df = spark.createDataFrame(rows, "id long, m binary")
    timing = {(r["id_a"], r["id_b"]) for r in
              media_timing_near_dup_pairs(df, "id", "m").collect()}
    assert timing == {(1, 2)}
    container = {(r["id_a"], r["id_b"]) for r in
                 media_container_near_dup_pairs(
                     df, "id", "m", stride=32).collect()}
    assert (1, 2) not in container  # the gap this gate closes


# ---------------------------------------------------------------------
# ROUGE-L — order-sensitive generation eval (bit-parallel LCS)
# ---------------------------------------------------------------------

def test_rouge_l_classic_lcs_pins(spark):
    """The textbook LCS example (ABCBDAB/BDCABA -> 4) as word
    sequences, plus identity / disjoint / subsequence cases; ROUGE-1
    blind spot: a REVERSED candidate keeps unigram recall 1.0 but
    drops ROUGE-L."""
    from tap_airbyte_wrapper_spark.functions import rouge_l_per_doc

    rows = [(1, "a b c b d a b", "b d c a b a"),
            (2, "x y z", "x y z"),
            (3, "q r s", "a b c"),
            (4, "a c e", "a b c d e f"),
            (5, "f e d c b a", "a b c d e f")]
    out = {r["doc_id"]: r for r in rouge_l_per_doc(
        spark.createDataFrame(
            rows, "doc_id long, cand string, ref string"),
        "cand", "ref", "doc_id").collect()}
    assert out[1]["lcs"] == 4
    assert out[1]["rouge_l_f"] == pytest.approx(8 / 13, abs=1e-6)
    assert out[2]["rouge_l_f"] == 1.0
    assert out[3]["rouge_l_f"] == 0.0
    assert out[4]["lcs"] == 3 and out[4]["rouge_l_p"] == 1.0
    assert out[5]["lcs"] == 1  # reversal: ROUGE-1 would say 1.0


def test_rouge_l_truncation_and_edges(spark):
    from tap_airbyte_wrapper_spark.functions import rouge_l_per_doc

    long_txt = " ".join(f"t{i}" for i in range(30))
    rows = [(1, long_txt, long_txt), (2, "", ""), (3, None, "x")]
    out = {r["doc_id"]: r for r in rouge_l_per_doc(
        spark.createDataFrame(
            rows, "doc_id long, cand string, ref string"),
        "cand", "ref", "doc_id", max_tokens=10).collect()}
    assert set(out) == {1, 2}  # null cand drops (family contract)
    # identical beyond the cap: metrics computed on the first 10
    assert out[1]["truncated"] and out[1]["lcs"] == 10
    assert out[1]["rouge_l_f"] == 1.0
    assert out[2]["c_len"] == 0 and out[2]["rouge_l_f"] is None
    with pytest.raises(ValueError):
        rouge_l_per_doc(spark.createDataFrame(
            [(1, "a", "a")], "doc_id long, cand string, ref string"),
            "cand", "ref", "doc_id", max_tokens=0)


def test_media_timing_index_catches_reencode_in_delta(spark, tmp_path):
    """The persisted index path for the re-encode gate: a timing-kind
    index (sig_kind='timing', recorded in _index_meta.json) probes a
    delta containing a re-encode of a corpus asset at O(delta) —
    delta==batch parity with media_timing_near_dup_pairs, and append
    folds new timing segments with the recorded parameters."""
    from tap_airbyte_wrapper_spark.functions import (
        media_dedup_delta,
        media_sig_index_append,
        media_sig_index_write,
        media_timing_near_dup_pairs,
    )

    deltas = _vfr_deltas()
    corpus = spark.createDataFrame(
        [(1, _mp4_asset(deltas, seed=1)),
         (3, _mp4_asset(list(reversed(deltas)), seed=3))],
        "id long, m binary")
    path = str(tmp_path / "tix")
    spark.sql("DROP TABLE IF EXISTS tix_segs")
    media_sig_index_write(corpus, "tix", path, "id", "m",
                          sig_kind="timing")
    # delta: a re-encode of corpus asset 1 + one genuinely new asset
    delta = spark.createDataFrame(
        [(11, _mp4_asset(deltas, seed=9)),
         (12, _mp4_asset([2000 + (i % 5) * 300 for i in range(90)],
                         seed=12))],
        "id long, m binary")
    pairs = {(r["id_a"], r["id_b"], r["kind"]) for r in
             media_dedup_delta(delta, "tix", path, "id",
                               "m").collect()}
    assert pairs == {(11, 1, "corpus")}
    # batch parity on corpus+delta union
    both = corpus.unionByName(delta)
    batch = {(r["id_a"], r["id_b"]) for r in
             media_timing_near_dup_pairs(both, "id", "m").collect()}
    assert batch == {(1, 11)}
    # append the delta, then a re-encode of the APPENDED asset hits
    media_sig_index_append(delta, "tix", path, "id", "m")
    probe2 = spark.createDataFrame(
        [(21, _mp4_asset([2000 + (i % 5) * 300 for i in range(90)],
                         seed=77))], "id long, m binary")
    pairs2 = {(r["id_a"], r["id_b"]) for r in
              media_dedup_delta(probe2, "tix", path, "id",
                                "m").collect()}
    assert pairs2 == {(21, 12)}


def test_drift_gate_stamps_written_at(spark, tmp_path):
    """End-to-end: the gate itself writes the written_at column."""
    from tap_airbyte_wrapper_spark.streaming import (
        drift_reference_write,
        read_drift_gate_report,
        stream_drift_gate,
    )

    ref = spark.range(200).select(
        (F.col("id") % 10).cast("double").alias("v"))
    ref_path = str(tmp_path / "ref")
    drift_reference_write(ref, "v", ref_path, bins=8)
    src = str(tmp_path / "src")
    ref.write.parquet(src)
    out = str(tmp_path / "out")
    q = stream_drift_gate(
        spark.readStream.schema("v double").parquet(src),
        "v", ref_path, out, str(tmp_path / "ck"),
        available_now=True)
    q.awaitTermination(120)
    rep = read_drift_gate_report(spark, out)
    assert "written_at" in rep.columns
    assert rep.first()["written_at"] is not None
