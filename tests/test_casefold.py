"""The engine's one case fold (``casefold.lower``): it equals
``F.lower`` on every input, ASCII text never starts Spark's ICU case
mapping, and no other module calls Spark's case functions directly."""

import ast
import contextlib
import io
import json
import os
import subprocess
import sys

from pyspark.sql import functions as F

from tap_airbyte_wrapper_spark.casefold import lower, lower_ascii
from tap_airbyte_wrapper_spark.functions import fingerprint, language_id
from tap_airbyte_wrapper_spark.functions.dedup import shingles
from tap_airbyte_wrapper_spark.functions.text import (
    detect_license, minhash_fingerprints)
from tap_airbyte_wrapper_spark.plans.queries import q_doc_word_stats

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(ROOT, "tap_airbyte_wrapper_spark")

CASES = ["Hello World 123 !@#", "ÀÉÎ", "ΣΑΣ", "ΌΣΟΣ ΣΑΣ.", "STRASSE ß",
         "İ", "KELVIN K", "漢字ＡＢＣ", "", None]


def test_lower_equals_spark_lower(spark):
    df = spark.createDataFrame([(s,) for s in CASES], "t string")
    rows = df.select(lower(F.col("t")).alias("ours"),
                     F.lower("t").alias("spark")).collect()
    assert [r.ours for r in rows] == [r.spark for r in rows]
    assert rows[0].ours == "hello world 123 !@#"
    assert rows[-1].ours is None


def test_lower_ascii_equals_spark_lower_on_ascii(spark):
    ascii_cases = ["MIT", "Apache-2.0", "GPL-3.0+", "HTTPS", "a.B-c+D", "",
                   None]
    df = spark.createDataFrame([(s,) for s in ascii_cases], "t string")
    rows = df.select(lower_ascii(F.col("t")).alias("ours"),
                     F.lower("t").alias("spark")).collect()
    assert [r.ours for r in rows] == [r.spark for r in rows]
    got = df.select(detect_license(F.concat(
        F.lit("SPDX-License-Identifier: "), F.col("t")))).collect()
    assert [r[0] for r in got][:3] == ["mit", "apache-2.0", "gpl-3.0+"]


def _folds_in_plan(df):
    return df._jdf.queryExecution().optimizedPlan().toString().count(
        "translate(")


def test_higher_order_operators_fold_once_per_row(spark, sf_dir):
    """Higher-order functions get no subexpression elimination, so an
    operator that names its folded text inside a lambda or in several
    lambdas folds (and re-scans) it once per reference.  Each of these
    binds it once: the fold appears once in the optimized plan."""
    df = spark.createDataFrame([(1, "The cat and THE dog")],
                               "doc_id long, text string")
    t = F.col("text")
    for col in (language_id(t), minhash_fingerprints(t), shingles(t)):
        assert _folds_in_plan(df.select(col.alias("out"))) == 1, col
    assert _folds_in_plan(q_doc_word_stats(spark, sf_dir)) == 1


def test_lower_argument_evaluated_once_in_a_projection(spark):
    """The fold names its argument four times; subexpression
    elimination makes the fingerprint's whitespace regex run once per
    row (one ``Matcher`` in the generated code), not four times."""
    df = spark.createDataFrame([("A  b",)], "t string")
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        df.select(fingerprint(F.col("t"))).explain(mode="codegen")
    assert out.getvalue().count(".matcher(") == 1


_FRESH_JVM = r"""
import json
from tap_airbyte_wrapper_spark.cli import build_spark
from tap_airbyte_wrapper_spark.functions import exact_dedup
from tap_airbyte_wrapper_spark.sources.changelog import normalize_changes

spark = build_spark("local[1]", {"spark.ui.enabled": "false",
                                 "spark.driver.memory": "512m"})
jvm = spark._jvm
unsafe_field = jvm.java.lang.Class.forName(
    "sun.misc.Unsafe").getDeclaredField("theUnsafe")
unsafe_field.setAccessible(True)
icu_class = jvm.java.lang.Class.forName(
    "org.apache.spark.sql.catalyst.util.CollationAwareUTF8String", False,
    jvm.Thread.currentThread().getContextClassLoader())

def icu_started():
    return not unsafe_field.get(None).shouldBeInitialized(icu_class)

out = {"at_start": icu_started()}
docs = spark.createDataFrame(
    [(1, "Hello  World"), (2, "hello world "), (3, "Other TEXT")],
    "id long, text string")
out["dedup_ids"] = sorted(r.id for r in exact_dedup(docs, "text", "id")
                          .collect())
changes = spark.createDataFrame(
    [(1, "C", 5), (2, "Update", 6), (3, "D", 7)],
    "k long, _op string, _cursor int")
out["ops"] = [r._op for r in normalize_changes(changes).orderBy("k")
              .collect()]
out["after_ascii"] = icu_started()

from pyspark.sql import functions as F
from tap_airbyte_wrapper_spark.casefold import lower
row = spark.createDataFrame([("ΣΑΣ İ",)], "t string").select(
    lower(F.col("t")).alias("ours"), F.lower("t").alias("spark")).first()
out["non_ascii"] = [row.ours, row.spark]
out["after_non_ascii"] = icu_started()
spark.stop()
print(json.dumps(out))
"""


def test_ascii_text_never_starts_icu_case_mapping():
    """In a fresh JVM, exact dedup and CDC op normalization of ASCII
    rows leave ICU's case-mapping class uninitialized; the first
    non-ASCII row starts it and still matches ``F.lower``."""
    proc = subprocess.run([sys.executable, "-c", _FRESH_JVM], cwd=ROOT,
                          capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-4000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["dedup_ids"] == [1, 3]
    assert out["ops"] == ["insert", "update", "delete"]
    assert out["at_start"] is False
    assert out["after_ascii"] is False
    ours, theirs = out["non_ascii"]
    assert ours == theirs == "σας i\u0307"
    assert out["after_non_ascii"] is True


_CASE_FUNCS = {"lower", "upper", "initcap"}


def _spark_case_calls(path):
    """``(line, name)`` of each call to a Spark SQL case function in one
    module, through any alias of ``pyspark.sql.functions``."""
    tree = ast.parse(open(path).read())
    modules, direct = set(), set()
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module == "pyspark.sql":
            modules |= {a.asname or a.name for a in node.names
                        if a.name == "functions"}
        elif (isinstance(node, ast.ImportFrom)
              and node.module == "pyspark.sql.functions"):
            direct |= {a.asname or a.name for a in node.names
                       if a.name in _CASE_FUNCS}
        elif isinstance(node, ast.Import):
            modules |= {a.asname for a in node.names
                        if a.name == "pyspark.sql.functions" and a.asname}
    hits = []
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        f = node.func
        if (isinstance(f, ast.Attribute) and f.attr in _CASE_FUNCS
                and isinstance(f.value, ast.Name) and f.value.id in modules):
            hits.append((node.lineno, f.attr))
        elif isinstance(f, ast.Name) and f.id in direct:
            hits.append((node.lineno, f.id))
    return hits


def test_no_spark_case_function_outside_casefold():
    offenders = []
    for dirpath, _, files in os.walk(PKG):
        for name in files:
            path = os.path.join(dirpath, name)
            if not name.endswith(".py") or path.endswith("casefold.py"):
                continue
            offenders += [(os.path.relpath(path, ROOT), *hit)
                          for hit in _spark_case_calls(path)]
    assert offenders == [], (
        "call tap_airbyte_wrapper_spark.casefold.lower instead")
    assert _spark_case_calls(os.path.join(PKG, "casefold.py")) != []
