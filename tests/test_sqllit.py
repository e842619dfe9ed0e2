"""functions.sqllit — the shared one-parse literal injection helpers.

The double-array bit-parity (incl. NaN/inf/-0.0) is pinned in
tests/test_multimodal_neardup.py::test_lit_dvec_matches_lit_elementwise;
this file pins the STRING side: a key routed through ``sql_str`` escaping
must behave identically to the ``F.lit`` key it replaces, for every
character class a crawl host name or stopword list could ever smuggle in.
"""

import pytest
from pyspark.sql import functions as F

from spiderman_spark.functions.sqllit import lit_str_map, sql_str

ADVERSARIAL_KEYS = [
    "plain.example",
    "quote'inside",
    "double\"quote",
    "back\\slash",
    "both\\'mixed",
    "trailing\\",
    "new\nline",
    "tab\tchar",
    "unicode-ключ-câu-😀",
    "",  # empty string is a valid map key
    "sql'); DROP TABLE x; --",
    "  spaces  ",
    "a" * 500,
]


def test_lit_str_map_matches_create_map_on_adversarial_keys(spark):
    d = {k: i for i, k in enumerate(ADVERSARIAL_KEYS)}
    kv = []
    for k, v in d.items():
        kv += [F.lit(k), F.lit(v)]
    probe = F.array(*[F.lit(k) for k in d])
    row = (
        spark.range(1)
        .select(
            F.transform(probe, lambda k: F.create_map(*kv)[k]).alias("a"),
            F.transform(probe, lambda k: lit_str_map(d)[k]).alias("b"),
        )
        .collect()[0]
    )
    assert row["a"] == row["b"] == list(d.values())


def test_lit_str_map_misses_are_null(spark):
    # ANSI map[key] on a missing key is null — the shard_of_expr fallback
    # (coalesce onto the hash route) depends on it
    m = lit_str_map({"present": 1})
    row = (
        spark.range(1)
        .select(
            m[F.lit("absent")].alias("miss"), m[F.lit("present")].alias("hit")
        )
        .collect()[0]
    )
    assert row["miss"] is None and row["hit"] == 1


def test_sql_str_round_trips(spark):
    exprs = [F.expr(sql_str(k)).alias(f"c{i}") for i, k in enumerate(ADVERSARIAL_KEYS)]
    row = spark.range(1).select(*exprs).collect()[0]
    assert list(row) == ADVERSARIAL_KEYS


def test_lit_str_map_rejects_empty_dict():
    with pytest.raises(ValueError, match="non-empty"):
        lit_str_map({})


def test_lit_str_map_default_valfmt_rejects_non_int_values(spark):
    # bool is an int subclass, but str(True) is not an int literal
    for bad in (True, False, 1.5, "1", None):
        with pytest.raises(TypeError, match="valfmt"):
            lit_str_map({"k": bad})
    lit_str_map({"k": True}, valfmt=lambda v: "true" if v else "false")
