"""Single-parse SQL literal injection.

``F.lit``/``F.create_map``/``F.array(*cols)`` issue one py4j round trip per
element; the engine's literal-heavy plan sites (rank offset maps, LSH
hyperplanes, IVF centroids, the lang-ID stopword mask, fleet host
assignment) pay hundreds to thousands of those per plan build — measured
~0.4-0.5 s of pure driver time per site at bench shapes.  These helpers
emit the whole literal as ONE ``F.expr`` string the JVM parses in a single
round trip, with values bit-identical to the ``F.lit`` forms they replace:

- doubles: ``repr(float)`` is the shortest round-trip decimal and both
  CPython and the JVM parse it correctly-rounded (pinned elementwise,
  including scientific notation and -0.0, in
  tests/test_multimodal_neardup.py::test_lit_dvec_matches_lit_elementwise);
  non-finite values render as ``CAST('NaN'/'±Infinity' AS DOUBLE)``, which
  ``repr``+``D`` cannot express (``nanD`` would resolve as a column name).
- strings: a parsed ``'...'`` literal is the same UTF8String; quotes and
  backslashes are escaped for Spark's default string-literal rules.  NOT
  safe under ``spark.sql.parser.escapedStringLiterals=true`` (a non-default
  legacy flag that disables backslash escapes); the engine never sets it.
"""

import math

from pyspark.sql import functions as F


def sql_str(s: str) -> str:
    """``s`` as a single-quoted Spark SQL string literal."""
    return "'" + str(s).replace("\\", "\\\\").replace("'", "\\'") + "'"


def _sql_double(v: float) -> str:
    v = float(v)
    if math.isnan(v):
        return "CAST('NaN' AS DOUBLE)"
    if math.isinf(v):
        return f"CAST('{'-' if v < 0 else ''}Infinity' AS DOUBLE)"
    return f"{v!r}D"


def lit_double_array(vals):
    """Literal ``array<double>`` column in one parsed expression."""
    return F.expr("array(" + ",".join(_sql_double(v) for v in vals) + ")")


def _sql_int(v) -> str:
    # bool is an int subclass, but str(True) is not an int literal
    if isinstance(v, bool) or not isinstance(v, int):
        raise TypeError(
            f"lit_str_map renders int values by default, got {type(v).__name__};"
            " pass a valfmt that emits a SQL literal"
        )
    return str(v)


def lit_str_map(d: dict, valfmt=_sql_int):
    """Literal ``map<string, T>`` column in one parsed expression.

    ``valfmt`` renders each value as a SQL literal snippet (default: ints
    only; bools and other types raise ``TypeError``).  Keys and values
    iterate the same dict, so the arrays always align.  An empty dict raises
    ``ValueError``: ``array()`` literals carry no key or value type.
    """
    if not d:
        raise ValueError("lit_str_map needs a non-empty dict")
    ks = ",".join(sql_str(k) for k in d)
    vs = ",".join(valfmt(v) for v in d.values())
    return F.expr(f"map_from_arrays(array({ks}), array({vs}))")
