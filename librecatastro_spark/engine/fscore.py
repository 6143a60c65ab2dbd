"""Shared field-factor math for ES function_score — frozen once.

ES's ``function_score`` with ``field_value_factor`` rescores a match by a
function of a numeric doc field:  factor_fn(field) combined with the query
score via ``boost_mode`` (multiply | sum). The modifier set reproduced here
is the ES trio that needs no per-doc state: none / log1p / sqrt.

One definition serves every path — the exact Catalyst engine, the
compressed-index numpy kernel, and the DuckDB oracle twin — so a modifier
can never drift between engines. Cross-engine float reproducibility
follows the repo's rounding protocol: the field factor is applied to the
RAW (unrounded) BM25 sum and the combined score is rounded ONCE at the
end (ROUND_DECIMALS). Rounding an intermediate and then transforming it
would land scores exactly on the half-up (Spark/DuckDB) vs half-even
(numpy/Python) boundary — see ``engine/score_queries.py`` for the full
hazard analysis; ln/sqrt agree across Spark, numpy and DuckDB to well
under the rounding quantum.

Null field values count as 0.0 (ES's ``missing`` parameter, pinned to 0)
— documented, and mirrored in the SQL twin via coalesce. Negative
``field * factor`` inputs are clamped to 0.0 before ``sqrt``/``log1p``
(identically in all three twins): ES rejects NaN function_score results
outright, and without the clamp a negative product yields NaN, which
numpy's lexsort drops from per-shard top-k while Spark's desc ordering
ranks it FIRST — silently breaking cross-path rank identity.
"""

from __future__ import annotations

import numbers
import re

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

MODIFIERS = ("none", "log1p", "sqrt")


def _check(modifier: str, boost_mode: str) -> None:
    if modifier not in MODIFIERS:
        raise ValueError(f"modifier must be one of {MODIFIERS}")
    if boost_mode not in ("multiply", "sum"):
        raise ValueError("boost_mode must be 'multiply' or 'sum'")


def field_factor_expr(col: Column, modifier: str, factor: float) -> Column:
    # try_cast: a malformed/non-numeric field value is a missing value
    # (-> 0.0 via coalesce), not an ANSI cast error — matching the numpy
    # path's nan_to_num and the SQL twin's TRY_CAST exactly
    v = F.coalesce(col.try_cast("double"), F.lit(0.0)) * F.lit(float(factor))
    if modifier == "log1p":
        return F.log1p(F.greatest(v, F.lit(0.0)))
    if modifier == "sqrt":
        return F.sqrt(F.greatest(v, F.lit(0.0)))
    return v


#: Java's Double.parseDouble grammar (decimal or hex, f/d suffix) and
#: Spark's inf / nan literals — what its string → double cast accepts
_JAVA_DOUBLE = re.compile(
    r"[+-]?(?:(?:\d+\.?\d*|\.\d+)(?:[eE][+-]?\d+)?"
    r"|0[xX](?:[0-9a-fA-F]+\.?[0-9a-fA-F]*|\.[0-9a-fA-F]+)[pP][+-]?\d+)[fFdD]?"
)
_SPECIAL = re.compile(r"[+-]?(?:inf|infinity|nan)", re.IGNORECASE)
_JAVA_SPACE = "".join(map(chr, range(33)))  # what Java's String.trim drops


def try_double_np(v: np.ndarray) -> np.ndarray:
    """Spark's ``try_cast(v as double)`` of a column's values as pyarrow
    hands them to pandas, NaN where Spark gives null: numbers and bools
    cast, strings parse as Java doubles or Spark's inf / nan literals,
    anything else is null."""
    if v.dtype != object:
        return v.astype(np.float64)
    out = np.full(len(v), np.nan)
    for i, x in enumerate(v):
        if isinstance(x, numbers.Number):  # a nullable bool column's values
            out[i] = float(x)
            continue
        t = x.strip(_JAVA_SPACE) if isinstance(x, str) else ""
        if _SPECIAL.fullmatch(t):
            out[i] = float(t)
        elif _JAVA_DOUBLE.fullmatch(t):
            t = t.rstrip("fFdD")
            out[i] = float.fromhex(t) if "x" in t.lower() else float(t)
    return out


def field_factor_np(v: np.ndarray, modifier: str, factor: float) -> np.ndarray:
    v = np.nan_to_num(v.astype(np.float64), nan=0.0) * float(factor)
    if modifier == "log1p":
        return np.log1p(np.maximum(v, 0.0))
    if modifier == "sqrt":
        return np.sqrt(np.maximum(v, 0.0))
    return v


def field_factor_sql(col: str, modifier: str, factor: float) -> str:
    v = f"(coalesce(TRY_CAST({col} AS DOUBLE), 0.0) * {float(factor)!r})"
    if modifier == "log1p":
        return f"ln(1.0 + greatest({v}, 0.0))"
    if modifier == "sqrt":
        return f"sqrt(greatest({v}, 0.0))"
    return v


def combine_expr(score: Column, fac: Column, boost_mode: str) -> Column:
    return score * fac if boost_mode == "multiply" else score + fac


def combine_np(score: np.ndarray, fac: np.ndarray, boost_mode: str) -> np.ndarray:
    return score * fac if boost_mode == "multiply" else score + fac


def combine_sql(score: str, fac: str, boost_mode: str) -> str:
    op = "*" if boost_mode == "multiply" else "+"
    return f"({score} {op} {fac})"
