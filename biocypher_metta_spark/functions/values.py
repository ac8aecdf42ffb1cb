"""Scalar value coercions.

py_to_float: exact twin of helpers.py:92-115 to_float — float() with
magnitude clamped to 1e±307 (ArangoDB 64-bit safety) and ±inf mapped to
1e307 / 1e-307 (reference maps -inf to *positive* 1e-307; quirk preserved).

to_float_col / py_float_col are its Catalyst twins, written as SQL text:
Python float()'s grammar (PEP 515 underscores, inf/infinity/nan in any
case, Unicode digits and whitespace) checked by one regex, then the same
clamp, with floor(log10(|x|)) read off thresholds.
"""

from __future__ import annotations

import re
import struct
import sys
import unicodedata
from math import floor, isinf, log10
from typing import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

MAX_EXPONENT = 307


def py_to_float(s) -> float:
    number = float(s)
    if number == 0:
        return number
    if isinf(number) and number > 0:
        return float("1e307")
    if isinf(number) and number < 0:
        return float("1e-307")
    base10 = log10(abs(number))
    exponent = floor(base10)
    if abs(exponent) > MAX_EXPONENT:
        if exponent < 0:
            number = number * float(f"1e{abs(exponent) - MAX_EXPONENT}")
        else:
            number = number / float(f"1e{abs(exponent) - MAX_EXPONENT}")
    return number


def let(value: Column, body: str | Callable[[Column], Column]) -> Column:
    """`body` with `value` evaluated once per row. Catalyst has no let:
    every reference to a Column repeats its whole expression tree, so the
    value is bound as the lambda variable of a one-element transform.

    `body` is a function of that variable, or SQL text that names it
    `{v}` (applied as a SQL lambda, so no name leaks out): built from
    Column methods a long expression costs about one py4j call per node
    (~2,000 for fmt_float), while SQL text is parsed in one call."""
    if isinstance(body, str):
        fn = F.expr("__v -> " + body.replace("{v}", "__v"))
        return F.get(F.call_function("transform", F.array(value), fn), 0)
    return F.get(F.transform(F.array(value), body), 0)


def _sql_str(text: str) -> str:
    """`text` as a SQL string literal; it must need no escapes."""
    if "'" in text or "\\" in text:
        raise ValueError(f"{text!r} needs escapes")
    return f"'{text}'"


# ---------------------------------------------------------------------------
# float() grammar
# ---------------------------------------------------------------------------

# float() first maps every non-ASCII whitespace character to ' ' and every
# Unicode decimal digit to its ASCII digit, then strips ASCII whitespace
# (Objects/unicodeobject.c _PyUnicode_TransformDecimalAndSpaceToASCII).
_NON_ASCII = "".join(map(chr, range(128, sys.maxunicode + 1)))
_UNICODE_SPACE = "".join(re.findall(r"\s", _NON_ASCII))
_UNICODE_DIGIT = "".join(re.findall(r"\d", _NON_ASCII))
_ASCII_DIGIT = "".join(str(unicodedata.decimal(ch)) for ch in _UNICODE_DIGIT)
_ASCII_SPACE = " \t\n\x0b\x0c\r"
_DIGITS = "[0-9](_?[0-9])*"  # PEP 515: '_' only between two digits
_FLOAT_RE = (f"^[+-]?(({_DIGITS}([.]({_DIGITS})?)?|[.]{_DIGITS})"
             f"([eE][+-]?{_DIGITS})?|(?i:inf|infinity|nan))$")

# float({v}) as a double, NULL where float() raises (Spark's cast reads
# every inf/infinity spelling but not '+nan')
_PARSE = f"""transform(array(btrim(translate({{v}},
      {_sql_str(_UNICODE_SPACE + _UNICODE_DIGIT)},
      {_sql_str(" " * len(_UNICODE_SPACE) + _ASCII_DIGIT)}),
    {_sql_str(_ASCII_SPACE)})),
  __t -> CASE WHEN NOT __t RLIKE {_sql_str(_FLOAT_RE)} THEN CAST(NULL AS DOUBLE)
              WHEN lower(__t) LIKE '%nan' THEN CAST('NaN' AS DOUBLE)
              ELSE CAST(replace(__t, '_', '') AS DOUBLE) END)[0]"""


# ---------------------------------------------------------------------------
# the 1e±307 clamp
# ---------------------------------------------------------------------------


def _double(bits: int) -> float:
    return struct.unpack("<d", struct.pack("<Q", bits))[0]


def _least_with_floor_log10(k: int) -> float:
    """The least positive double x with floor(log10(x)) >= k, by bisection
    over bit patterns (positive doubles order as their bits)."""
    lo, hi = 1, 0x7FEFFFFFFFFFFFFF
    while lo < hi:
        mid = (lo + hi) // 2
        if floor(log10(_double(mid))) >= k:
            hi = mid
        else:
            lo = mid + 1
    return _double(lo)


def _rescaled(k: int) -> str:
    """py_to_float's value for {v} at floor(log10(|v|)) = k."""
    if k > MAX_EXPONENT:
        return f"{{v}} / 1e{k - MAX_EXPONENT}D"
    if k < -MAX_EXPONENT:
        return f"{{v}} * 1e{-k - MAX_EXPONENT}D"
    return "{v}"


# py_to_float's clamp of the double {v}, NULL where it raises (NaN).
# floor(log10(|v|)) is read off the thresholds where Python's own log10
# changes floor (found here, at import): near 1e308 log10 already
# rounds up to 308.0 from 9.999999999999347e307.
_CLAMP = ("CASE WHEN isnan({v}) THEN CAST(NULL AS DOUBLE) WHEN {v} = 0 THEN {v}"
          " WHEN {v} = CAST('Infinity' AS DOUBLE) THEN 1e307D"
          " WHEN {v} = CAST('-Infinity' AS DOUBLE) THEN 1e-307D"
          + "".join(f" WHEN abs({{v}}) >= {_least_with_floor_log10(k)!r}D THEN {_rescaled(k)}"
                    for k in [MAX_EXPONENT + 1, *range(-MAX_EXPONENT, -324, -1)])
          + f" ELSE {_rescaled(-324)} END")

# py_to_float of the string {v}, NULL wherever it raises
_PY_FLOAT = f"transform(array({_PARSE}), __p -> {_CLAMP.replace('{v}', '__p')})[0]"


def py_float_col(s: Column) -> Column:
    """py_to_float(s) for a string column; NULL wherever it raises."""
    return let(s, _PY_FLOAT)


def to_float_col(col: Column) -> Column:
    """Column twin of py_to_float; NULL where it raises on 'nan' or
    None. Strings that float() rejects keep the plain cast with a ±1e307
    clamp (under ANSI such a cast raises; '1d' reads as 1.0)."""
    return let(col.cast("string"), f"""transform(array({_PARSE}), __p ->
      CASE WHEN __p IS NOT NULL THEN {_CLAMP.replace('{v}', '__p')}
           WHEN CAST({{v}} AS DOUBLE) = CAST('Infinity' AS DOUBLE) THEN 1e307D
           WHEN CAST({{v}} AS DOUBLE) = CAST('-Infinity' AS DOUBLE) THEN 1e-307D
           -- greatest() skips NULL: unguarded, a NULL would read as -1e307
           WHEN {{v}} IS NOT NULL
             THEN least(greatest(CAST({{v}} AS DOUBLE), -1e307D), 1e307D)
      END)[0]""")
