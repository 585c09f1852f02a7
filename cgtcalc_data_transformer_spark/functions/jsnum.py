"""JavaScript Number→String formatting as Spark column expressions.

The reference serializes every numeric field with JS's default
number-to-string (shortest round-trip decimal): ``"10.81035240"`` →
``10.8103524``, ``"10.00"`` → ``10``, ``"3.30"`` → ``3.3``
(golden outputs in `/root/reference/__tests__/data/*.json`; format
sites e.g. `/root/reference/freetrade.js:195-200`). This module is
the fidelity kernel every parser depends on (SURVEY.md §4.4).

Two implementations:

- ``js_num``: pure JVM path — Spark's double→string cast (Java
  ``Double.toString``) gives round-trip digits in Java's notation; a
  flat CASE rewrites them to JS notation over the FULL double range —
  see the ``js_num`` docstring. Caveat: Java 17's pre-Ryū
  ``Double.toString`` does not always print the SHORTEST round-trip
  digits. It emits extra significant digits for some doubles with 16+
  digits (2^-24 → 5.9604644775390625E-8 vs JS 5.960464477539063e-8;
  215556435655560672 vs 21555643565556067e1), for the smallest
  subnormals (4.9e-324 vs 5e-324), and at |x| >= 1e16 occasionally a
  non-closest 17th digit. The output still round-trips to the same
  double; JDK >= 19 removes the divergence. ``js_num_exact`` is
  byte-exact there if needed.

- ``js_num_exact``: Arrow-batched pandas UDF implementing the full
  ECMA-262 rules via Python ``repr`` (also shortest round-trip) with
  JS's exponent-notation thresholds. Exact for the entire double
  range; ~10-100× slower than the JVM path — only for edge ranges.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType


def js_num(col: Column | str) -> Column:
    """JS number formatting — pure JVM expressions, full double range.

    Java's ``Double.toString`` and ECMA-262 agree on the round-trip
    DIGITS but not the NOTATION: Java goes scientific outside
    [1e-3, 1e7), JS outside [1e-6, 1e21). One flat CASE, each branch a
    built-in touching the string once, so the generated code stays
    linear (the former positional expansion built from substring/repeat
    re-inlined its sub-expressions per branch and overflowed Janino's
    64 KB method limit in wide parser plans):

    - no ``E`` → strip the trailing ``.0`` Java prints for integrals;
    - 1e-6 <= |x| < 1e-3 and 1e7 <= |x| < 1e21 (JS prints plainly) →
      exact string→decimal cast at a scale that holds all 17 digits,
      then strip trailing zeros and a trailing ``.``;
    - otherwise → JS exponent form ``d.ddde±n`` by regex.

    No UDF on the serialization hot path (ADVICE r1).
    """
    c = (F.col(col) if isinstance(col, str) else col).cast("double")
    s = c.cast("string")
    a = F.abs(c)

    def plain(scale: int) -> Column:
        # BigDecimal(String) keeps Java's digits exactly; the scale only
        # has to cover them (<= 17 significant digits, exponent -6..20).
        d = s.try_cast(f"decimal(38,{scale})").cast("string")
        return F.regexp_replace(F.regexp_replace(d, r"0+$", ""), r"\.$", "")

    sci = F.regexp_replace(
        F.regexp_replace(F.regexp_replace(s, r"\.0E", "E"), "E-", "e-"), "E", "e+"
    )
    return (
        F.when(c == 0.0, F.lit("0"))  # covers -0.0: JS String(-0) is "0"
        .when(~s.contains("E"), F.regexp_replace(s, r"\.0$", ""))
        .when((a >= 1e-6) & (a < 1e-3), plain(22))
        .when((a >= 1e7) & (a < 1e21), plain(10))
        .otherwise(sci)
    )


def _js_format_scalar(x: float) -> str:
    """ECMA-262 Number::toString(10) for one finite double."""
    if x != x:  # NaN
        return "NaN"
    if x == float("inf"):
        return "Infinity"
    if x == float("-inf"):
        return "-Infinity"
    if x == 0:
        return "0"
    r = repr(x)  # shortest round-trip decimal, Python flavor
    mantissa, exp = (r.split("e") + ["0"])[:2] if "e" in r else (r, "0")
    e = int(exp)
    ax = abs(x)
    if 1e-6 <= ax < 1e21:
        # JS prints positional in this range; expand any Python
        # scientific form and trim the trailing '.0'.
        if e != 0:
            digits = mantissa.replace(".", "").lstrip("-")
            sign = "-" if x < 0 else ""
            point = (1 if "." not in mantissa else mantissa.index(".")) + e
            # normalize: digits with an implied decimal point after `point`
            intpart = mantissa.lstrip("-").split(".")[0]
            point = len(intpart) + e
            if point <= 0:
                out = sign + "0." + "0" * (-point) + digits.rstrip("0")
            elif point >= len(digits):
                out = sign + digits + "0" * (point - len(digits))
            else:
                frac = digits[point:].rstrip("0")
                out = sign + digits[:point] + ("." + frac if frac else "")
            return out
        return mantissa[:-2] if mantissa.endswith(".0") else mantissa
    # JS scientific: d.dddde±e with no leading zero in the exponent
    if e == 0:
        # Python printed positionally but JS wants scientific (|x|>=1e21
        # never reaches here positionally; |x|<1e-6 can: e.g. repr(1e-7))
        digits = mantissa.lstrip("-").replace(".", "").lstrip("0")
        first = mantissa.lstrip("-")
        if "." in first:
            ip, fp = first.split(".")
            if ip != "0":
                e = len(ip) - 1
            else:
                lead = len(fp) - len(fp.lstrip("0"))
                e = -(lead + 1)
        else:
            e = len(first) - 1
        mant = digits[0] + ("." + digits[1:].rstrip("0") if digits[1:].rstrip("0") else "")
        return ("-" if x < 0 else "") + mant + ("e+" if e >= 0 else "e-") + str(abs(e))
    mant = mantissa[:-2] if mantissa.endswith(".0") else mantissa
    return mant + ("e+" if e >= 0 else "e-") + str(abs(e))


@pandas_udf(StringType())
def _js_num_udf(s):  # type: ignore[no-untyped-def]
    return s.map(lambda v: None if v is None else _js_format_scalar(float(v)))


def js_num_exact(col: Column | str) -> Column:
    """JS number formatting, exact over the full double range."""
    c = F.col(col) if isinstance(col, str) else col
    return _js_num_udf(c.cast("double"))
