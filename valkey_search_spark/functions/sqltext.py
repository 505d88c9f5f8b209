"""SQL literal and identifier text: the one rule every statement the
engine writes follows.

- Numbers are typed DOUBLE literals, ``<repr>D``: a bare decimal parses
  as DECIMAL (about 2x slower to evaluate). NaN and ±Infinity, which have
  no literal form, are ``CAST('...' AS DOUBLE)``.
- Every user string is ``CAST(X'<utf-8 hex>' AS STRING)``, so quotes,
  backslashes and non-ASCII text never need escaping. The cast of a
  literal folds to a plain string literal, so pushdown is unaffected.
- Identifiers are backquoted, with any backquote inside doubled.
"""

from __future__ import annotations

import math


def double_literal(x: float) -> str:
    x = float(x)
    if math.isnan(x):
        return "CAST('NaN' AS DOUBLE)"
    if math.isinf(x):
        return f"CAST('{'-' if x < 0 else ''}Infinity' AS DOUBLE)"
    return repr(x) + "D"


def sql_str(s: str) -> str:
    return f"CAST(X'{s.encode('utf-8').hex()}' AS STRING)"


def sql_ident(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"
