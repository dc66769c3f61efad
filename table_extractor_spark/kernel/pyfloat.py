"""Python-2-``float()``/``int()``-compatible numeric tests and rendering.

The reference types cell values with bare ``float(value)`` / ``int(value)`` calls
(``/root/reference/table_extractor/HtmlTableParser.py:902-912``,
``MapperTools.py:183-209``) under Python 2.7.  Spark's ``try_cast`` accepts a
different grammar (e.g. trailing 'D', commas under ANSI off), so numeric typing
stays in-kernel (SURVEY.md §7.2).  Differences vs Python 3 handled here:

* Python 3 ``float("1_0")`` == 10.0; Python 2 raises ValueError  -> reject '_'.
* Everything else the fixtures exercise ('1e2', ' 7 ', 'nan', 'inf', u'\\u00a0'
  stripping behavior) agrees between 2.7 and 3.x.

Rendering: the reference stringifies values with ``str()`` at
``MapperTools.py:327-330``; Python 2 ``str(float)`` used 12 significant digits,
Python 3 uses ``repr`` (shortest round-trip).  The two agree on all short
decimals; we use Python 3 ``str`` and pin that choice in the golden fixtures
(SURVEY.md §2.10: pin observable output, not buggy mechanics).
"""

from __future__ import annotations

from typing import Any

# fast-reject guard: most cell values are words, and raising/catching
# ValueError per cell dominates the typing cost.  A stripped ASCII string
# that starts with neither a digit, a sign nor a point is a float only as
# 'nan'/'inf'/'infinity' (any case) — reject the rest without the
# exception.  Non-ASCII strings (unicode digits, exotic whitespace) always
# take the exact float() path.
_FLOAT_START = frozenset("0123456789+-.")
_FLOAT_NAMES = frozenset(("nan", "inf", "infinity"))


def _fast_nonfloat(value: Any) -> bool:
    if type(value) is not str or not value.isascii():
        return False
    t = value.strip()
    if not t:
        return True
    return t[0] not in _FLOAT_START and t.lower() not in _FLOAT_NAMES


# Each cell string gets float-tested twice along the kernel path (type
# resolution, then the summary filter), and real tables repeat values
# heavily ('-', years, small counts), so the string path is memoized.  The
# memo is a plain dict cleared when full, not a functools.lru_cache: str
# keys and bool values are not tracked by the cyclic GC, so neither is the
# dict, while a full 65,536-entry lru_cache added ~30 ms to every full
# collection (measured on a 4-vCPU VM).
_MEMO_MAX = 1 << 16
_IS_FLOAT: dict = {}


def str_is_float(value: str) -> bool:
    """``py2_is_float`` for a ``str`` argument (the kernel's hot loops)."""
    known = _IS_FLOAT.get(value)
    if known is not None:
        return known
    ok = "_" not in value and not _fast_nonfloat(value)
    if ok:
        try:
            float(value)
        except (TypeError, ValueError):
            ok = False
    if len(_IS_FLOAT) >= _MEMO_MAX:
        _IS_FLOAT.clear()
    _IS_FLOAT[value] = ok
    return ok


def py2_is_float(value: Any) -> bool:
    """``MapperTools.is_float`` semantics: True iff ``float(value)`` succeeds in py2."""
    if type(value) is str:
        return str_is_float(value)
    if isinstance(value, str) and "_" in value:  # str subclass
        return False
    try:
        float(value)
        return True
    except (TypeError, ValueError):
        return False


def py2_is_int(value: Any) -> bool:
    """``MapperTools.is_int`` semantics: True iff ``int(value)`` succeeds in py2."""
    if isinstance(value, str) and ("_" in value or _fast_nonfloat(value)):
        return False
    try:
        int(value)
        return True
    except (TypeError, ValueError):
        return False


def parser_is_float(value: Any) -> bool:
    """``HtmlTableParser.is_float`` (:902-912): catches ValueError only.

    A non-string input raising TypeError would propagate in the reference; by
    the time it is called the value is always a string, so behavior matches
    (and the string path shares ``py2_is_float``'s memo — the predicates
    agree on strings: both reduce to ``float(value)`` raising or not).
    """
    if type(value) is str:
        return str_is_float(value)
    if _fast_nonfloat(value):
        return False
    try:
        float(value)
        return True
    except ValueError:
        return False


def value_to_str(value: Any) -> str:
    """``MapperTools.extract_value_from_cell`` tail (:327-330): str() non-strings."""
    if isinstance(value, str):
        return value
    return str(value)
