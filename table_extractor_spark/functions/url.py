"""URL canonicalization for web-scale dedup (training-data pipelines key on
normalized URL before any content-level dedup — it removes the bulk of exact
re-crawls for free).

All JVM-side (regexp + string built-ins, whole-stage codegen); the rules are
deliberately the reproducible-everywhere subset every crawler agrees on:

1. lowercase the scheme and host (path/query stay case-sensitive);
2. drop the fragment (``#...`` is client-side only);
3. drop tracking parameters (``utm_*``, ``fbclid``, ``gclid``, ``ref``);
4. drop a now-empty ``?``;
5. strip one trailing slash from a non-root path.

Not attempted (needs registries or per-site knowledge, and breaks
reproducibility): default-port removal, punycode, param reordering, www
stripping.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

# tracking params dropped during canonicalization
_TRACK = r"(utm_[a-z]+|fbclid|gclid|ref)"


def normalize_url(col) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    # 1. lowercase scheme://host — regexp_replace cannot lower() inside a
    # replacement, so split the authority head off, lower it, re-concat
    head = F.regexp_extract(c, r"^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)", 1)
    lowered = F.concat(
        F.lower(head), F.substring(c, F.length(head) + 1, 2147483647)
    )
    out = F.when(head != "", lowered).otherwise(c)
    # 2. fragment off
    out = F.regexp_replace(out, r"#.*$", "")
    # 3. tracking params (leading '?' or '&' + name=value)
    out = F.regexp_replace(out, r"([?&])" + _TRACK + r"=[^&#]*", r"$1")
    # collapse '?&' / '&&' artifacts and trailing separators
    out = F.regexp_replace(out, r"\?&+", "?")
    out = F.regexp_replace(out, r"&&+", "&")
    out = F.regexp_replace(out, r"[?&]$", "")
    # 5. one trailing slash off a non-root path (also just before '?')
    out = F.regexp_replace(out, r"(://[^/?#]+/.+?)/(\?|$)", r"$1$2")
    return out
