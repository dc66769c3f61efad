"""Python values spliced into the chain's SQL expression text
(``functions.sql.sql_string``): hostile text must reach Spark unchanged."""

from __future__ import annotations

from pyspark.sql import functions as F

from table_extractor_spark.functions.sql import sql_string
from table_extractor_spark.functions.typing import PY2_FLOAT_RE
from table_extractor_spark.kernel.pyfloat import str_is_float

HOSTILE = [
    "it's",
    "back\\slash",
    '"quoted"',
    "new\nline\r\ttab",
    "ñé ✓ 表",
    "\\d+\\.\\x0b",
    "''",
    "\\'",
    "end\\",
    "",
]


def test_sql_string_round_trips_hostile_text(spark):
    row = spark.range(1).selectExpr(
        *[f"{sql_string(v)} AS v{i}" for i, v in enumerate(HOSTILE)]
    ).first()
    assert list(row) == HOSTILE


def test_ttl_lines_with_hostile_namespaces(spark):
    """Namespaces holding a quote, a backslash, a double quote, a newline
    and non-ASCII text go into every URI verbatim.  The expected lines were
    produced by the Column-built serializer this SQL text replaced."""
    from table_extractor_spark.plans.triples import ttl_lines

    triples = spark.createDataFrame(
        [
            ("d'1", "s\\x", "p'q", "o\"'\\\n", kind, 1)
            for kind in ("resource", "uri", "float", "string")
        ],
        "doc_id string, subject string, predicate string, object string, "
        "object_kind string, t_order int",
    )
    base = "http://x.org/it's\\a \"b\"\nc/é/"
    onto = "http://o.org/\\'\"\nñ/"
    head = (
        "<http://x.org/it's\\a \"b\"\nc/é/s%5Cx> "
        "<http://o.org/\\'\"\nñ/p'q> "
    )
    assert sorted(r.line for r in ttl_lines(triples, base, onto).collect()) == sorted(
        [
            head + "<http://x.org/it's\\a \"b\"\nc/é/o%22'%5C%0A> .",
            head + "<o%22'%5C%0A> .",
            head + "\"o\\\"'\\\\\\n\"^^<http://www.w3.org/2001/XMLSchema#float> .",
            head + "\"o\\\"'\\\\\\n\"^^<http://www.w3.org/2001/XMLSchema#string> .",
        ]
    )


def test_py2_float_rlike_agrees_with_kernel(spark):
    values = ["1.5D", " 1e5 ", "nan", "-inf", ".5", "5.", "1_0", "\x0b1\x0b"]
    df = spark.createDataFrame([(v,) for v in values], "text string")
    got = {
        r.text: r.m
        for r in df.select(
            "text", F.expr(f"text RLIKE {sql_string(PY2_FLOAT_RE)}").alias("m")
        ).collect()
    }
    assert got == {v: str_is_float(v) for v in values}
