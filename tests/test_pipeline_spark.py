"""End-to-end Spark pipeline tests: golden equality, determinism, metrics."""

from __future__ import annotations

import json
import os

import pytest

from table_extractor_spark.plans.extract import extract_pipeline, parse_stage
from table_extractor_spark.sources.tables import fixture_corpus_df

GOLDEN = json.load(
    open(os.path.join(os.path.dirname(__file__), "golden_spans.json"), encoding="utf-8")
)


def collect_by_doc(out_df):
    rows = out_df.collect()
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(
            [r.kind, r.text, r.media_ref, r.order]
        )
    for spans in by_doc.values():
        spans.sort(key=lambda s: s[3])  # order is data; row order is not
    return by_doc


def test_pipeline_matches_golden(spark):
    docs = fixture_corpus_df(spark)
    out, _metrics = extract_pipeline(docs, num_partitions=5, salt=3)
    by_doc = collect_by_doc(out)
    for doc_id, expected in GOLDEN.items():
        if doc_id == "soccer_mega":
            assert len(by_doc[doc_id]) == expected["spans_len"]
            continue
        if not expected["spans"]:
            assert doc_id not in by_doc  # table-less docs emit nothing
            continue
        assert by_doc[doc_id] == expected["spans"], doc_id


def test_pipeline_prefilter_equivalence(spark):
    docs = fixture_corpus_df(spark)
    a, _ = extract_pipeline(docs, num_partitions=3, prefilter=True)
    b, _ = extract_pipeline(docs, num_partitions=3, prefilter=False)
    assert collect_by_doc(a) == collect_by_doc(b)


def test_pipeline_salt_and_partition_invariance(spark):
    docs = fixture_corpus_df(spark, copies=3)
    a, _ = extract_pipeline(docs, num_partitions=2, salt=0)
    b, _ = extract_pipeline(docs, num_partitions=11, salt=42)
    assert collect_by_doc(a) == collect_by_doc(b)


def test_metrics_match_golden(spark):
    docs = fixture_corpus_df(spark)
    _, metrics = extract_pipeline(docs, num_partitions=4, prefilter=False)
    got = {r["doc_id"]: r.asDict() for r in metrics.collect()}
    for doc_id, expected in GOLDEN.items():
        em = expected["metrics"]
        gm = got[doc_id]
        for k, v in em.items():
            assert gm[k] == v, f"{doc_id}.{k}: {gm[k]} != {v}"


def test_salted_repartition_defuses_skew(spark):
    """SURVEY §7.3.4: mega-doc skew.  All input clustered in ONE partition
    (the worst case: a pathological upstream file) must spread ~evenly over
    the salted buckets, and buckets must move when the salt changes."""
    from pyspark.sql import functions as F

    from table_extractor_spark.operators.repartition import salted_repartition

    docs = fixture_corpus_df(spark, copies=40).coalesce(1)  # 640 docs, 1 split
    spread = (
        salted_repartition(docs, num_partitions=8, salt=0)
        .withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .count()
        .collect()
    )
    counts = [r["count"] for r in spread]
    assert len(counts) == 8  # no empty partitions at 640 docs / 8 buckets
    assert max(counts) / (sum(counts) / len(counts)) < 1.5, counts

    # a different salt re-spreads (retry path for a pathological batch)
    a = {
        (r["doc_id"]): r["pid"]
        for r in salted_repartition(docs, num_partitions=8, salt=0)
        .withColumn("pid", F.spark_partition_id())
        .select("doc_id", "pid")
        .collect()
    }
    b = {
        (r["doc_id"]): r["pid"]
        for r in salted_repartition(docs, num_partitions=8, salt=1)
        .withColumn("pid", F.spark_partition_id())
        .select("doc_id", "pid")
        .collect()
    }
    moved = sum(1 for k in a if a[k] != b[k])
    assert moved > len(a) / 2, f"salt change moved only {moved}/{len(a)} docs"


def test_coalesce_spread_keeps_num_partitions_as_floor(spark):
    """coalesce cannot add partitions: a 1-partition input asked to spread
    over 4 must fall back to the salted repartition and reach the kernel 4
    partitions wide, while an input already wider keeps the cheap coalesce."""
    from pyspark.sql import functions as F

    narrow = fixture_corpus_df(spark, copies=4).coalesce(1)
    _, metrics = extract_pipeline(
        narrow, num_partitions=4, prefilter=False, spread="coalesce"
    )
    pids = metrics.select(F.spark_partition_id().alias("pid")).distinct()
    assert pids.count() == 4

    wide = fixture_corpus_df(spark).repartition(8, "doc_id")
    out, _ = extract_pipeline(wide, num_partitions=4, spread="coalesce")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Coalesce 4" in plan and plan.count("Exchange") == 1, plan


def test_plan_shape(spark):
    """The physical plan must keep the prefilter JVM-side (below the Python
    stage) and contain exactly one shuffle for the salted repartition."""
    docs = fixture_corpus_df(spark)
    out, _ = extract_pipeline(docs, num_partitions=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan, plan
    assert plan.count("Exchange") == 1, plan
    # the table prefilter runs below (closer to scan than) the python stage;
    # toString prints top-down, so the prefilter's Filter appears AFTER
    # MapInArrow in the text.  (There is also a post-parse Filter on kind
    # above MapInArrow — look specifically for the exists(...) prefilter.)
    ppos = plan.find("MapInArrow")
    fpos = plan.find("exists(")
    assert fpos > ppos >= 0, plan


def test_out_span_schema(spark):
    docs = fixture_corpus_df(spark)
    out, metrics = extract_pipeline(docs)
    assert [f.name for f in out.schema.fields] == [
        "doc_id", "kind", "text", "media_ref", "order"]
    assert metrics.columns[0] == "doc_id"
    parsed = parse_stage(docs)
    assert [f.name for f in parsed.schema.fields][:5] == [
        "doc_id", "kind", "text", "media_ref", "order"]


def test_hostile_corpus_never_kills_tasks(spark):
    """Poison inputs through the FULL Spark pipeline: None text, unknown
    kinds, duplicate/negative/None offsets, unterminated and hostile-colspan
    markup, binary junk — the job must complete, count every doc's metrics
    row, and extract the one clean table."""
    from pyspark.sql import functions as F
    from table_extractor_spark.plans.extract import extract_pipeline

    W = '<table class="wikitable">'
    clean = (W + "<tr><th>A</th></tr><tr><td>1</td></tr><tr><td>2</td></tr>"
             "</table>")
    rows = [
        ("ok", [("heading", "Sec", "", 0), ("text", clean, "", 1)]),
        ("none_text", [("text", None, None, 0)]),
        ("bad_kind", [("blob", "x", "", 0)]),
        ("dup_offsets", [("text", clean, "", 5), ("heading", "S", "", 5)]),
        ("neg_offset", [("text", clean, "", -3)]),
        ("unterminated", [("text", W + "<tr><td>x", "", 0)]),
        ("huge_colspan", [
            ("text", W + '<tr><th colspan="999999">H</th></tr>'
             "<tr><td>1</td></tr></table>", "", 0)]),
        ("colspan_zz", [
            ("text", W + '<tr><th colspan="zz">H</th></tr>'
             "<tr><td>1</td></tr><tr><td>2</td></tr></table>", "", 0)]),
        ("binary_junk", [("text", "\x00\xff<table junk \ud800".encode(
            "utf-8", "surrogatepass").decode("utf-8", "replace"), "", 0)]),
    ]
    docs = spark.createDataFrame(
        [(d, [{"kind": k, "text": t, "media_ref": r, "offset": o}
              for k, t, r, o in spans])
         for d, spans in rows],
        "doc_id string, spans array<struct<kind string, text string, "
        "media_ref string, offset int>>",
    )
    out, metrics = extract_pipeline(docs, num_partitions=4)
    out_rows = out.collect()
    m = {r.doc_id: r for r in metrics.collect()}
    # table-bearing docs get a metrics row; poison never kills the job
    assert set(m) >= {"ok", "dup_offsets", "neg_offset", "huge_colspan",
                      "colspan_zz"}
    assert m["ok"].rows_extracted == 2
    assert m["colspan_zz"].kernel_errors == 1
    ok_spans = sorted((r.kind, r.text) for r in out_rows if r.doc_id == "ok")
    # numeric cells render via the py2 float path ('1' -> '1.0'), as pinned
    # by the golden fixtures
    assert ("header", "A") in ok_spans and ("cell", "1.0") in ok_spans
    # huge colspan clamped (10k), not exploded to a gigarow
    assert len([r for r in out_rows if r.doc_id == "huge_colspan"]) < 20000


def test_linearize_tables_pairs_headers_positionally(spark):
    """3-column table, order-scrambled input rows: the per-table zip must
    reassemble 'H1: a | H2: b | H3: c' lines in table order regardless of
    partitioning or input order, and a doc's second table pairs its cells
    with its own headers."""
    from table_extractor_spark.plans.triples import linearize_tables

    rows = [
        ("d1", "header", "Name", "", 1),
        ("d1", "header", "Role", "", 2),
        ("d1", "header", "Team", "", 3),
        ("d1", "cell", "ana", "", 4),
        ("d1", "cell", "gk", "", 5),
        ("d1", "cell", "red", "", 6),
        ("d1", "cell", "bo", "", 7),
        ("d1", "cell", "st", "", 8),
        ("d1", "cell", "blue", "", 9),
        # a second doc with 2 columns exercises per-doc header arity
        ("d2", "header", "K", "", 1),
        ("d2", "header", "V", "", 2),
        ("d2", "cell", "k1", "", 3),
        ("d2", "cell", "v1", "", 4),
        # two tables in one doc: each 'section' span opens a table with its
        # own headers, so the zip restarts per table
        ("d3", "section", "Career", "", 1),
        ("d3", "header", "Team", "", 2),
        ("d3", "header", "Goals", "", 3),
        ("d3", "cell", "Alpha", "", 4),
        ("d3", "cell", "12", "", 5),
        ("d3", "section", "Honours", "", 6),
        ("d3", "header", "Title", "", 7),
        ("d3", "cell", "Cup", "", 8),
        ("d3", "cell", "League", "", 9),
    ]
    import random

    rng = random.Random(7)
    rng.shuffle(rows)
    spans = spark.createDataFrame(
        rows, ["doc_id", "kind", "text", "media_ref", "order"]
    ).repartition(4)
    got = {
        r.doc_id: (r.n_rows, r.linearized)
        for r in linearize_tables(spans).collect()
    }
    assert got["d1"] == (
        2,
        "Name: ana | Role: gk | Team: red\nName: bo | Role: st | Team: blue",
    )
    assert got["d2"] == (1, "K: k1 | V: v1")
    assert got["d3"] == (3, "Team: Alpha | Goals: 12\nTitle: Cup\nTitle: League")
