"""Physical-plan audits: the plans we ship must be the plans we'd want at
100 TB — filters pushed to the parquet scan, columns pruned, small joins
broadcast, JVM-only expressions outside the kernel (no accidental Python)."""

from __future__ import annotations

import re

import pytest

SF = "/root/testdata/sf0.001"


def formatted(df) -> str:
    """Full formatted explain (includes PushedFilters / ReadSchema)."""
    qe = df._jdf.queryExecution()
    return df.sparkSession._jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
        qe, "formatted"
    )


def test_filter_pushdown_and_column_pruning(spark):
    from table_extractor_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    li = (
        load_table(spark, SF, "lineitem")
        .filter(F.col("l_orderkey") < 100)
        .select("l_orderkey", "l_quantity")
    )
    plan = formatted(li)
    assert "PushedFilters" in plan
    assert "LessThan(l_orderkey,100)" in plan, plan
    # column pruning: the scan must read ONLY the two projected columns
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_comment" not in read_schema and "l_shipdate" not in read_schema


def test_rule_cascade_is_all_broadcast(spark):
    from table_extractor_spark.plans import queries as Q

    plan = formatted(Q.queries()["rule_lookup_cascade"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, plan


def test_q1_partial_aggregation(spark):
    from table_extractor_spark.plans import queries as Q

    df = Q.queries()["q1_pricing_summary"](spark, SF)
    plan = formatted(df)
    # map-side combine: a partial HashAggregate below the exchange and a
    # final one above
    assert plan.count("HashAggregate") >= 2, plan
    assert "partial_sum" in plan, plan
    assert "hashpartitioning" in plan, plan


def test_text_analysis_stays_jvm_side(spark):
    from table_extractor_spark.plans import queries as Q

    for name in ("quality_score", "token_count", "lang_id", "dedup_exact",
                 "minhash_signatures", "dedup_simhash"):
        plan = formatted(Q.queries()[name](spark, SF))
        assert "EvalPython" not in plan and "MapInPandas" not in plan \
            and "MapInArrow" not in plan, (
            f"{name} unexpectedly crosses into Python:\n{plan}"
        )


def test_quality_classifier_is_map_only_and_exact(spark):
    """The hashing-trick linear classifier must be ONE map-side pass: no
    Python crossing AND no Exchange anywhere in the scoring plan (the
    per-doc score is an F.aggregate over the token array).  Values are
    pinned against an independent Python replay of the shared md5-weight
    arithmetic so the stub model's plumbing is exact, not just shaped."""
    import hashlib

    from table_extractor_spark.functions.text import linear_classifier_score
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("d1", "Alpha beta GAMMA"), ("d2", "x"), ("d3", "a a a")],
        "doc_id string, text string",
    )
    got = {
        r["doc_id"]: r["score"]
        for r in df.select(
            "doc_id", linear_classifier_score(F.col("text")).alias("score")
        ).collect()
    }

    def w(word):
        return int(hashlib.md5(word.encode()).hexdigest()[:15], 16) % 17 - 8

    expect = {
        "d1": sum(w(x) for x in "alpha beta gamma".split(" ")),
        "d2": w("x"),
        "d3": 3 * w("a"),
    }
    assert got == expect, (got, expect)

    plan = formatted(
        df.select(linear_classifier_score(F.col("text")).alias("s"))
    )
    assert "Exchange" not in plan, plan
    assert "EvalPython" not in plan and "MapInArrow" not in plan, plan

    with pytest.raises(ValueError):
        linear_classifier_score(F.col("text"), n_weights=16)


def test_aqe_splits_skewed_join(spark):
    """The AQE leg of the broadcast-vs-salt-vs-AQE decision for a hot
    join key: with AQE skew-join on (the engine's recommended
    confs enable AQE), a shuffle join whose hot key owns a partition is
    SPLIT at runtime — the finalized adaptive plan must mark the join
    skew=true.  Thresholds are lowered to make the sandbox-scale hot key
    (~83% of rows on one key) cross the same trigger a mega-article key
    crosses at 100 TB."""
    from pyspark.sql import functions as F

    overrides = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "32k",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16k",
    }
    saved = {k: spark.conf.get(k, None) for k in overrides}
    try:
        for k, v in overrides.items():
            spark.conf.set(k, v)
        left = spark.range(0, 60000).select(
            F.when(F.col("id") < 50000, 0)
            .otherwise((F.col("id") % 9) + 1)
            .alias("k"),
            F.col("id").alias("v"),
        )
        right = spark.range(0, 10).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        joined = left.join(right, "k")
        # collect() (not count(), which finalizes a different plan tree)
        # so THIS DataFrame's adaptive plan reaches its final form
        assert len(joined.collect()) == 60000
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_q5_broadcasts_all_dimensions(spark):
    """TPC-H Q5 shape: the BOUNDED dimension sides (region, nation,
    supplier) broadcast via explicit hints; customer grows linearly with
    scale factor so it must NOT be forced — at test SF the optimizer's
    autoBroadcastJoinThreshold still picks a broadcast join for it, while
    at the 100-TB target AQE degrades it to a shuffle join instead of
    OOMing on a forced hint.  The same-nation predicate lives inside a
    join condition, never a cross product."""
    from table_extractor_spark.plans import queries as Q

    plan = formatted(Q.queries()["q5_local_supplier_volume"](spark, SF))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert plan.count("BroadcastHashJoin") >= 3, plan
    # the linearly-growing sides (customer, orders-lineitem edge) may
    # sort-merge; what matters is that no forced hint pins them broadcast
    src = __import__("inspect").getsource(Q.q5_local_supplier_volume)
    assert "broadcast(cust" not in src, "customer must not be force-broadcast"


def test_q17_per_part_agg_not_force_broadcast(spark):
    """TPC-H Q17 shape: the per-part aggregate is part-table sized
    (linear in SF) — no forced broadcast hint; the plan stays
    cross-product-free either way."""
    from table_extractor_spark.plans import queries as Q

    plan = formatted(Q.queries()["q17_small_quantity_revenue"](spark, SF))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    src = __import__("inspect").getsource(Q.q17_small_quantity_revenue)
    assert "broadcast(per_part" not in src, "per-part agg must not be force-broadcast"


def test_similarity_broadcasts_queries_not_corpus(spark):
    from table_extractor_spark.plans import queries as Q

    plan = formatted(Q.queries()["embedding_cosine_topk"](spark, SF))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan


def test_triples_joins_all_broadcast(spark):
    from table_extractor_spark.plans import queries as Q

    plan = formatted(Q.queries()["emit_triples"](spark, SF))
    assert "SortMergeJoin" not in plan, plan


def test_near_dup_pairs_has_no_cross_product(spark):
    """embedding_near_dup_pairs must generate candidates through the LSH
    bucket equi-join — never a within-group cross product (the r01 version's
    label self-join was quadratic in label-class size)."""
    from table_extractor_spark.plans import queries as Q

    plan = formatted(Q.queries()["embedding_near_dup_pairs"](spark, SF))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # candidate generation is an equi hash join on (tbl, bucket)
    assert "tbl" in plan and "bucket" in plan, plan


def test_emit_triples_reification_has_no_rejoin(spark):
    """A9 reification is a dense_rank on the cells' own doc window, and the
    chain reads ONE persisted kernel stage — the r01 plan paid 52 Exchanges
    and 4 kernel re-executions.  Now 3 and 1: the extraction's two (input
    spread, salted doc partitioning) and the chain's one range exchange on
    doc_id."""
    import re
    from table_extractor_spark.plans import queries as Q

    # this pins the COLD plan: a prior test may have left the shared parse
    # stage persisted (session-scoped SparkSession), which would hide the
    # MapInArrow stage behind an InMemoryTableScan and flip the counts
    spark.catalog.clearCache()
    plan = formatted(Q.queries()["emit_triples"](spark, SF))
    nodes = re.findall(r"^\((\d+)\) ([A-Za-z]+)", plan, re.M)
    kinds = [k for _, k in nodes]
    assert kinds.count("Exchange") <= 3, plan
    assert kinds.count("MapInArrow") == 1, plan
    assert "SortMergeJoin" not in plan


def _shuffle_exchanges(df) -> list:
    """The partitioning of every shuffle exchange in ``df``'s physical plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return re.findall(r"\bExchange (\w+partitioning\([^,)]*)", plan)


def _parquet_scans(plan: str) -> int:
    return len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M))


def _spans_scan(spark, tmp_path):
    path = str(tmp_path / "spans")
    spark.createDataFrame(
        [
            ("d1", "section", "S", "", 0),
            ("d1", "header", "H", "", 1),
            ("d1", "cell", "x", "", 2),
            ("d2", "section", "S", "", 0),
            ("d2", "header", "H", "", 1),
            ("d2", "cell", "1.5", "", 2),
        ],
        "doc_id string, kind string, text string, media_ref string, order int",
    ).write.parquet(path)
    return spark.read.parquet(path)


def test_ttl_chain_shuffles_spans_once(spark, tmp_path):
    """write_ttl(emit_triples(<parquet scan>)): the spans are scanned once and
    shuffled once, by a range exchange on doc_id that every per-document
    window and the TTL's global sort reuse — no hash exchange on doc_id, no
    second range exchange.  The only other shuffle is the entity distinct."""
    from table_extractor_spark.plans.triples import emit_triples, ttl_file_lines

    spans = _spans_scan(spark, tmp_path)
    rules = spark.createDataFrame(
        [("SECTION_S", "p"), ("H", "h")], "key string, property string"
    )
    ents = spark.createDataFrame([("x",)], "entity string")
    lines = ttl_file_lines(emit_triples(spans, rules, ents))
    plan = formatted(lines)
    assert _parquet_scans(plan) == 1, plan
    exchanges = _shuffle_exchanges(lines)
    assert sorted(e.split("#")[0] for e in exchanges) == [
        "hashpartitioning(__ent",
        "rangepartitioning(doc_id",
    ], exchanges


def test_settings_inventory_two_shuffles(spark, tmp_path):
    """settings_inventory: one hash exchange on doc_id for both table windows
    and one for groupBy(section, header); the section is a window, not a
    sections-headers join."""
    from table_extractor_spark.plans.explorer import settings_inventory

    spans = _spans_scan(spark, tmp_path)
    onto = spark.createDataFrame([("h", "dbo:h")], "label string, property string")
    inv = settings_inventory(spans, onto)
    assert _parquet_scans(formatted(inv)) == 1
    exchanges = _shuffle_exchanges(inv)
    assert len(exchanges) <= 2, exchanges
    assert "SortMergeJoin" not in formatted(inv)


def test_linearize_tables_shuffles_spans_once(spark, tmp_path):
    """linearize_tables(<parquet scan>): the spans are scanned once, and the
    table-segmentation windows and both groupBys share one hash exchange on
    doc_id — no per-doc header join, so no second scan and no broadcast."""
    from table_extractor_spark.plans.triples import linearize_tables

    lin = linearize_tables(_spans_scan(spark, tmp_path))
    plan = formatted(lin)
    assert _parquet_scans(plan) == 1, plan
    exchanges = _shuffle_exchanges(lin)
    assert [e.split("#")[0] for e in exchanges] == [
        "hashpartitioning(doc_id",
    ], exchanges
    assert "BroadcastExchange" not in plan, plan


def test_ttl_lines_escape_turtle(spark):
    """F-grammar: literals ECHAR-escaped, URI terms percent-encoded — raw
    wiki text (quotes, backslashes, newlines) must serialize to VALID
    Turtle, unlike the r01 version (ADVICE finding)."""
    from table_extractor_spark.plans.triples import ttl_lines
    t = spark.createDataFrame(
        [
            ("d 1", 'he said "hi"\\now', "pred`x", 'val\\ue\t"q"\nz', "string", 1),
            ("d2", "s", "p", "img://a b/<c>.jpg", "uri", 2),
            ("d3", "s", "p", "1.5", "float", 3),
            ("d4", "s", "p", "Res|{}", "resource", 4),
        ],
        ["doc_id", "subject", "predicate", "object", "object_kind", "t_order"],
    )
    lines = {r.doc_id: r.line for r in ttl_lines(t).collect()}
    assert lines["d 1"] == (
        "<http://dbpedia.org/resource/he%20said%20%22hi%22%5Cnow> "
        '<http://dbpedia.org/ontology/pred%60x> "val\\\\ue\\t\\"q\\"\\nz"'
        "^^<http://www.w3.org/2001/XMLSchema#string> ."
    )
    assert lines["d2"].split(" ")[2] == "<img://a%20b/%3Cc%3E.jpg>"
    assert lines["d4"].split(" ")[2] == (
        "<http://dbpedia.org/resource/Res%7C%7B%7D>"
    )
    # no raw newline / unescaped quote survives in any emitted line
    for line in lines.values():
        assert "\n" not in line and "\t" not in line


def test_q3_broadcasts_filtered_dims(spark):
    """TPC-H Q3 shape: the filters must reach the scans, the plan stays
    product-free, and — the r6 audit rule — the SF-linear filtered
    customer side carries NO forced broadcast hint (at test SF the
    optimizer still picks a broadcast join for it on its own)."""
    from table_extractor_spark.plans import queries as Q

    plan = formatted(Q.queries()["q3_shipping_priority"](spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "PushedFilters" in plan
    assert "IsNotNull(c_mktsegment)" in plan or "EqualTo(c_mktsegment,BUILDING)" in plan, plan
    src = __import__("inspect").getsource(Q.q3_shipping_priority)
    assert "F.broadcast(" not in src, "customer must not be force-broadcast"


def test_rollup_is_single_expand_aggregate(spark):
    """ROLLUP must be one Expand + one aggregation pipeline, not three scans."""
    from table_extractor_spark.plans import queries as Q

    plan = formatted(Q.queries()["rollup_event_stats"](spark, SF))
    assert plan.count("Expand") >= 1, plan
    # one scan feeding one Expand — NOT a union of three per-granularity scans
    assert "Union" not in plan, plan
    scan_lines = [
        ln for ln in plan.splitlines() if ln.lstrip("+- ").startswith("Scan ")
    ]
    assert len(scan_lines) == 1, plan


def test_aqe_splits_skewed_join_partitions(spark):
    """Skew beyond salting: AQE's runtime skew-join split must engage on a
    hot-key join when a partition exceeds the skew thresholds — the engine's
    second line of defense at 100 TB (salting covers the kernel stage;
    arbitrary user joins rely on AQE).  Forced-tiny thresholds make the
    behavior observable at test scale."""
    from pyspark.sql import functions as F

    conf = spark.conf
    saved = {
        k: conf.get(k, None)
        for k in (
            "spark.sql.adaptive.enabled",
            "spark.sql.adaptive.skewJoin.enabled",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.coalescePartitions.enabled",
        )
    }
    try:
        conf.set("spark.sql.adaptive.enabled", "true")
        conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
        conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB"
        )
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ
        conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")

        # 50k-row fact, 90% on ONE key; 100-row dim
        fact = spark.range(50000).select(
            F.when(F.col("id") % 10 < 9, F.lit(7))
            .otherwise(F.col("id") % 100)
            .alias("k"),
            F.concat(F.lit("payload_"), F.col("id")).alias("payload"),
        )
        dim = spark.range(100).select(
            F.col("id").alias("k"), F.concat(F.lit("d"), F.col("id")).alias("d")
        )
        joined = fact.join(dim, "k")
        # execute THIS dataset (collect, not count — count builds a separate
        # aggregate plan) so its adaptive plan is finalized, then inspect it
        n = len(joined.collect())
        assert n == 50000
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan, plan
        assert "skewed=" in plan.lower() or "skew" in plan.lower(), plan
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)


def test_ivf_probe_broadcasts_probes_not_index(spark):
    """ivf_search must broadcast the tiny probe set — shuffling the
    assignments table (the 10^9-vector index) for a sort-merge join was the
    audit-found scale bug."""
    from table_extractor_spark.plans import queries as Q

    plan = formatted(Q.queries()["ann_ivf_probed"](spark, SF))
    assert "SortMergeJoin" not in plan, plan


def test_topk_plans_use_partial_limits(spark):
    """Top-k shapes must let Catalyst push the limit below the shuffle:
    per-group top-k gets WindowGroupLimit (each map task forwards only its
    local top-k per group), global top-k gets TakeOrderedAndProject (no full
    sort) — at 10^12 rows these are the difference between shuffling k rows
    per group and shuffling everything."""
    from table_extractor_spark.plans import queries as Q

    plan = formatted(Q.queries()["top_k_per_group"](spark, SF))
    assert "WindowGroupLimit" in plan, plan
    for name in ("heavy_hitters", "q3_shipping_priority"):
        plan = formatted(Q.queries()[name](spark, SF))
        assert "TakeOrdered" in plan, (name, plan)


def test_round4_queries_plan_shape(spark):
    """r4 additions keep the plans we'd want at 100 TB: shard assembly adds
    exactly the index join + one grouping shuffle, and temperature mixing
    touches the corpus through a broadcast rate join only."""
    from table_extractor_spark.plans import queries as Q

    q = Q.queries()
    plan = formatted(q["domain_mix_temperature"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, plan
    assert "InPandas" not in plan and "EvalPython" not in plan

    plan = formatted(q["shard_assembly"](spark, SF))
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan \
        or "ShuffledHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "InPandas" not in plan and "EvalPython" not in plan


def test_round5_queries_plan_shape(spark):
    """r5 additions stay scale-right: fuzzy decontamination never
    self-joins the corpus bucket table (every bench-derived side is
    broadcast), and quantized tf-idf is partial-agg'd with no Python and
    no big-big join (df/n_docs are dimension/scalar sides)."""
    from table_extractor_spark.plans import queries as Q

    q = Q.queries()
    plan = formatted(q["fuzzy_decontamination"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "InPandas" not in plan and "EvalPython" not in plan, plan

    plan = formatted(q["tfidf_top_terms"](spark, SF))
    assert "partial_count" in plan, plan
    # tf x df is a vocab-keyed equi-join (broadcast at fixture scale,
    # shuffle-hash/SMJ on the word key at corpus scale): never a product
    assert "CartesianProduct" not in plan, plan
    assert "InPandas" not in plan and "EvalPython" not in plan, plan

    # winnowing: posexplode + one per-doc window + distinct — no joins at
    # all in the fingerprint query, and no Python anywhere
    plan = formatted(q["winnowing_fingerprints"](spark, SF))
    assert "Join" not in plan, plan
    assert "InPandas" not in plan and "EvalPython" not in plan, plan
    plan = formatted(q["winnowing_overlap_pairs"](spark, SF))
    assert "CartesianProduct" not in plan, plan
    assert "InPandas" not in plan and "EvalPython" not in plan, plan


def test_round6_relational_queries_plan_shape(spark):
    """The r6 relational additions stay scale-right: Q21's EXISTS / NOT
    EXISTS decorrelate to semi/anti HASH joins on the order key (never a
    theta product — the suppkey inequality is a residual inside the
    equi-join), Q13's priority filter survives as an ON-clause condition
    of a real outer join (zero-order customers intact), and Q18
    aggregates the fact table BEFORE any join with no forced broadcast
    of the linearly-growing aggregate."""
    from table_extractor_spark.plans import queries as Q

    q = Q.queries()
    plan = formatted(q["q21_sole_late_supplier"](spark, SF))
    assert "LeftSemi" in plan, plan
    assert "LeftAnti" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "InPandas" not in plan and "EvalPython" not in plan, plan

    plan = formatted(q["q13_order_distribution"](spark, SF))
    assert "LeftOuter" in plan, plan
    assert "partial_count" in plan, plan
    assert "CartesianProduct" not in plan, plan

    plan = formatted(q["q18_large_volume_orders"](spark, SF))
    assert "partial_sum" in plan, plan
    assert "CartesianProduct" not in plan, plan
    # the q5/q17 lesson: the qualifying-order aggregate grows with the
    # fact table, so the plan must not carry a FORCED broadcast hint
    import inspect

    from table_extractor_spark.plans import battery_relational as BR

    src = inspect.getsource(BR.q18_large_volume_orders)
    assert "F.broadcast(" not in src and "broadcast(" not in src.replace(
        "F.broadcast(", ""
    )


def test_ann_filtered_topk_pushes_filter_and_broadcasts_queries(spark):
    """Filtered vector search must PRE-filter: the label predicate reaches
    the parquet scan (row-group pruning at 10^12 vectors), and the query
    side stays the broadcast — never a corpus-sized shuffle."""
    from table_extractor_spark.plans import queries as Q

    plan = formatted(Q.queries()["ann_filtered_topk"](spark, SF))
    assert "EqualTo(label,1)" in plan, plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_q19_or_of_ands_stays_equi_join(spark):
    """The OR-of-ANDs disjunction must NOT break the equi-join: the
    partkey equality stays the hash-join key with the disjunction as a
    residual — never a cartesian/BNLJ — and constraint propagation still
    prunes the part scan to the two brands."""
    from table_extractor_spark.plans import queries as Q

    plan = formatted(Q.queries()["q19_or_of_ands_revenue"](spark, SF))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan), plan
    assert "Brand#11" in plan, plan  # derived per-side pruning reached a scan


# --------------------------------------------------------------------------
# round-7 optimization pins
# --------------------------------------------------------------------------


def test_heavy_hitters_limits_before_rank(spark):
    """Top-10 via TakeOrderedAndProject (distributed partial limits), the
    rank window only over the 10 survivors — no single-partition window
    over the corpus-linear per-user aggregate (r6 verdict scale-killer #2)."""
    from table_extractor_spark.plans import queries as Q

    plan = formatted(Q.queries()["heavy_hitters"](spark, SF))
    assert "TakeOrderedAndProject" in plan, plan


def test_metrics_pipeline_matches_extract_pipeline_metrics(spark):
    """The metrics-only Arrow stage must be row-for-row identical to the
    full pipeline's metrics branch (span emission is the only delta)."""
    from table_extractor_spark.plans.extract import (
        extract_pipeline,
        metrics_pipeline,
    )
    from table_extractor_spark.sources.tables import fixture_corpus_df

    docs = fixture_corpus_df(spark)
    _, expected = extract_pipeline(docs, num_partitions=4)
    got = metrics_pipeline(docs, num_partitions=4)
    # kernel_us is a measured wall time — everything else must match exactly
    assert sorted(map(tuple, got.drop("kernel_us").collect())) == sorted(
        map(tuple, expected.drop("kernel_us").collect())
    )


def test_brute_force_topk_spreads_corpus_off_scan(spark):
    """The corpus side of the brute-force scorer carries all the pair work:
    it must be hash-spread off the scan's row-group partitioning (a
    single-row-group file otherwise serializes the scoring stage)."""
    from table_extractor_spark.plans import queries as Q

    plan = formatted(Q.queries()["embedding_cosine_topk"](spark, SF))
    assert "hashpartitioning(neighbor_id" in plan, plan


def test_synthesized_extraction_has_no_duplicated_synthesis(spark):
    """prefilter=False on synthesized corpora: the markup-synthesis
    expression tree must appear in exactly one Project — the pushed-down
    spans prefilter used to duplicate it into a Filter condition."""
    from table_extractor_spark.plans import queries as Q

    plan = formatted(Q.queries()["extract_synthetic"](spark, SF))
    # the synthesis tree is recognizable by the wikitable literal; it must
    # occur exactly once (the Project), not twice (Project + Filter)
    assert plan.count('<table class="wikitable">') == 1, plan
