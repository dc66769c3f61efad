"""The traced run: per-layer metrics and the tracing overhead.

Every layer is timed from outside, around calls into its public functions
(``harness.Tracer``), and Spark's own event log supplies the task-level
numbers.  Each layer's end-to-end metric, and where it shows:

========================  ===================================  ============
layer                     metrics                              moves
========================  ===================================  ============
kernel                    kernel.us_per_doc_p50/_p99,          docs_per_s
                          kernel.parse_fragment_share,         (refweight)
                          kernel.parse_table_share
plans.extract             extract.kernel_busy_share,           docs_per_s
                          extract.arrow_docs_ratio,
                          extract.spans_per_doc
operators.repartition     repartition.spread_s,                job_s
                          repartition.max_over_mean_rows,
                          repartition.max_over_mean_kernel_us
sources                   sources.scan_s, sources.input_mb     job_s
streaming.checkpoint +    checkpoint.wave_s_p50/_p90,          job_s, write
sources.writers           checkpoint.resume_noop_s,            amplification
                          checkpoint.read_output_s,
                          writers.overwrite_s,
                          checkpoint.files_written,
                          checkpoint.write_amplification
plans.triples /           triples.emit_s, triples.ttl_write_s, job_s
plans.explorer            triples.per_span,                    (rdf_emit)
                          explorer.inventory_s
session                   session.start_s                      setup_s
Spark event log           spark.shuffle_write_mb, spill_mb,    job_s
                          gc_share, max_task_over_median,
                          scaling_eff_1to4
========================  ===================================  ============

The event-log figures and ``trace.overhead_s`` cover the workload's own
timed job, run alternately bare and traced in one session (the event log
on for both, so the overhead is that of the wrappers); the other layers
are probed one at a time on the workload's documents, so every layer
reports on every workload.
"""

from __future__ import annotations

import os
import random
import time
from typing import Dict, List, Tuple

from harness import (
    CORES,
    Tracer,
    count_files,
    dir_bytes,
    event_log_stats,
    median,
    percentile,
    set_up,
    stop_session,
    timed_loop,
)
from workloads import checkpointed_pass, mapping_tables

PROBE_REPEATS = 3
SHARE_SAMPLE = 200

Metrics = Dict[str, Tuple[float, str]]


def _timed(tracer: Tracer, name: str, fn, repeats: int = 1):
    """Run ``fn`` ``repeats`` times in spans called ``name``; returns the
    median duration and the last result."""
    durs, res = [], None
    for _ in range(repeats):
        with tracer.span(name) as rec:
            res = fn()
        durs.append(rec["end"] - rec["start"])
    return median(durs), res


def _max_over_mean(per_part: Dict[int, float], parts: int) -> float:
    values = [per_part.get(p, 0) for p in range(parts)]
    return max(values) / max(sum(values) / parts, 1e-9)


def _install(tracer: Tracer) -> None:
    """Spans around the public calls the workloads and probes make."""
    from table_extractor_spark.plans import explorer, extract, triples
    from table_extractor_spark.sources import tables
    from table_extractor_spark.streaming import checkpoint

    tracer.wrap(tables, "load_table", "sources.load_table")
    tracer.wrap(extract, "extract_pipeline", "extract.extract_pipeline")
    tracer.wrap(extract, "salted_repartition", "repartition.salted_repartition")
    tracer.wrap(triples, "emit_triples", "triples.emit_triples")
    tracer.wrap(triples, "write_ttl", "triples.write_ttl")
    tracer.wrap(explorer, "settings_inventory", "explorer.settings_inventory")
    tracer.wrap(checkpoint.CheckpointedRun, "run", "checkpoint.run")
    tracer.wrap(checkpoint.CheckpointedRun, "read_output", "checkpoint.read_output")
    tracer.wrap(checkpoint, "dynamic_partition_overwrite", "writers.overwrite")


def kernel_metrics(docs, seed: int) -> Tuple[Metrics, int]:
    """Single-threaded kernel timings on the workload's own documents, in
    seeded order, and on a seeded sample of them for the parse-stage
    shares; also returns how many docs hold a wikitable."""
    from table_extractor_spark.kernel import document

    sample = random.Random(seed).sample(docs, len(docs))
    cols = [
        (d, [s["kind"] for s in sp], [s["text"] for s in sp],
         [s["media_ref"] for s in sp], [s["offset"] for s in sp])
        for d, sp in sample
    ]
    per_doc, with_table = [], 0
    for c in cols:
        t0 = time.perf_counter()
        m = document.extract_document_cols(*c)[3]
        per_doc.append((time.perf_counter() - t0) * 1e6)
        with_table += m["tables_num"] > 0

    # second pass with the two parse stages wrapped: their share of kernel time
    spent = {"parse_fragment": 0.0, "parse_table": 0.0}
    originals = {k: getattr(document, k) for k in spent}

    def timed(name):
        fn = originals[name]

        def inner(*a, **kw):
            t0 = time.perf_counter()
            try:
                return fn(*a, **kw)
            finally:
                spent[name] += time.perf_counter() - t0

        return inner

    for k in spent:
        setattr(document, k, timed(k))
    try:
        t0 = time.perf_counter()
        for c in cols[:SHARE_SAMPLE]:
            document.extract_document_cols(*c)
        total = time.perf_counter() - t0
    finally:
        for k, fn in originals.items():
            setattr(document, k, fn)
    return {
        "kernel.us_per_doc_p50": (median(per_doc), "us"),
        "kernel.us_per_doc_p99": (percentile(per_doc, 99), "us"),
        "kernel.parse_fragment_share": (spent["parse_fragment"] / total, "ratio"),
        "kernel.parse_table_share": (spent["parse_table"] / total, "ratio"),
    }, with_table


def probe_layers(spark, wl, tracer: Tracer, with_table: float) -> Metrics:
    """Each layer run alone on the workload's documents."""
    from pyspark.sql import functions as F

    from table_extractor_spark.operators.repartition import salted_repartition
    from table_extractor_spark.plans.explorer import settings_inventory
    from table_extractor_spark.plans.extract import extract_pipeline
    from table_extractor_spark.plans.triples import emit_triples, write_ttl
    from table_extractor_spark.streaming.checkpoint import CheckpointedRun

    def noop(df):
        return lambda: df.write.format("noop").mode("overwrite").save()

    docs = wl.load_docs(spark)
    out: Metrics = {}
    scan_s, _ = _timed(tracer, "probe.scan", noop(docs), PROBE_REPEATS)
    out["sources.scan_s"] = (scan_s, "s")
    out["sources.input_mb"] = (wl.input_bytes / 2**20, "MB")

    spread = salted_repartition(docs, num_partitions=CORES)
    spread_s, _ = _timed(tracer, "probe.spread", noop(spread), PROBE_REPEATS)
    rows = dict(
        spread.groupBy(F.spark_partition_id().alias("p")).count().collect()
    )
    out["repartition.spread_s"] = (spread_s, "s")
    out["repartition.max_over_mean_rows"] = (_max_over_mean(rows, CORES), "ratio")

    spans_df, metrics_df = extract_pipeline(docs)
    wall, per_doc = _timed(tracer, "probe.extract_metrics", lambda: metrics_df.select(
        "kernel_us", F.spark_partition_id().alias("p")
    ).collect())
    _, n_spans = _timed(tracer, "probe.extract_spans", spans_df.count)
    kernel_by_part: Dict[int, float] = {}
    for r in per_doc:
        kernel_by_part[r["p"]] = kernel_by_part.get(r["p"], 0) + r["kernel_us"]
    kernel_us = sum(kernel_by_part.values())
    out["extract.kernel_busy_share"] = (kernel_us / 1e6 / (wall * CORES), "ratio")
    out["extract.arrow_docs_ratio"] = (len(per_doc) / max(with_table, 1), "ratio")
    out["extract.spans_per_doc"] = (n_spans / max(len(per_doc), 1), "count")
    out["repartition.max_over_mean_kernel_us"] = (
        _max_over_mean(kernel_by_part, CORES), "ratio"
    )

    run = CheckpointedRun(
        base_dir=os.path.join(wl.work, "probe_ckpt"), run_id="probe",
        num_buckets=2 * CORES, wave_size=CORES,
    )
    checkpointed_pass(spark, run, docs)
    waves = tracer.durations("checkpoint.run")
    # the last run() call is the resume on the completed run
    out["checkpoint.wave_s_p50"] = (median(waves[:-1]), "s")
    out["checkpoint.wave_s_p90"] = (percentile(waves[:-1], 90), "s")
    out["checkpoint.resume_noop_s"] = (waves[-1], "s")
    out["checkpoint.read_output_s"] = (
        _timed(tracer, "probe.read_output", lambda: run.read_output(spark).count())[0],
        "s",
    )
    out["writers.overwrite_s"] = (median(tracer.durations("writers.overwrite")), "s")
    out["checkpoint.files_written"] = (count_files(run.base_dir), "count")
    out["checkpoint.write_amplification"] = (
        dir_bytes(run.base_dir) / wl.input_bytes, "ratio"
    )

    # triples over the committed extraction output, with mapping rules for
    # every (section, header) the explorer inventories
    extracted = run.read_output(spark)
    _, entities, ontology = mapping_tables(spark)
    inv_s, inv = _timed(
        tracer, "probe.inventory",
        lambda: settings_inventory(extracted, ontology).collect(),
    )
    rules = {f"SECTION_{r['section']}": "section" for r in inv}
    rules.update({r["header"]: r["property"] or "p" for r in inv})
    rules_df = spark.createDataFrame(
        list(rules.items()), "key string, property string"
    )
    triples = emit_triples(extracted, rules_df, entities)
    emit_s, n_triples = _timed(tracer, "probe.emit", triples.count)
    ttl_s, _ = _timed(
        tracer, "probe.ttl",
        lambda: write_ttl(triples, os.path.join(wl.work, "probe_ttl")),
    )
    out["triples.emit_s"] = (emit_s, "s")
    out["triples.ttl_write_s"] = (ttl_s, "s")
    out["triples.per_span"] = (n_triples / max(n_spans, 1), "ratio")
    out["explorer.inventory_s"] = (inv_s, "s")
    return out


def run_traced(wl_cls, work: str, seed: int, seconds: float, spans_out: str) -> dict:
    tracer = Tracer()
    wl = wl_cls(work, seed)
    spark, setups = set_up(wl, work, warmups=2, event_log=True)
    untraced: List[float] = []
    traced: List[float] = []

    def job(i: int) -> None:
        """Even jobs run bare, odd ones with every public call wrapped."""
        if i % 2 == 0:
            t0 = time.perf_counter()
            wl.job(spark, i)
            untraced.append(time.perf_counter() - t0)
            return
        _install(tracer)
        try:
            with tracer.span("job") as rec:
                wl.job(spark, i)
        finally:
            tracer.unwrap_all()
        traced.append(rec["end"] - rec["start"])

    try:
        spark.sparkContext.setJobGroup("timed", "timed job")
        timed_loop(job, seconds, min_iters=4)
        spark.sparkContext.setJobGroup("probe", "layer probes")
        kernel, with_table = kernel_metrics(wl.docs, seed)
        _install(tracer)
        layers = probe_layers(spark, wl, tracer, with_table)
        attempted, failed = wl.check(spark)
    finally:
        tracer.unwrap_all()
        stop_session(spark, keep_jvm=True)
    ev = event_log_stats(os.path.join(work, "events"), "timed")

    # the same job on one core (after its own warm-up), for scaling efficiency
    spark, _ = set_up(wl, work, cores=1)
    try:
        one_core = timed_loop(lambda i: wl.job(spark, i), 0, min_iters=1)
    finally:
        stop_session(spark)
    tracer.dump(spans_out)

    n = len(traced) + len(untraced)
    metrics: Metrics = dict(kernel)
    metrics.update(layers)
    metrics["session.start_s"] = (setups[0][0], "s")
    metrics["spark.shuffle_write_mb"] = (ev["shuffle_write_bytes"] / n / 2**20, "MB")
    metrics["spark.spill_mb"] = (ev["spill_bytes"] / n / 2**20, "MB")
    metrics["spark.gc_share"] = (ev["gc_share"], "ratio")
    metrics["spark.max_task_over_median"] = (ev["max_task_over_median"], "ratio")
    metrics["spark.scaling_eff_1to4"] = (
        median(one_core) / (CORES * median(untraced)), "ratio"
    )
    metrics["trace.overhead_s"] = (median(traced) - median(untraced), "s")
    return {
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
        "extra": {
            "failed_share": failed / attempted,
            "job_s_untraced": median(untraced),
            "job_s_traced": median(traced),
            "runs": n,
        },
    }
