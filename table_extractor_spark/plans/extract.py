"""The flagship extraction pipeline: DataFrame plan over interleaved documents.

Spark-first layout (SURVEY.md §3.1 "Spark lifecycle equivalent"):

    read -> cheap JVM prefilter (P1 pushdown-able, whole-stage codegen)
         -> salted repartition on hash(doc_id, salt)   (skew defusal, §4)
         -> ONE Arrow-batched mapInArrow stage running the pure kernel,
            emitting PRE-EXPLODED flat span columns + per-doc metric rows
         -> filter split: span rows vs metric rows  (both JVM-side)

Everything outside the kernel stays JVM-side; there are no per-row Python
UDFs (BASELINE.json:input_hint) and no RDDs.

Why mapInArrow and not a scalar pandas UDF returning array<struct>: the
output is ~100 spans per input document, and converting per-doc lists of
tuples into a nested Arrow array<struct> column dominated the stage (~30%
of end-to-end wall at sf0.1x8 heavy docs).  Emitting flat string columns —
already exploded — keeps the Python->Arrow conversion columnar and drops the
JVM-side inline() explode entirely.  Metric rows ride along as one extra row
per document (kind IS NULL) instead of a second parse or a struct column.
"""

from __future__ import annotations

import gc
import os
import sys
import zipimport
from typing import Iterator, Optional, Tuple

import pyarrow as pa
from pyspark import TaskContext
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..kernel.document import extract_document_cols
from ..operators.repartition import salted_repartition

# ---- schemas (FIXTURES.md §1 input / §2 output) ---------------------------

SPAN_STRUCT = StructType(
    [
        StructField("kind", StringType()),
        StructField("text", StringType()),
        StructField("media_ref", StringType()),
        StructField("offset", IntegerType()),
    ]
)

INPUT_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("spans", ArrayType(SPAN_STRUCT)),
    ]
)

KERNEL_METRIC_FIELDS = (
    "tables_num",
    "tables_analyzed",
    "no_headers",
    "no_data",
    "headers_not_resolved",
    "rows_extracted",
    "data_extracted",
    "data_extracted_to_map",
    "triples_row",
    "kernel_errors",
)

# kernel_us (per-doc kernel wall, microseconds) is measured by the Arrow
# stage itself — summed per bucket in the lineage table it is the
# partition-time-spread signal the skew story needs (SURVEY §7.3.4:
# "measure partition-time spread in the metrics table")
METRIC_FIELDS = KERNEL_METRIC_FIELDS + ("kernel_us",)

# one wide output: span rows carry (kind..order), the per-doc metrics row
# carries kind NULL + the counters.  Nullable long columns are ~free in Arrow.
PARSED_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("kind", StringType()),
        StructField("text", StringType()),
        StructField("media_ref", StringType()),
        StructField("order", IntegerType()),
    ]
    + [StructField(f, LongType()) for f in METRIC_FIELDS]
)

OUT_COLUMNS = ("doc_id", "kind", "text", "media_ref", "order")


def parse_documents_gen(batches) -> Iterator["pa.RecordBatch"]:
    """mapInArrow generator: Arrow batches of the four span-field arrays ->
    pre-exploded span rows + one metrics row per document.

    Pure function of each document — embarrassingly parallel (SURVEY §2.9).
    Input columns are the PRIMITIVE arrays (doc_id, __k, __t, __r, __o) that
    ``parse_stage`` extracts JVM-side from the span structs — Arrow converts
    list<string> far cheaper than list<struct>, and no Python dict is ever
    built per span.  Output rows per batch are bounded by the Arrow batch
    size upstream times spans-per-doc.

    This is ``mapInArrow``, not ``mapInPandas``: the kernel consumes and
    produces plain Python lists, so round-tripping them through pandas
    object Series bought nothing and cost measurably — the Arrow variant is
    ~19% faster at steady state at 32 cores (11.5k -> 13.7k docs/s at
    reference document weight) and warm from the first task (no pandas
    block-manager warm-up)."""
    yield from _parse_batches(batches, emit_spans=True)


def parse_documents_metrics_gen(batches) -> Iterator["pa.RecordBatch"]:
    """Metrics-only variant: identical kernel work and metric rows, but the
    span output never crosses the Arrow boundary.  For metrics-only
    consumers (the S8 report aggregations) the span rows would be filtered
    out JVM-side anyway — Spark cannot prune through an opaque map stage
    (guide §4.1), so the pruning happens here, in the only place that can:
    ~12 span rows per document are never converted to Arrow nor shipped."""
    yield from _parse_batches(batches, emit_spans=False)


def _install_lazy_zip_invalidation() -> None:
    """Stop each Python task re-reading every zip on ``sys.path``.

    Before every task, a reused PySpark worker calls
    ``importlib.invalidate_caches()``; before Python 3.12 that eagerly
    re-reads the central directory of each ``zipimporter`` (16 of them over
    pyspark.zip, the py4j zip and the Spark jar), ~160 ms of CPU per task
    on a 4-vCPU VM against ~1 ms for an empty ``mapInArrow`` body.  The replacement
    re-reads an archive only when its ``(st_mtime_ns, st_size, st_ino)``
    changed since its last read, so new ``--py-files`` are still seen.
    Python 3.12 made that invalidation lazy (CPython gh-103200), so there
    this does nothing.  Idempotent.  ``_parse_batches`` installs it only
    inside a Spark task, so the driver (a test or a local iteration over
    batches) and the Spark-free kernel keep the stock behaviour."""
    cls = zipimport.zipimporter
    if sys.version_info >= (3, 12) or hasattr(cls.invalidate_caches, "stat_keyed"):
        return
    reread = cls.invalidate_caches
    read_at: dict = {}  # archive path -> stat key when its directory was read

    def invalidate_caches(self) -> None:
        try:
            st = os.stat(self.archive)
            key = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            key = None
        if key is not None and read_at.get(self.archive) == key:
            files = zipimport._zip_directory_cache.get(self.archive)
            if files is not None:
                self._files = files
                return
        reread(self)
        # stat taken BEFORE the read: a rewrite racing the read leaves a
        # stale key behind, which only costs one more read next time
        read_at[self.archive] = key

    invalidate_caches.stat_keyed = True
    cls.invalidate_caches = invalidate_caches


def _parse_batches(batches, emit_spans: bool) -> Iterator["pa.RecordBatch"]:
    from time import perf_counter

    import numpy as np

    if TaskContext.get() is not None:
        _install_lazy_zip_invalidation()

    names = list(OUT_COLUMNS) + list(METRIC_FIELDS)
    empty: tuple = ()
    for rb in batches:
        d = rb.column(0).to_pylist()
        ks_col = rb.column(1).to_pylist()
        ts_col = rb.column(2).to_pylist()
        rs_col = rb.column(3).to_pylist()
        os_col = rb.column(4).to_pylist()
        kinds: list = []
        texts: list = []
        refs: list = []
        lens: list = []
        metric_rows: list = []
        # The cyclic GC is paused for the batch's kernel loop.  The kernel
        # builds a tree and row dicts per table that outlive many young
        # collections, so the collector keeps traversing them (~20% of
        # kernel time measured), yet it never finds garbage: those
        # structures are acyclic and reference counting frees them
        # (tests/test_kernel_equivalence.py pins gc.collect() == 0).  The
        # finally restores the caller's state before the batch is built or
        # yielded, so neither a kernel error nor a consumer that stops
        # iterating can leave the worker with the GC off.
        gc_was_enabled = gc.isenabled()
        gc.disable()
        try:
            for did, ks, ts, rs, os_ in zip(d, ks_col, ts_col, rs_col, os_col):
                t0 = perf_counter()
                if ks is None:
                    ks = ts = rs = os_ = empty
                k, t, r, metrics = extract_document_cols(did, ks, ts, rs, os_)
                metrics["kernel_us"] = int((perf_counter() - t0) * 1e6)
                if emit_spans:
                    lens.append(len(k))
                    kinds.extend(k)
                    texts.extend(t)
                    refs.extend(r)
                metric_rows.append(metrics)
        finally:
            if gc_was_enabled:
                gc.enable()
        # span rows and metric rows ship as SEPARATE batches of the same
        # schema, each with pa.nulls() for the other family's columns — the
        # r2 interleaved layout appended 11 python Nones per span row
        # (~1,100 per document), which profiled as ~1/3 of the whole Arrow
        # stage at 32 cores; null buffers cost O(1) instead
        lens_np = np.asarray(lens, dtype=np.int64)
        total = int(lens_np.sum()) if emit_spans else 0
        if total:
            # doc_id repeated per span + per-doc order, both vectorized
            idx = np.repeat(np.arange(len(d), dtype=np.int64), lens_np)
            orders = np.arange(total, dtype=np.int32) - np.repeat(
                np.cumsum(lens_np) - lens_np, lens_np
            ).astype(np.int32)
            span_arrays = [
                rb.column(0).take(pa.array(idx)),
                pa.array(kinds, pa.string()),
                pa.array(texts, pa.string()),
                pa.array(refs, pa.string()),
                pa.array(orders, pa.int32()),
            ] + [pa.nulls(total, pa.int64()) for _ in METRIC_FIELDS]
            yield pa.RecordBatch.from_arrays(span_arrays, names)
        if d:
            metric_arrays = [
                rb.column(0),
                pa.nulls(len(d), pa.string()),
                pa.nulls(len(d), pa.string()),
                pa.nulls(len(d), pa.string()),
                pa.nulls(len(d), pa.int32()),
            ] + [
                pa.array([m[f] for m in metric_rows], pa.int64())
                for f in METRIC_FIELDS
            ]
            yield pa.RecordBatch.from_arrays(metric_arrays, names)


def table_prefilter() -> Column:
    """P1 cheap prefilter: skip documents with no ``<table`` anywhere.

    Runs JVM-side (whole-stage codegen) BEFORE the Python stage, so table-less
    docs never cross the Arrow boundary — the Spark equivalent of the
    reference's early "No tables found" exit (HtmlTableParser.py:118-121).

    NOTE: prefiltered docs produce no metrics row either — the reference
    counts them the same way (zero tables, nothing analyzed).
    """
    return F.exists(
        "spans",
        lambda s: F.lower(F.coalesce(s["text"], F.lit(""))).contains("<table"),
    )


def parse_stage(docs: DataFrame, metrics_only: bool = False) -> DataFrame:
    """docs(doc_id, spans) -> wide parsed frame (span rows + metric rows).

    The struct fields are pulled into four primitive array columns JVM-side
    (a free projection) so the Arrow crossing ships list<primitive> — see
    ``parse_documents_gen``.  With ``metrics_only`` the Python stage emits
    only the per-doc metric rows (same schema; span rows never built)."""
    cols = docs.select(
        "doc_id",
        F.col("spans.kind").alias("__k"),
        F.col("spans.text").alias("__t"),
        F.col("spans.media_ref").alias("__r"),
        F.col("spans.offset").alias("__o"),
    )
    gen = parse_documents_metrics_gen if metrics_only else parse_documents_gen
    return cols.mapInArrow(gen, schema=PARSED_SCHEMA)


def _spread(
    docs: DataFrame, spread: str, num_partitions: Optional[int], salt: int
) -> DataFrame:
    if spread == "coalesce":
        if num_partitions is None:
            num_partitions = int(
                docs.sparkSession.conf.get("spark.sql.shuffle.partitions")
            )
        # coalesce cannot add partitions, so it only applies when the plan
        # guarantees at least num_partitions (an explicit upstream
        # repartition); a narrower or unknown spread (0: scans, local data)
        # falls back to the salted repartition.  Read from the physical plan
        # without running it — df.rdd would execute AQE's shuffle stages.
        planned = (
            docs._jdf.queryExecution().sparkPlan()
            .outputPartitioning().numPartitions()
        )
        if planned >= num_partitions:
            return docs.coalesce(num_partitions)
    return salted_repartition(docs, num_partitions=num_partitions, salt=salt)


def extract_pipeline(
    docs: DataFrame,
    *,
    num_partitions: Optional[int] = None,
    salt: int = 0,
    prefilter: bool = True,
    spread: str = "shuffle",
) -> Tuple[DataFrame, DataFrame]:
    """Assemble the full plan; returns ``(out_spans_df, metrics_df)``.

    out_spans_df: (doc_id, kind, text, media_ref, order) — one row per output
    span; exact per-document sequences under ``order`` (never rely on row
    order across the shuffle — O2: order is data).

    metrics_df: (doc_id, <counter columns>) — per-document lineage/metrics
    feed (S8); aggregate with metric report queries.

    ``prefilter`` note: the filter runs on the ``spans`` column.  When
    ``spans`` is a materialized table column this is the cheap JVM
    prefilter it is meant to be; when ``spans`` is an unmaterialized
    synthesis EXPRESSION, Catalyst pushes the filter below the projection
    and duplicates the whole synthesis tree into the filter condition
    (measured ~1 s per run on the sf1.0 extract battery).  Callers whose
    corpus embeds a table in every document by construction (all
    synthesize_* corpora) should pass ``prefilter=False``.

    ``spread``: ``"shuffle"`` (default) is the salted repartition — the
    only safe choice for arbitrary inputs (file-scan split counts LIE about
    row spread: a single-row-group parquet file "splits" into N tasks of
    which N-1 are empty, so a narrow coalesce would serialize the kernel).
    ``"coalesce"`` skips the payload shuffle for inputs the CALLER knows
    are already evenly spread over >= num_partitions partitions (an
    explicit upstream repartition, as in synthesize_docs_from_testdata) —
    guide §2.4: the same markup bytes were previously exchanged a second
    time purely to re-establish a spread they already had.  When the plan
    does not guarantee that many partitions, ``"coalesce"`` falls back to
    the salted repartition rather than run the kernel narrower.

    NOTE on reuse: the two returned frames share the parse stage.  Run-once
    jobs should ``parsed.persist()`` or write the parse output to a table and
    branch from there — at 10^12-doc scale always write-then-branch.
    """
    if prefilter:
        docs = docs.filter(table_prefilter())
    docs = _spread(docs, spread, num_partitions, salt)
    parsed = parse_stage(docs)
    out = parsed.filter(F.col("kind").isNotNull()).select(*OUT_COLUMNS)
    metrics = parsed.filter(F.col("kind").isNull()).select(
        "doc_id", *METRIC_FIELDS
    )
    return out, metrics


def metrics_pipeline(
    docs: DataFrame,
    *,
    num_partitions: Optional[int] = None,
    salt: int = 0,
    prefilter: bool = True,
    spread: str = "shuffle",
) -> DataFrame:
    """Metrics-only plan: same spread + kernel as ``extract_pipeline`` but
    the span rows never cross the Arrow boundary (guide §4.1 — an opaque
    map stage defeats column pruning, so the prune lives in the generator).
    Row-for-row identical to ``extract_pipeline(...)[1]``."""
    if prefilter:
        docs = docs.filter(table_prefilter())
    docs = _spread(docs, spread, num_partitions, salt)
    parsed = parse_stage(docs, metrics_only=True)
    return parsed.filter(F.col("kind").isNull()).select(
        "doc_id", *METRIC_FIELDS
    )
