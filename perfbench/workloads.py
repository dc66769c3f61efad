"""The benchmark's workloads: input generation, the timed job, and the
output check that counts failed documents.

Each workload is a closed loop, one job at a time.  Why each exists:

* ``refweight_extract``: reference-weight pages through read ->
  ``extract_pipeline`` -> noop sink.  The Python kernel does most of the
  work and the shuffle very little, so kernel and Arrow-boundary changes
  show here, and window/broadcast-join changes must not.
* ``rdf_emit``: a spans table of fixture-page copies (the kernel's output,
  written during set-up) goes through ``emit_triples`` -> ``write_ttl`` plus
  ``settings_inventory``.  Windows, broadcast joins and the range-partitioned
  sort do all the timed work and the kernel none, so a kernel-only change
  must not move it.

The checkpointed, resumable path (``CheckpointedRun``) is measured per
layer in the traced run (``layers.py``) on both workloads' documents.
"""

from __future__ import annotations

import json
import os
from typing import Dict, List, Set, Tuple

import gen

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GOLDEN_PATH = os.path.join(ROOT, "tests", "golden_spans.json")

Span = Tuple[str, str, str, int]


def kernel_expected(docs: List[gen.Doc]) -> Dict[str, Tuple[List[Span], dict]]:
    """Driver-side reference: the kernel run on every doc in this process."""
    from table_extractor_spark.kernel.document import extract_document

    return {doc_id: extract_document(doc_id, spans) for doc_id, spans in docs}


def golden_expected(copies: Dict[str, str]) -> Dict[str, Tuple[object, dict]]:
    """Expected output of fixture copies, straight from the golden file."""
    with open(GOLDEN_PATH, encoding="utf-8") as f:
        golden = json.load(f)
    out = {}
    for copy_id, base in copies.items():
        g = golden[base]
        if "spans" in g:
            spans: object = [tuple(s) for s in g["spans"]]
        else:  # soccer_mega pins only its length and both ends
            spans = (g["spans_len"], [tuple(s) for s in g["first"]],
                     [tuple(s) for s in g["last"]])
        out[copy_id] = (spans, g["metrics"])
    return out


def _spans_match(expected: object, got: List[Span]) -> bool:
    if isinstance(expected, tuple):
        n, first, last = expected
        return len(got) == n and got[:8] == first and got[-4:] == last
    return got == expected


def spans_by_doc(pdf) -> Dict[str, List[Span]]:
    pdf = pdf.sort_values(["doc_id", "order"], kind="stable")
    out: Dict[str, List[Span]] = {}
    for d, k, t, r, o in zip(
        pdf["doc_id"], pdf["kind"], pdf["text"], pdf["media_ref"], pdf["order"]
    ):
        out.setdefault(d, []).append((k, t, r, int(o)))
    return out


def metrics_by_doc(pdf) -> Dict[str, dict]:
    from table_extractor_spark.plans.extract import KERNEL_METRIC_FIELDS

    cols = [pdf[f].tolist() for f in KERNEL_METRIC_FIELDS]
    return {
        d: {f: int(c[i]) for f, c in zip(KERNEL_METRIC_FIELDS, cols)}
        for i, d in enumerate(pdf["doc_id"].tolist())
    }


def failed_docs(
    expected: Dict[str, Tuple[object, dict]],
    got_spans: Dict[str, List[Span]],
    got_metrics: Dict[str, dict],
) -> Set[str]:
    """Documents whose output or counters differ from ``expected``, or that
    report kernel errors.  A doc may be missing from the metrics output (the
    pipeline's prefilter drops it) only if it holds no table at all."""
    failed = set()
    for doc_id, (exp_spans, exp_metrics) in expected.items():
        m = got_metrics.get(doc_id)
        spans = got_spans.get(doc_id, [])
        if m is None:
            ok = not spans and exp_metrics["tables_num"] == 0
        else:
            ok = (
                m["kernel_errors"] == 0
                and m == exp_metrics
                and _spans_match(exp_spans, spans)
            )
        if not ok:
            failed.add(doc_id)
    return failed


class Workload:
    """One workload: ``generate`` writes the input parquet (no Spark),
    ``open`` readies a session, ``job`` is one timed run, ``check`` returns
    (documents attempted, documents failed) for the output of the runs."""

    name = ""
    docs: List[gen.Doc]

    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed
        self.docs_path = os.path.join(work, "docs.parquet")
        self.input_bytes = 0

    @property
    def n_docs(self) -> int:
        return len(self.docs)

    def generate(self) -> None:
        raise NotImplementedError

    def open(self, spark) -> None:
        pass

    def load_docs(self, spark):
        from table_extractor_spark.sources.tables import load_table

        return load_table(spark, self.work, "docs")

    def job(self, spark, i: int) -> None:
        raise NotImplementedError

    def check(self, spark) -> Tuple[int, int]:
        raise NotImplementedError


class RefweightExtract(Workload):
    name = "refweight_extract"
    N_DOCS = 300
    FIXTURE_COPIES = 2

    def generate(self) -> None:
        self.docs, self.copies = gen.refweight_docs(
            self.seed, self.N_DOCS, self.FIXTURE_COPIES
        )
        self.input_bytes = gen.write_docs(self.docs, self.docs_path, 4)

    def job(self, spark, i: int) -> None:
        from table_extractor_spark.plans.extract import extract_pipeline

        out, _ = extract_pipeline(self.load_docs(spark))
        out.write.format("noop").mode("overwrite").save()

    def check(self, spark) -> Tuple[int, int]:
        """Fixture copies must equal the golden file; every other doc
        (the doc_id-dependent fixture included) the driver-side kernel."""
        from table_extractor_spark.plans.extract import extract_pipeline

        out, metrics = extract_pipeline(self.load_docs(spark))
        got = spans_by_doc(out.toPandas())
        got_m = metrics_by_doc(metrics.toPandas())
        golden = {
            c: b for c, b in self.copies.items() if b in gen.DOC_ID_FREE_FIXTURES
        }
        expected = kernel_expected([(d, s) for d, s in self.docs if d not in golden])
        expected.update(golden_expected(golden))
        return self.n_docs, len(failed_docs(expected, got, got_m))


def mapping_tables(spark):
    """(rules, entities, ontology) frames from the fixture vocabulary: the
    mapping rules, the known entities, and for the explorer a label table
    made of the bare-header rules."""
    from table_extractor_spark.sources.corpus import entities_rows, rules_rows

    rules = rules_rows()
    return (
        spark.createDataFrame(
            [(r["key"], r["property"]) for r in rules], "key string, property string"
        ),
        spark.createDataFrame([(e["name"],) for e in entities_rows()], "entity string"),
        spark.createDataFrame(
            [(r["key"], r["property"]) for r in rules if "_" not in r["key"]],
            "label string, property string",
        ),
    )


def checkpointed_pass(spark, run, docs) -> int:
    """Waves one at a time until done, a resume call on the completed run,
    then the committed output read back; returns its row count."""
    while run.run(spark, docs, max_waves=1)["remaining"]:
        pass
    run.run(spark, docs)
    return run.read_output(spark).count()


class RdfEmit(Workload):
    name = "rdf_emit"
    COPIES = 120

    def generate(self) -> None:
        """The spans table is the kernel's output for fixture-page copies,
        written directly; the documents themselves feed the layer probes."""
        self.docs, self.copies = gen.rdf_docs(self.seed, self.COPIES)
        gen.write_docs(self.docs, self.docs_path, 4)
        self.input_bytes = gen.write_rows(
            gen.spans_rows(self.docs), _spans_schema(),
            os.path.join(self.work, "spans.parquet"), 4,
        )
        self.ttl_path = os.path.join(self.work, "ttl")

    def open(self, spark) -> None:
        self.rules, self.entities, self.ontology = mapping_tables(spark)

    def load_spans(self, spark):
        from table_extractor_spark.sources.tables import load_table

        return load_table(spark, self.work, "spans")

    def job(self, spark, i: int) -> None:
        from table_extractor_spark.plans.explorer import settings_inventory
        from table_extractor_spark.plans.triples import emit_triples, write_ttl

        spans = self.load_spans(spark)
        write_ttl(emit_triples(spans, self.rules, self.entities), self.ttl_path)
        settings_inventory(spans, self.ontology).collect()

    def check(self, spark) -> Tuple[int, int]:
        """A copy fails if its lines in the TTL the last job wrote differ
        from its base page's lines with only the doc_id swapped."""
        from table_extractor_spark.plans.triples import emit_triples, ttl_lines
        from table_extractor_spark.sources.corpus import fixture_documents

        bad: Set[str] = set()
        base_docs = [
            (d, s) for d, s in fixture_documents() if d in gen.RDF_FIXTURES
        ]
        base_spans = spark.createDataFrame(gen.spans_rows(base_docs), _spans_schema())
        triples = emit_triples(base_spans, self.rules, self.entities)
        base: Dict[str, List[str]] = {}
        for r in ttl_lines(triples).collect():
            base.setdefault(r["doc_id"], []).append(r["line"])
        mine = _ttl_lines_by_copy(self.ttl_path, self.copies)
        for copy_id, base_id in self.copies.items():
            swapped = sorted(
                line.replace(_RESOURCE + copy_id, _RESOURCE + base_id)
                for line in mine.pop(copy_id, [])
            )
            if swapped != sorted(base.get(base_id, [])):
                bad.add(copy_id)
        if mine:  # lines whose subject is no copy at all
            bad.update(self.copies)
        return self.n_docs, len(bad)


_RESOURCE = "<http://dbpedia.org/resource/"


def _spans_schema():
    """The extraction output's columns, typed as ``extract_pipeline`` emits them."""
    from pyspark.sql.types import StructType

    from table_extractor_spark.plans.extract import OUT_COLUMNS, PARSED_SCHEMA

    return StructType([f for f in PARSED_SCHEMA.fields if f.name in OUT_COLUMNS])


def _ttl_lines_by_copy(path: str, copies: Dict[str, str]) -> Dict[str, List[str]]:
    """TTL lines grouped by the copy their subject (``<copy>`` or
    ``<copy>__<row>``) belongs to."""
    out: Dict[str, List[str]] = {}
    for d, _, files in os.walk(path):
        for f in files:
            if not f.startswith("part-"):
                continue
            with open(os.path.join(d, f), encoding="utf-8") as fh:
                for line in fh:
                    line = line.rstrip("\n")
                    subject = line[len(_RESOURCE) : line.index(">")]
                    if subject not in copies:
                        subject = subject.rsplit("__", 1)[0]
                    out.setdefault(subject, []).append(line)
    return out


WORKLOADS = {w.name: w for w in (RefweightExtract, RdfEmit)}
