"""Resume/exactly-once tests for the checkpoint/lineage layer (SURVEY §5.2
"Resume tests: kill-after-k-partitions simulation -> restart -> assert
exactly-once per-doc output via the checkpoint/lineage table")."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from table_extractor_spark.plans.extract import extract_pipeline
from table_extractor_spark.sources.incremental import (
    new_documents,
    record_processed,
)
from table_extractor_spark.sources.tables import fixture_corpus_df
from table_extractor_spark.streaming.checkpoint import CheckpointedRun


def spans_by_doc(df):
    rows = df.collect()
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append((r.kind, r.text, r.media_ref, r.order))
    for v in by_doc.values():
        v.sort(key=lambda s: s[3])
    return by_doc


@pytest.fixture()
def run(tmp_path):
    return CheckpointedRun(
        base_dir=str(tmp_path / "ckpt"),
        run_id="r1",
        num_buckets=8,
        salt=7,
        wave_size=3,
    )


def test_kill_and_resume_exactly_once(spark, run):
    docs = fixture_corpus_df(spark, copies=4)

    # "kill after k waves": only 1 of 3 waves executes
    partial = run.run(spark, docs, max_waves=1)
    assert len(partial["processed_now"]) == 3
    assert len(partial["remaining"]) == 5

    # restart: resumes where lineage left off, skips committed buckets
    resumed = run.run(spark, docs)
    assert sorted(resumed["already_complete"]) == sorted(partial["processed_now"])
    assert sorted(
        resumed["already_complete"] + resumed["processed_now"]
    ) == list(range(run.num_buckets))
    assert resumed["remaining"] == []

    # exactly-once: committed output == single-shot pipeline output
    expected, _ = extract_pipeline(docs, num_partitions=4)
    assert spans_by_doc(run.read_output(spark)) == spans_by_doc(expected)

    # a fully-complete run is a no-op
    again = run.run(spark, docs)
    assert again["processed_now"] == []


def test_lineage_covers_every_bucket_and_report(spark, run):
    docs = fixture_corpus_df(spark, copies=2)
    run.run(spark, docs)
    lin = run.lineage(spark)
    assert lin.select("bucket").distinct().count() == run.num_buckets
    # empty buckets committed with zero counts, non-empty with real ones
    assert lin.agg(F.sum("n_docs")).collect()[0][0] == docs.count()

    report = run.metrics_report(spark).collect()[0]
    assert report["docs"] == docs.count()
    assert report["spans"] == run.read_output(spark).count()
    assert report["tables_num"] >= report["tables_analyzed"] > 0
    assert report["kernel_us"] > 0  # per-doc timing flowed into lineage

    skew = run.partition_skew_report(spark).collect()[0]
    assert skew["buckets"] == run.num_buckets
    assert skew["max_kernel_s"] >= skew["mean_kernel_s"] >= 0
    assert skew["skew_ratio"] >= 1.0


def test_uncommitted_bucket_invisible_to_readers(spark, run, tmp_path):
    docs = fixture_corpus_df(spark)
    run.run(spark, docs)
    # simulate a crash AFTER data write, BEFORE lineage append: plant span
    # rows in a bucket partition that has no lineage row
    ghost = spark.createDataFrame(
        [("ghost", "cell", "x", "", 0)],
        "doc_id string, kind string, text string, media_ref string, order int",
    )
    ghost.write.mode("append").parquet(
        os.path.join(run.out_dir, "bucket=9999")
    )
    out = run.read_output(spark)
    assert out.filter(F.col("doc_id") == "ghost").count() == 0


def test_crash_between_data_write_and_lineage_append(spark, run, monkeypatch):
    """A real crash at the commit point: the wave's span and metrics
    partitions are written, then the lineage append fails.  The wave stays
    uncommitted and invisible, and the next run() rewrites it once."""
    from pyspark.sql.readwriter import DataFrameWriter

    from table_extractor_spark.operators.repartition import bucket_expr

    docs = fixture_corpus_df(spark, copies=2)
    first = run.run(spark, docs, max_waves=1)["processed_now"]

    real_parquet = DataFrameWriter.parquet
    crashes = []

    def crash_once_on_lineage(self, path, *args, **kwargs):
        if path == run.lineage_dir and not crashes:
            crashes.append(path)
            raise RuntimeError("injected crash before the lineage append")
        return real_parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", crash_once_on_lineage)
    with pytest.raises(RuntimeError, match="injected crash"):
        run.run(spark, docs)
    crashed = [b for b in range(run.num_buckets) if b not in first][: run.wave_size]

    assert run.completed_buckets(spark) == sorted(first)
    written = spark.read.parquet(run.out_dir).filter(F.col("bucket").isin(*crashed))
    assert written.count() > 0  # the data write did happen before the crash
    crashed_docs = {
        r.doc_id
        for r in docs.filter(
            bucket_expr(run.num_buckets, run.salt).isin(*crashed)
        ).collect()
    }
    assert crashed_docs
    assert not crashed_docs & set(spans_by_doc(run.read_output(spark)))

    resumed = run.run(spark, docs)
    assert resumed["remaining"] == []
    assert sorted(resumed["processed_now"]) == sorted(
        set(range(run.num_buckets)) - set(first)
    )
    expected, _ = extract_pipeline(docs, num_partitions=4)
    assert spans_by_doc(run.read_output(spark)) == spans_by_doc(expected)
    per_bucket = (
        run.lineage(spark).filter(F.col("run_id") == run.run_id)
        .groupBy("bucket").count().collect()
    )
    assert sorted(r["bucket"] for r in per_bucket) == list(range(run.num_buckets))
    assert all(r["count"] == 1 for r in per_bucket)


def test_tableless_run_reads_back_empty(spark, tmp_path):
    """A committed run whose docs hold no tables has span partitions with
    no data files; reading it back gives zero rows, not a schema error."""
    from table_extractor_spark.plans.extract import INPUT_SCHEMA

    prose = [{"kind": "text", "text": "just prose", "media_ref": None, "offset": 0}]
    docs = spark.createDataFrame(
        [{"doc_id": f"p{i}", "spans": prose} for i in range(2)], INPUT_SCHEMA
    )
    run = CheckpointedRun(
        base_dir=str(tmp_path / "ckpt"), run_id="prose", num_buckets=4, wave_size=2
    )
    assert run.run(spark, docs)["remaining"] == []
    report = run.metrics_report(spark).collect()[0]
    assert (report["docs"], report["spans"]) == (2, 0)
    out = run.read_output(spark)
    assert out.columns == ["doc_id", "kind", "text", "media_ref", "order"]
    assert out.count() == 0


OUT_DTYPES = [
    ("doc_id", "string"), ("kind", "string"), ("text", "string"),
    ("media_ref", "string"), ("order", "int"),
]


def test_run_without_a_committed_wave_reads_back_empty(spark, run, monkeypatch):
    """Before any wave commits, read_output is zero rows with the output
    schema: on a fresh run, and after a first wave whose data was written
    but whose lineage append crashed."""
    from pyspark.sql.readwriter import DataFrameWriter

    fresh = run.read_output(spark)
    assert fresh.dtypes == OUT_DTYPES and fresh.count() == 0

    real_parquet = DataFrameWriter.parquet

    def crash_on_lineage(self, path, *args, **kwargs):
        if path == run.lineage_dir:
            raise RuntimeError("injected crash before the first lineage append")
        return real_parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", crash_on_lineage)
    with pytest.raises(RuntimeError, match="injected crash"):
        run.run(spark, fixture_corpus_df(spark), max_waves=1)
    assert run.completed_buckets(spark) == []
    assert spark.read.parquet(run.out_dir).count() > 0  # the data write happened
    crashed = run.read_output(spark)
    assert crashed.dtypes == OUT_DTYPES and crashed.count() == 0


def test_lost_output_of_a_committed_run_fails_loudly(spark, run):
    """Once a wave has committed, a missing output directory is lost data,
    not an empty run: read_output raises instead of reading zero rows."""
    import shutil

    from pyspark.errors import AnalysisException

    run.run(spark, fixture_corpus_df(spark), max_waves=1)
    assert run.completed_buckets(spark)
    shutil.rmtree(run.out_dir)
    with pytest.raises(AnalysisException):
        run.read_output(spark).count()


def test_reports_reject_a_run_with_no_committed_wave(spark, run):
    """The lineage reports raise a ValueError naming the run (not a bare
    assert, which ``python -O`` strips) when the run has committed nothing:
    no lineage at all, or only another run's lineage in the same base_dir."""
    reports = (run.metrics_report, run.partition_skew_report)
    for report in reports:
        with pytest.raises(ValueError, match="'r1'"):
            report(spark)
    other = CheckpointedRun(
        base_dir=run.base_dir, run_id="other", num_buckets=2, wave_size=2
    )
    assert other.run(spark, fixture_corpus_df(spark))["remaining"] == []
    assert other.metrics_report(spark).collect()[0]["docs"] > 0
    for report in reports:
        with pytest.raises(ValueError, match="'r1'"):
            report(spark)


def test_incremental_manifest_anti_join(spark, tmp_path):
    manifest = str(tmp_path / "manifest")
    docs = fixture_corpus_df(spark, copies=2)

    # nothing processed yet -> everything is new
    assert new_documents(spark, docs, manifest).count() == docs.count()

    # process half, record, re-plan: only the other half is new
    first_half = docs.filter(F.col("doc_id").contains("_c0"))
    record_processed(first_half, manifest, run_id="r1")
    remaining = new_documents(spark, docs, manifest)
    assert remaining.count() == docs.count() - first_half.count()
    assert remaining.filter(F.col("doc_id").contains("_c0")).count() == 0

    # idempotent re-record of the same ids does not resurrect them
    record_processed(first_half, manifest, run_id="r2")
    assert new_documents(spark, docs, manifest).count() == remaining.count()


def test_two_runs_sharing_base_dir_do_not_clobber(spark, tmp_path):
    """ADVICE scenario: an incremental run (new run_id, only new docs) on a
    reused output dir must NOT replace the prior run's bucket partitions —
    outputs are namespaced per run, so read_output(r1) stays complete after
    r2 writes buckets the old docs also hash to."""
    base = str(tmp_path / "shared")
    docs_a = fixture_corpus_df(spark, copies=2)

    run_a = CheckpointedRun(base_dir=base, run_id="rA", num_buckets=4, salt=7)
    run_a.run(spark, docs_a)
    before = spans_by_doc(run_a.read_output(spark))
    assert before  # non-empty baseline

    # "incremental" second run: a disjoint, much smaller doc set that will
    # certainly share buckets with run A (only 4 buckets)
    docs_b = docs_a.limit(3).withColumn(
        "doc_id", F.concat(F.lit("new_"), F.col("doc_id"))
    )
    run_b = CheckpointedRun(base_dir=base, run_id="rB", num_buckets=4, salt=7)
    run_b.run(spark, docs_b)

    after = spans_by_doc(run_a.read_output(spark))
    assert after == before  # r1's committed outputs intact
    b_docs = set(spans_by_doc(run_b.read_output(spark)))
    assert b_docs and all(d.startswith("new_") for d in b_docs)


def test_path_unsafe_run_id_rejected(tmp_path):
    with pytest.raises(ValueError):
        CheckpointedRun(base_dir=str(tmp_path), run_id="a/b")
    with pytest.raises(ValueError):
        CheckpointedRun(base_dir=str(tmp_path), run_id="x=1")


def test_corrupt_lineage_raises_instead_of_reprocessing(spark, run):
    """Only an absent or data-less lineage directory means "nothing done";
    a corrupt lineage file must surface, not read as zero completed buckets
    (which would make the resume quietly redo every bucket)."""
    assert run.completed_buckets(spark) == []  # no lineage dir yet
    os.makedirs(run.lineage_dir)
    assert run.completed_buckets(spark) == []  # empty lineage dir
    with open(os.path.join(run.lineage_dir, "part-0.parquet"), "wb") as f:
        f.write(b"not a parquet file" * 8)
    with pytest.raises(Exception, match="part-0.parquet"):
        run.completed_buckets(spark)
    with pytest.raises(Exception, match="part-0.parquet"):
        run.lineage(spark)


def test_corrupt_manifest_raises_instead_of_reprocessing(spark, tmp_path):
    """Only an absent or data-less manifest directory means "nothing
    processed"; a corrupt manifest file must surface, not read as an empty
    manifest (which would make an incremental run quietly re-extract every
    document)."""
    manifest = str(tmp_path / "manifest")
    docs = fixture_corpus_df(spark, copies=2)
    n_docs = docs.count()
    assert new_documents(spark, docs, manifest).count() == n_docs  # no dir yet
    os.makedirs(manifest)
    assert new_documents(spark, docs, manifest).count() == n_docs  # empty dir
    with open(os.path.join(manifest, "part-0.parquet"), "wb") as f:
        f.write(b"not a parquet file" * 8)
    with pytest.raises(Exception, match="part-0.parquet"):
        new_documents(spark, docs, manifest).count()
