"""End-to-end packaged-job test: the REAL `spark-submit --py-files` path the
north rule names — zip the package, submit `scripts/submit_job.py` from a
cwd where the repo is NOT importable, and verify the checkpointed run's
committed output matches the in-process pipeline, including a resume leg
and the ``--incremental-manifest`` record written once the run completes.

Slow (two JVM launches); marked so `-m "not slow"` can skip it.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"

pytestmark = [
    pytest.mark.slow,
    pytest.mark.skipif(
        not os.path.exists(SPARK_SUBMIT), reason="spark-submit not on PATH"
    ),
]


def _submit(pyzip, tmp, inp, out, run_id, extra=()):
    cmd = [
        SPARK_SUBMIT,
        "--master", "local[4]",
        "--py-files", pyzip,
        "--conf", "spark.ui.enabled=false",
        os.path.join(REPO, "scripts", "submit_job.py"),
        "--input", inp,
        "--output", out,
        "--run-id", run_id,
        "--num-buckets", "8",
        "--wave-size", "4",
        "--shuffle-partitions", "8",
        *extra,
    ]
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)  # only the --py-files zip provides the pkg
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    proc = subprocess.run(
        cmd, cwd=str(tmp), env=env, capture_output=True, text=True, timeout=420
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return proc


def test_spark_submit_pyfiles_end_to_end(spark, tmp_path):
    from table_extractor_spark.plans.extract import extract_pipeline
    from table_extractor_spark.sources.tables import fixture_corpus_df
    from table_extractor_spark.streaming.checkpoint import CheckpointedRun

    # package the zip fresh
    pyzip = subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "make_pyfiles_zip.py")],
        capture_output=True, text=True, check=True,
    ).stdout.strip()
    assert os.path.exists(pyzip)

    inp = str(tmp_path / "docs")
    out = str(tmp_path / "run")
    manifest = str(tmp_path / "manifest")
    incremental = ("--incremental-manifest", manifest)
    docs = fixture_corpus_df(spark, copies=2)
    docs.write.parquet(inp)

    # leg 1: partial run (2 of 8 buckets per wave, stop after 1 wave)
    _submit(pyzip, tmp_path, inp, out, "rsub",
            extra=("--max-waves", "1", *incremental))
    run = CheckpointedRun(base_dir=out, run_id="rsub", num_buckets=8, salt=0,
                          wave_size=4)
    done_after_1 = run.completed_buckets(spark)
    assert len(done_after_1) == 4
    # an unfinished run records nothing as processed
    assert not os.path.exists(manifest)

    # leg 2: re-submit same output/run-id -> resumes, completes the rest
    _submit(pyzip, tmp_path, inp, out, "rsub", extra=incremental)
    assert run.completed_buckets(spark) == list(range(8))
    # the finished run recorded every input document exactly once
    recorded = [r.doc_id for r in spark.read.parquet(manifest).collect()]
    assert sorted(recorded) == sorted(r.doc_id for r in docs.collect())

    # committed output == in-process pipeline output, span for span
    def spans_by_doc(df):
        by = {}
        for r in df.collect():
            by.setdefault(r.doc_id, []).append(
                (r.kind, r.text, r.media_ref, r.order)
            )
        for v in by.values():
            v.sort(key=lambda s: s[3])
        return by

    expected, _ = extract_pipeline(docs, num_partitions=4)
    assert spans_by_doc(run.read_output(spark)) == spans_by_doc(expected)


def test_p8_input_validation_rejects_bad_args(monkeypatch):
    """P8: the job entry rejects malformed invocations before any Spark
    work — missing required args exit via argparse; a path-unsafe run id
    or a zero bucket count raises before a session is built."""
    import scripts.submit_job as sj
    from pyspark.sql import SparkSession

    with pytest.raises(SystemExit):
        sj.main([])  # --input/--output/--run-id all required
    with pytest.raises(SystemExit):
        sj.main(["--input", "/x"])  # still missing output/run-id

    def no_session(self):
        raise AssertionError("a session was built before validation")

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", no_session)
    base = ["--input", "/x", "--output", "/y"]
    with pytest.raises(ValueError, match="run_id"):
        sj.main(base + ["--run-id", "a/b"])
    with pytest.raises(ValueError, match="num_buckets"):
        sj.main(base + ["--run-id", "r", "--num-buckets", "0"])
