"""The corpus pipeline (plans/corpus.py) and the job that ships it.

The job test runs it the way it deploys: the package zipped and shipped
with ``--py-files``, ``examples/corpus_prep_job.py`` under
``spark-submit``. It pins the per-stage counts in ``stats.json`` and the
packed manifest's values, so any change to the stage composition the job
runs shows up as a diff here. The other tests pin the scan-size rules
the pipeline materializes by."""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys
import zipfile

import pyarrow as pa
import pyarrow.parquet as pq

from schema_drift_detector_spark.plans import corpus

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DOCS = "/root/testdata/sf0.01/documents.parquet"

# the values corpus_pipeline_e2e certifies on the sf tables (its Gopher
# stopword floor, budget, chunking and pack shape); at the job's CLI
# defaults every synthetic doc drops at the quality filter
E2E_FLAGS = [
    "--min-stopword-hits", "1",
    "--budget-tokens", "400",
    "--chunk-tokens", "24",
    "--stride", "12",
    "--pack-cap", "40",
    "--shards", "8",
]

# captured from the job before its stages moved to plans/corpus.py
EXPECTED_STATS = {
    "input": 500,
    "after_null_text_drop": 500,
    "after_quality_filter": 251,
    "after_exact_dedup": 251,
    "after_decontamination": 244,
    "after_neardup_drop": 234,
    "after_lm_tier_drop": 156,
    "after_token_budget": 96,
    "chunks": 542,
    "packed_chunks": 542,
}

EXPECTED_PACKED_SHA256 = "36bd3413958af1b9d2a5f42cd99108fe2ea9152ef14132f1129e44e801a33c96"


def _zip_package(path: str) -> None:
    pkg = os.path.join(REPO, "schema_drift_detector_spark")
    with zipfile.ZipFile(path, "w") as zf:
        for root, dirs, files in os.walk(pkg):
            dirs[:] = [d for d in dirs if d != "__pycache__"]
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    zf.write(full, os.path.relpath(full, REPO))


def _eval_prefixes(path: str) -> None:
    """Every 25th doc's first 200 characters: a benchmark set whose
    8-grams the corpus carries verbatim, so decontamination drops docs."""
    t = pq.read_table(DOCS, columns=["doc_id", "text"]).to_pylist()
    rows = [{"text": r["text"][:200]} for r in t if r["doc_id"] % 25 == 0]
    pq.write_table(pa.Table.from_pylist(rows), path)


def _values_sha256(path: str) -> str:
    """Order-insensitive hash of a parquet directory's values: columns in
    name order, rows sorted."""
    t = pq.read_table(path)
    cols = sorted(t.column_names)
    rows = sorted(zip(*(t.column(c).to_pylist() for c in cols)))
    return hashlib.sha256(repr((cols, rows)).encode()).hexdigest()


def test_corpus_prep_job_spark_submit(tmp_path):
    engine = str(tmp_path / "engine.zip")
    _zip_package(engine)
    eval_docs = str(tmp_path / "eval.parquet")
    _eval_prefixes(eval_docs)
    out = str(tmp_path / "out")
    env = dict(os.environ, PYSPARK_PYTHON=sys.executable, PYSPARK_DRIVER_PYTHON=sys.executable)
    # the zip, not the checkout, must supply the package
    env.pop("PYTHONPATH", None)
    proc = subprocess.run(
        [
            "spark-submit", "--master", "local[2]", "--py-files", engine,
            os.path.join(REPO, "examples", "corpus_prep_job.py"),
            "--docs", DOCS, "--out", out, "--eval-docs", eval_docs, *E2E_FLAGS,
        ],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    with open(os.path.join(out, "stats.json")) as fh:
        stats = json.load(fh)
    packed = _values_sha256(os.path.join(out, "packed"))
    print(json.dumps(stats), packed)
    assert stats == EXPECTED_STATS
    assert packed == EXPECTED_PACKED_SHA256
    # the prefix sample makes decontamination bind
    assert stats["after_decontamination"] < stats["after_exact_dedup"]


def _fan_flags(df) -> set[bool]:
    steps = corpus.stages(
        small=corpus.small_input(df), min_stopword_hits=1, mix=400,
        chunk_tokens=24, stride=12, pack_cap=40, shards=8,
    )
    return {s.fan for s in steps if s.checkpoint}


def test_materialization_keeps_large_input_partitioning(spark):
    par = spark.sparkContext.defaultParallelism
    big = spark.range(0, 1000, 1, numPartitions=par + 3)
    assert _fan_flags(big) == {False}
    assert corpus.materialize(big, fan=False).rdd.getNumPartitions() == par + 3


def test_materialization_fans_small_input(spark):
    par = spark.sparkContext.defaultParallelism
    small = spark.range(0, 1000, 1, numPartitions=1)
    assert _fan_flags(small) == {False, True}
    assert corpus.materialize(small, fan=True).rdd.getNumPartitions() == par


def test_t_fan_big_fails_closed_on_unknown_size(spark, monkeypatch):
    import __spark_entry__ as E

    sf = os.path.dirname(DOCS)
    plain = E._t(spark, sf, "documents").rdd.getNumPartitions()
    monkeypatch.setattr(E, "_FAN_MIN_BYTES", 0)  # any known size fans out
    assert E._t_fan_big(spark, sf, "documents").rdd.getNumPartitions() > plain

    def unreadable(path):
        raise OSError(f"no size for {path}")

    monkeypatch.setattr(os.path, "getsize", unreadable)
    assert E._t_fan_big(spark, sf, "documents").rdd.getNumPartitions() == plain
