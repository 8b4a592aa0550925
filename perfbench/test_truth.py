"""The benchmark's own test: its checks pass a correct output and catch
wrong ones, and its spans restore what they wrap. Needs no Spark session.

    python3 -m pytest perfbench/test_truth.py -q
"""

from __future__ import annotations

import dataclasses
import os
import sys
from collections import Counter

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import truth  # noqa: E402
from corpus import corpus_documents  # noqa: E402
from spans import Tracer  # noqa: E402


@pytest.fixture(scope="module")
def generated():
    """A small epoch-2 table from the engine's generator, its catalog
    refs, and the expectation derived from them."""
    from schema_drift_detector_spark.sources.synth import SynthConfig, documents_schema

    cfg = SynthConfig(n_docs=4_000, n_partitions=8, n_assets=1_600, seed=5)
    docs = truth.documents_table(cfg, 2)
    refs = {f"asset-{i:08d}" for i in range(cfg.n_assets)}
    exp = dataclasses.replace(
        truth.expected_validation(docs, refs),
        drift_partitions=frozenset(cfg.drift_partitions),
        schema_changes=truth.schema_change_tokens(documents_schema(0), documents_schema(2)),
    )
    return cfg, exp


def _engine_like_output(exp):
    """Verdict and violation rows as a correct engine run reports them."""
    verdicts = []
    for c, failing, parts in (
        ("uniqueness", exp.uniqueness_fail, exp.partitions),
        ("referential_integrity", exp.ri_fail, exp.ri_partitions),
        ("distribution_drift", exp.drift_partitions, exp.partitions),
        ("quantile_drift", exp.drift_partitions, exp.partitions),
        ("categorical_drift", frozenset(), exp.partitions),
    ):
        verdicts += [{"constraint": c, "partition_id": p, "passed": p not in failing} for p in parts]
    violations = [
        {"constraint": "uniqueness", "partition_id": p, "doc_id": d}
        for (p, d), n in exp.uniqueness_rows.items()
        for _ in range(n)
    ] + [
        {"constraint": "referential_integrity", "partition_id": p, "doc_id": d, "span_order": o, "media_ref": m}
        for (p, d, o, m), n in exp.ri_rows.items()
        for _ in range(n)
    ]
    return verdicts, violations


def test_generator_expectation_matches_its_injected_faults(generated):
    cfg, exp = generated
    assert exp.uniqueness_fail == frozenset(cfg.dup_partitions)
    assert exp.ri_fail == frozenset({cfg.dangling_partition})
    assert exp.schema_changes == ("change quality (high)",)
    assert sum(exp.rows_per_partition.values()) == cfg.n_docs


def test_correct_output_passes(generated):
    _, exp = generated
    verdicts, violations = _engine_like_output(exp)
    assert truth.check_validation(exp, verdicts, violations) == []


def test_changed_expected_partition_set_is_caught(generated):
    _, exp = generated
    verdicts, violations = _engine_like_output(exp)
    wrong = dataclasses.replace(exp, drift_partitions=frozenset({1}))
    problems = truth.check_validation(wrong, verdicts, violations)
    assert any("distribution_drift: failing" in p for p in problems)
    assert any("quantile_drift: failing" in p for p in problems)


@pytest.mark.parametrize("mutation", ["drop_violation", "extra_verdict", "flip_verdict"])
def test_wrong_engine_output_is_caught(generated, mutation):
    _, exp = generated
    verdicts, violations = _engine_like_output(exp)
    if mutation == "drop_violation":
        violations = violations[:-1]
    elif mutation == "extra_verdict":
        verdicts.append(dict(verdicts[0]))
    else:
        verdicts[0] = {**verdicts[0], "passed": not verdicts[0]["passed"]}
    assert truth.check_validation(exp, verdicts, violations)


def test_manifest_and_schema_report_checks(generated):
    _, exp = generated
    manifest = [
        {"partition_id": p, "status": "done", "docs_validated": n}
        for p, n in exp.rows_per_partition.items()
    ]
    pending = sorted(exp.partitions)
    assert truth.check_manifest(exp, manifest, pending) == []
    assert truth.check_manifest(exp, manifest[1:], pending)
    assert truth.check_manifest(exp, manifest, pending[1:])
    assert truth.check_schema_report(exp, "change quality (high) ; add x (low)") == []
    assert truth.check_schema_report(exp, "remove country (high)")


def test_answer_check_uses_the_oracle_hash():
    cols, rows = ["a", "b"], [(1, "x"), (2, "y")]
    expected = (2, truth.value_hash(cols, rows))
    assert truth.check_answer(expected, ["b", "a"], [("y", 2), ("x", 1)]) == []
    assert truth.check_answer(expected, cols, [(1, "x"), (2, "z")])
    assert truth.check_answer(expected, cols, rows[:1])


def test_corpus_is_seeded():
    a, b, c = corpus_documents(300, 1), corpus_documents(300, 1), corpus_documents(300, 2)
    assert a.equals(b) and not a.equals(c)
    texts = a.column("text").to_pylist()
    assert sum(t.endswith(" dup") for t in texts) > 0
    assert Counter(a.column("source").to_pylist())["src0"] == 15


def test_tracer_counts_outermost_calls_and_restores_attributes():
    import corpus

    originals = corpus.corpus_documents, truth.value_hash
    tracer = Tracer()
    targets = {"corpus:corpus_documents": "corpus.docs", "truth:value_hash": "truth.hash"}
    with tracer.patched(targets):
        corpus.corpus_documents(10, 1)
        outer = tracer.wrap(lambda: truth.value_hash(["a"], [(1,)]), "outer")
        outer()
    assert (corpus.corpus_documents, truth.value_hash) == originals
    assert tracer.count("corpus.docs") == 1 and tracer.count("truth.hash") == 1
    assert tracer.total("truth.hash") == 0.0  # nested in "outer"
    assert [sp.depth for sp in tracer.spans if sp.name == "truth.hash"] == [1]
    assert tracer.ends("outer") and tracer.total("outer") > 0.0
