"""Ground truth for the workloads and the checks against it.

Expectations come from the generator (``sources.synth``) and from the
DuckDB replay of ``oracle_sql()``, never from engine output. Each check
returns a list of problems; an empty list means the output is correct.
The checks take plain Python rows, so they run without Spark.
"""

from __future__ import annotations

import functools
import importlib.util
import os
import sys
from collections import Counter
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def documents_table(cfg, epoch: int) -> pa.Table:
    """The documents table the Spark generator would produce for
    ``cfg``/``epoch``, built in this process from the same pure function
    (``synth._gen_docs``) and typed by ``synth.documents_schema``."""
    from pyspark.sql.pandas.types import to_arrow_schema

    from schema_drift_detector_spark.sources import synth

    pdf = synth._gen_docs(np.arange(cfg.n_docs, dtype=np.int64), epoch, cfg)
    return pa.Table.from_pandas(
        pdf, schema=to_arrow_schema(synth.documents_schema(epoch)), preserve_index=False
    )


@dataclass(frozen=True)
class Expected:
    """What a correct validation of one documents table must report."""

    partitions: frozenset[int]
    rows_per_partition: Counter  # partition_id → docs
    spans_per_partition: Counter  # partition_id → spans
    uniqueness_rows: Counter  # (partition_id, doc_id) → rows with a duplicated key
    ri_rows: Counter  # (partition_id, doc_id, span_order, media_ref) → dangling refs
    ri_partitions: frozenset[int]  # partitions holding at least one media_ref
    drift_partitions: frozenset[int] = frozenset()
    schema_changes: tuple[str, ...] = ()  # drift-report tokens, e.g. "change quality (high)"

    @property
    def uniqueness_fail(self) -> frozenset[int]:
        return frozenset(p for p, _ in self.uniqueness_rows)

    @property
    def ri_fail(self) -> frozenset[int]:
        return frozenset(p for p, *_ in self.ri_rows)


def expected_validation(docs: pa.Table, catalog_refs: set[str]) -> Expected:
    doc_id = np.asarray(docs.column("doc_id").to_pylist(), dtype=object)
    part = docs.column("partition_id").to_numpy()
    spans = docs.column("spans").combine_chunks()
    parent = pc.list_parent_indices(spans).to_numpy()
    starts = spans.offsets.to_numpy()[:-1]
    flat = spans.flatten()
    refs = flat.field("media_ref").to_pylist()

    key_counts = Counter(doc_id.tolist())
    uniq = Counter(
        (int(p), d) for d, p in zip(doc_id.tolist(), part.tolist()) if key_counts[d] > 1
    )
    ri, ri_parts = Counter(), set()
    for i, ref in enumerate(refs):
        if ref is None:
            continue
        row = int(parent[i])
        ri_parts.add(int(part[row]))
        if ref not in catalog_refs:
            ri[(int(part[row]), doc_id[row], int(i - starts[row]), ref)] += 1
    return Expected(
        partitions=frozenset(int(p) for p in np.unique(part)),
        rows_per_partition=Counter(int(p) for p in part.tolist()),
        spans_per_partition=Counter(int(part[r]) for r in parent.tolist()),
        uniqueness_rows=uniq,
        ri_rows=ri,
        ri_partitions=frozenset(ri_parts),
    )


def schema_change_tokens(before, after) -> tuple[str, ...]:
    """Drift-report tokens for fields whose type differs between two
    generator schemas (a type change is a high-severity change)."""
    old = {f.name: f.dataType for f in before.fields}
    return tuple(
        f"change {f.name} (high)"
        for f in after.fields
        if f.name in old and old[f.name] != f.dataType
    )


# ---------------------------------------------------------------- checks


def _check_verdicts(
    verdicts: list[dict], constraint: str, partitions: frozenset[int], failing: frozenset[int]
) -> list[str]:
    rows = [v for v in verdicts if v["constraint"] == constraint]
    problems = []
    per_part = Counter(int(v["partition_id"]) for v in rows)
    if set(per_part) != partitions or any(n != 1 for n in per_part.values()):
        problems.append(
            f"{constraint}: verdicts for {len(per_part)} partitions "
            f"({len(rows)} rows), want one for each of {len(partitions)}"
        )
    got_fail = frozenset(int(v["partition_id"]) for v in rows if not v["passed"])
    if got_fail != failing:
        problems.append(f"{constraint}: failing {sorted(got_fail)}, want {sorted(failing)}")
    return problems


def check_validation(
    exp: Expected,
    verdicts: list[dict],
    violations: list[dict],
    rows_per_partition: Counter | None = None,
    spans_per_partition: Counter | None = None,
) -> list[str]:
    """Uniqueness and referential-integrity verdicts and violation rows;
    drift verdicts when the expectation names drift partitions or the
    output holds drift verdicts; profile row and span counts when given."""
    problems = _check_verdicts(verdicts, "uniqueness", exp.partitions, exp.uniqueness_fail)
    problems += _check_verdicts(
        verdicts, "referential_integrity", exp.ri_partitions, exp.ri_fail
    )
    if exp.drift_partitions or any("drift" in v["constraint"] for v in verdicts):
        for c in ("distribution_drift", "quantile_drift"):
            problems += _check_verdicts(verdicts, c, exp.partitions, exp.drift_partitions)
        problems += _check_verdicts(verdicts, "categorical_drift", exp.partitions, frozenset())
    got_uq = Counter(
        (int(v["partition_id"]), v["doc_id"]) for v in violations if v["constraint"] == "uniqueness"
    )
    if got_uq != exp.uniqueness_rows:
        problems.append(
            f"uniqueness: {sum(got_uq.values())} violation rows, "
            f"want {sum(exp.uniqueness_rows.values())} (or the rows differ)"
        )
    got_ri = Counter(
        (int(v["partition_id"]), v["doc_id"], int(v["span_order"]), v["media_ref"])
        for v in violations
        if v["constraint"] == "referential_integrity"
    )
    if got_ri != exp.ri_rows:
        problems.append(
            f"referential_integrity: {sum(got_ri.values())} violation rows, "
            f"want {sum(exp.ri_rows.values())} (or the rows differ)"
        )
    if rows_per_partition is not None and rows_per_partition != exp.rows_per_partition:
        problems.append("profile row counts per partition differ from the generator")
    if spans_per_partition is not None and spans_per_partition != exp.spans_per_partition:
        problems.append("span counts per partition differ from the generator")
    return problems


def check_manifest(exp: Expected, manifest: list[dict], pending: list[int]) -> list[str]:
    """One 'done' row per partition with the generator's doc count, and
    the run planned every partition (nothing was committed before it)."""
    problems = []
    done = Counter(int(m["partition_id"]) for m in manifest if m["status"] == "done")
    if set(done) != exp.partitions or any(n != 1 for n in done.values()):
        problems.append(
            f"manifest: {sum(done.values())} done rows over {len(done)} partitions, "
            f"want exactly one for each of {len(exp.partitions)}"
        )
    docs = Counter()
    for m in manifest:
        docs[int(m["partition_id"])] += int(m["docs_validated"])
    if docs != exp.rows_per_partition:
        problems.append("manifest: docs_validated differs from the generator's counts")
    if sorted(pending) != sorted(exp.partitions):
        problems.append(f"run planned {len(pending)} pending partitions, want all {len(exp.partitions)}")
    return problems


def check_schema_report(exp: Expected, summary: str) -> list[str]:
    return [f"drift report lacks '{t}': {summary!r}" for t in exp.schema_changes if t not in summary]


@functools.cache
def _check_oracle():
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(ROOT, "tools", "check_oracle.py")
    )
    mod = importlib.util.module_from_spec(spec)
    path = list(sys.path)
    try:
        spec.loader.exec_module(mod)
    finally:
        sys.path[:] = path  # the tool prepends its own checkout path
    return mod


def preload() -> None:
    """Import what the set-ups and checks use, so the first set-up of a
    run is not the only one that pays for it."""
    import duckdb  # noqa: F401
    from pyspark.sql.pandas.types import to_arrow_schema  # noqa: F401

    import __spark_entry__  # noqa: F401

    _check_oracle()


def value_hash(cols, rows) -> str:
    """tools/check_oracle.py's order-insensitive value hash."""
    return _check_oracle().value_hash(cols, rows)


def oracle_answer(sf_dir: str, query: str) -> tuple[int, str]:
    """(row count, value hash) of ``oracle_sql()[query]`` replayed by
    DuckDB over the parquet files in ``sf_dir``."""
    import duckdb

    import __spark_entry__ as E

    # one thread: slower, but its time, part of setup_s, varies far less
    # from run to run than with one thread per core
    con = duckdb.connect(config={"threads": 1})
    try:
        con.sql(f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'")
        res = con.sql(E.oracle_sql()[query])
        cols = [d[0] for d in res.description]
        rows = res.fetchall()
    finally:
        con.close()
    return len(rows), value_hash(cols, rows)


def check_answer(expected: tuple[int, str], cols, rows) -> list[str]:
    n, h = expected
    if len(rows) != n:
        return [f"{len(rows)} rows, want {n}"]
    if value_hash(cols, rows) != h:
        return ["value hash differs from the DuckDB oracle"]
    return []
