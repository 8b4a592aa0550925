"""The benchmark's workloads. Each one builds its inputs from the seed
(``setup``), runs one timed operation through the package's public entry
points (``run``), and checks that operation's output against ground truth
(``check``). Traced runs add ``targets`` (layer calls to wrap during the
operation) and ``probes`` (one layer's output forced on its own).
"""

from __future__ import annotations

import dataclasses
import os
import shutil
import statistics
import time

import pyarrow.parquet as pq

import truth
from corpus import corpus_documents
from ledger import MB

N_PARTITIONS = 8
ASSETS_PER_DOC = 0.4  # 200k catalog rows per 500k docs, as bench.py sizes it


def force(df) -> None:
    """Materialize a DataFrame fully without moving rows to the driver."""
    df.write.format("noop").mode("overwrite").save()


def _dir_mb(path: str) -> float:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    ) / MB


class Workload:
    name = ""
    targets: dict[str, str] = {}  # "module:attr" → span name, wrapped in traced runs

    def __init__(self, spark, seed: int, n_docs: int):
        self.spark, self.seed, self.docs = spark, seed, n_docs

    def setup(self, d: str) -> None:
        """Build the inputs under ``d``, any state the operation needs,
        and the ground truth the checks compare against."""
        raise NotImplementedError

    def before(self, rep: int) -> None:
        pass

    def run(self, rep: int):
        raise NotImplementedError

    def check(self, rep: int, state) -> list[str]:
        raise NotImplementedError

    def after(self, rep: int) -> None:
        pass

    def output_mb(self, rep: int) -> float:
        return 0.0

    def probes(self) -> dict:
        return {}

    def span_metrics(self, tracer, state, op_s: float) -> dict[str, float]:
        return {}


def _write_docs(cfg, epoch: int, path: str):
    tbl = truth.documents_table(cfg, epoch)
    pq.write_to_dataset(tbl, path, partition_cols=["partition_id"])
    return tbl


def _catalog(spark, cfg, path: str) -> set[str]:
    from schema_drift_detector_spark.sources.synth import synth_asset_catalog

    synth_asset_catalog(spark, cfg).write.parquet(path)
    return set(pq.read_table(path, columns=["media_ref"]).column(0).to_pylist())


def _synth_cfg(n_docs: int, seed: int):
    from schema_drift_detector_spark.sources.synth import SynthConfig

    return SynthConfig(
        n_docs=n_docs,
        n_partitions=N_PARTITIONS,
        n_assets=int(n_docs * ASSETS_PER_DOC),
        seed=seed,
    )


def _validation_probes(spark, docs_path: str, cat_path: str) -> dict:
    """Each layer of bench.py's validate pass forced on its own over one
    epoch."""
    from schema_drift_detector_spark.operators import constraints as C
    from schema_drift_detector_spark.operators.profile import profile_columns, profile_spans

    def docs():
        return spark.read.parquet(docs_path)

    return {
        "sources.scan": lambda: [docs()],
        "sources.scan_doc_id": lambda: [docs().select("doc_id")],
        "profile.profile_columns": lambda: [
            profile_columns(docs(), snapshot_id="bench", entity="documents")
        ],
        "profile.profile_spans": lambda: [profile_spans(docs())],
        "constraints.duplicate_keys": lambda: [C.duplicate_keys(docs())],
        "constraints.check_uniqueness": lambda: list(C.check_uniqueness(docs(), "bench")),
        "constraints.check_referential_integrity": lambda: list(
            C.check_referential_integrity(docs(), spark.read.parquet(cat_path), "bench")
        ),
    }


_RUN = "schema_drift_detector_spark.plans.run"
_CON = "schema_drift_detector_spark.operators.constraints"
_STORE = "schema_drift_detector_spark.plans.store"
_MANIFEST = "schema_drift_detector_spark.plans.manifest"

# driver-side calls that run Spark jobs before returning
RUN_EAGER = {
    f"{_STORE}:resolve_snapshot_chain": "store.resolve_snapshot_chain",
    f"{_STORE}:persist_snapshot": "store.persist_snapshot",
    f"{_MANIFEST}:pending_partitions": "manifest.pending_partitions",
    f"{_MANIFEST}:commit_partitions": "manifest.commit_partitions",
}
# calls that only build a plan; their summed time is run.driver_plan.s
RUN_LAZY = {
    **{
        f"{_RUN}:{f}": f"run.{f}"
        for f in (
            "profile_columns",
            "profile_spans",
            "tdigest_profiles",
            "numeric_histogram",
            "diff_fields",
            "drift_report",
            "fields_from_schema",
            "baseline_histogram",
            "baseline_tdigest",
            "baseline_kind_counts",
        )
    },
    **{
        f"{_CON}:{f}": f"constraints.{f}"
        for f in (
            "duplicate_keys",
            "check_uniqueness",
            "check_referential_integrity",
            "check_distribution_drift",
            "check_quantile_drift",
            "check_categorical_drift",
        )
    },
    f"{_STORE}:fields_of": "store.fields_of",
}


class RunDrift(Workload):
    """``run_validation`` as it ships, on the drifted epoch 2 against
    epoch-0 drift baselines, as ``examples/validate_job.py
    --baseline-docs`` runs it. The snapshot store is seeded with the
    epoch-0 schema, so the run diffs a real schema change."""

    name = "run_drift"
    targets = {**RUN_EAGER, **RUN_LAZY}
    RUN_ID = "bench-e2"

    def setup(self, d: str) -> None:
        from schema_drift_detector_spark.operators.snapshot import fields_from_schema
        from schema_drift_detector_spark.plans import store
        from schema_drift_detector_spark.sources.synth import documents_schema

        cfg = _synth_cfg(self.docs, self.seed)
        self.d = d
        self.e0_path, self.e2_path, self.cat_path = f"{d}/e0", f"{d}/e2", f"{d}/catalog"
        _write_docs(cfg, 0, self.e0_path)
        e2 = _write_docs(cfg, 2, self.e2_path)
        refs = _catalog(self.spark, cfg, self.cat_path)
        self.template = f"{d}/template"
        self.seed_snapshot = store.persist_snapshot(
            self.spark,
            f"{self.template}/store",
            "documents",
            0,
            fields_from_schema(self.spark, self.spark.read.parquet(self.e0_path).schema),
            source_path="seed-e0",
        )
        self.expected = dataclasses.replace(
            truth.expected_validation(e2, refs),
            drift_partitions=frozenset(cfg.drift_partitions),
            schema_changes=truth.schema_change_tokens(documents_schema(0), documents_schema(2)),
        )

    def _out(self, rep: int) -> str:
        return f"{self.d}/out{rep}"

    def before(self, rep: int) -> None:
        shutil.copytree(self.template, self._out(rep))

    def run(self, rep: int):
        from schema_drift_detector_spark.plans import run as R

        spark = self.spark
        docs = spark.read.parquet(self.e2_path)
        base = spark.read.parquet(self.e0_path)
        kw = dict(
            run_id=self.RUN_ID,
            epoch=2,
            baseline_hist=R.baseline_histogram(base, R.DEFAULT_SPEC),
            baseline_td=R.baseline_tdigest(base),
            baseline_kinds=R.baseline_kind_counts(base),
        )
        start = time.perf_counter()
        envelope = R.run_validation(
            spark, docs, spark.read.parquet(self.cat_path), self._out(rep), **kw
        )
        return {"envelope": envelope, "start": start, "end": time.perf_counter()}

    def check(self, rep: int, state) -> list[str]:
        import duckdb

        out, rid = self._out(rep), self.RUN_ID
        envelope = state["envelope"]

        def rows(sql: str) -> list[dict]:
            try:
                res = con.sql(sql)
            except duckdb.IOException:
                return []  # no files: the engine wrote no rows
            cols = [c[0] for c in res.description]
            return [dict(zip(cols, r)) for r in res.fetchall()]

        def hive(table: str) -> str:
            return f"read_parquet('{out}/{table}/**/*.parquet', hive_partitioning = true)"

        con = duckdb.connect()
        try:
            where = f"WHERE run_id = '{rid}'"
            verdicts = rows(f'SELECT partition_id, "constraint", passed FROM {hive("verdicts")} {where}')
            violations = rows(
                f'SELECT partition_id, "constraint", doc_id, span_order, media_ref '
                f"FROM {hive('violations')} {where}"
            )
            manifest = rows(
                f"SELECT partition_id, status, docs_validated "
                f"FROM read_parquet('{out}/manifest/*.parquet') {where}"
            )
            prof = rows(
                f"SELECT partition_id, sum(n_rows) AS n FROM {hive('profiles')} "
                f"{where} AND \"column\" = 'doc_id' GROUP BY 1"
            )
            spans = rows(f"SELECT partition_id, n_spans FROM {hive('span_profiles')} {where}")
        finally:
            con.close()
        from collections import Counter

        problems = truth.check_validation(
            self.expected,
            verdicts,
            violations,
            Counter({int(r["partition_id"]): int(r["n"]) for r in prof}),
            Counter({int(r["partition_id"]): int(r["n_spans"]) for r in spans}),
        )
        problems += truth.check_manifest(
            self.expected, manifest, envelope["run"]["partitions_pending_before"]
        )
        problems += truth.check_schema_report(
            self.expected, envelope["details"]["drift"]["drift_report"]["summary"]
        )
        return problems

    def output_mb(self, rep: int) -> float:
        return _dir_mb(self._out(rep)) - _dir_mb(self.template)

    def after(self, rep: int) -> None:
        shutil.rmtree(self._out(rep))

    def probes(self) -> dict:
        from schema_drift_detector_spark.operators import constraints as C
        from schema_drift_detector_spark.operators.diff import diff_fields
        from schema_drift_detector_spark.operators.snapshot import fields_from_schema
        from schema_drift_detector_spark.plans import run as R
        from schema_drift_detector_spark.plans import store

        spark, spec = self.spark, R.DEFAULT_SPEC
        base = spark.read.parquet(self.e0_path)
        cur = spark.read.parquet(self.e2_path)
        store_dir = f"{self.template}/store"

        def localized(df):
            # computed now, untimed, and held as a small driver-side frame,
            # so a drift or diff probe times the check alone
            return spark.createDataFrame(df.collect(), df.schema)

        hist = [localized(R.baseline_histogram(t, spec)) for t in (base, cur)]
        tds = [localized(R.baseline_tdigest(t)) for t in (base, cur)]
        kinds = [localized(R.baseline_kind_counts(t)) for t in (base, cur)]
        before = localized(store.fields_of(spark, store_dir, self.seed_snapshot))

        d = spec["distribution_drift"]
        return {
            **_validation_probes(spark, self.e2_path, self.cat_path),
            "run.baseline_histogram": lambda: [R.baseline_histogram(base, spec)],
            "run.baseline_tdigest": lambda: [R.baseline_tdigest(base)],
            "run.baseline_kind_counts": lambda: [R.baseline_kind_counts(base)],
            # the current epoch's sketches, as run_validation builds them per batch
            "profile.tdigest_profiles": lambda: [R.baseline_tdigest(cur)],
            "constraints.check_distribution_drift": lambda: [
                C.check_distribution_drift(
                    *hist,
                    "bench",
                    2,
                    ks_threshold=d["ks_threshold"],
                    chi2_per_bin_threshold=d["chi2_per_bin_threshold"],
                )
            ],
            "constraints.check_quantile_drift": lambda: [
                C.check_quantile_drift(
                    *tds,
                    "bench",
                    2,
                    ks_threshold=spec["quantile_drift"]["ks_threshold"],
                )
            ],
            "constraints.check_categorical_drift": lambda: [
                C.check_categorical_drift(
                    *kinds,
                    "bench",
                    2,
                    chi2_per_category_threshold=spec["categorical_drift"][
                        "chi2_per_category_threshold"
                    ],
                )
            ],
            "store.fields_of": lambda: [store.fields_of(spark, store_dir, self.seed_snapshot)],
            "diff.diff_fields": lambda: [
                diff_fields(before, fields_from_schema(spark, cur.schema))
            ],
        }

    def span_metrics(self, tracer, state, op_s: float) -> dict[str, float]:
        out = {f"{name}.s": tracer.total(name) for name in RUN_EAGER.values()}
        out["manifest.commits"] = tracer.count("manifest.commit_partitions")
        out["run.driver_plan.s"] = sum(tracer.total(n) for n in set(RUN_LAZY.values()))
        out["run.run_validation.s"] = state["end"] - state["start"]
        out["run.batches"] = state["envelope"]["run"]["batches_executed"]
        # a batch ends when its manifest commit returns; the first batch
        # starts with the invocation
        ends = [state["start"], *tracer.ends("manifest.commit_partitions")]
        batch_s = [b - a for a, b in zip(ends, ends[1:])]
        out["run.batch.s"] = statistics.median(batch_s) if batch_s else 0.0
        return out


CORPUS_OPERATORS = {
    "cleaning": ("gopher_quality_filter",),
    "decontam": ("contamination_hits", "eval_gram_hashes"),
    "dedup": ("connected_components", "drop_exact_duplicates", "minhash_near_duplicates"),
    "packing": ("chunk_documents", "pack_next_fit"),
    "quality_lm": ("lm_perplexity", "ppl_tiers"),
    "sampling": ("hash_bucket", "take_token_budget"),
    "substring": ("strip_repeated_runs", "substring_dedup"),
}


class CorpusPipeline(Workload):
    """``__spark_entry__.q_corpus_pipeline_e2e`` on a generated corpus,
    its output forced to a noop sink and checked against the DuckDB
    replay of its ``oracle_sql()`` text."""

    name = "corpus_pipeline"
    QUERY = "corpus_pipeline_e2e"
    targets = {
        f"schema_drift_detector_spark.operators.{mod}:{fn}": f"{mod}.{fn}"
        for mod, fns in CORPUS_OPERATORS.items()
        for fn in fns
    }

    def setup(self, d: str) -> None:
        self.sf_dir = f"{d}/sf"
        os.makedirs(self.sf_dir)
        pq.write_table(corpus_documents(self.docs, self.seed), f"{self.sf_dir}/documents.parquet")
        self.expected = truth.oracle_answer(self.sf_dir, self.QUERY)

    def run(self, rep: int):
        import __spark_entry__ as E

        df = getattr(E, f"q_{self.QUERY}")(self.spark, self.sf_dir)
        force(df)
        return df

    def check(self, rep: int, state) -> list[str]:
        return truth.check_answer(self.expected, state.columns, [tuple(r) for r in state.collect()])

    def span_metrics(self, tracer, state, op_s: float) -> dict[str, float]:
        out = {f"{name}.s": tracer.total(name) for name in self.targets.values()}
        out[f"entry.q_{self.QUERY}.self_s"] = op_s - sum(
            sp.s for sp in tracer.spans if sp.depth == 0
        )
        return out


WORKLOADS = {w.name: w for w in (RunDrift, CorpusPipeline)}
