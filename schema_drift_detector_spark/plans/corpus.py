"""The LLM-corpus preparation pipeline, defined once.

    URL governance → Unicode normalization → Gopher quality filter →
    exact dedup → cross-doc boilerplate strip → intra-doc repetition
    strip → PII redaction → benchmark decontamination → MinHash
    near-dup drop → CCNet LM-perplexity tier drop → mixing (per-source
    token budget, or mT5-style temperature quotas) → context chunking →
    next-fit packing

``stages()`` returns that order as a list of named ``Stage``s, each
holding its certified operator call with the fixed parameters and its
place in ONE materialization rule, decided once from the source scan
(``small_input``); ``run()`` applies a list or any slice of one. Both
the certified board entry (``q_corpus_pipeline_e2e``) and the shipping
job (``examples/corpus_prep_job.py``) run this list; a caller leaves a
stage out by dropping it from the list and observes stage outputs
through ``run``'s ``tap``.

Operators are imported inside each stage, never at module top, so a
caller that swaps a module attribute (profilers, tests) sees every
call.

Input: (doc_id, source, text) plus pass-through columns. The strip
stages' ``n_tokens``/``n_removed`` counters live until the PII stage
drops them; the LM stage's scoring columns never leave it.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass
from typing import NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# parameters both callers always set to the certified value
MIN_WORDS = 50
GRAM_N = 8
BOILERPLATE_MIN_DF = 4
LSH_THRESHOLD = 0.6
LM_BUCKETS = 4096
LM_TRAIN_BUCKETS = 100_000  # 10% of hash_bucket's 1e6 buckets

STRIP_COUNTERS = ("n_tokens", "n_removed")
LM_COLUMNS = ("avg_nll", "n_scored", "n_backoff", "ppl_tier")


@dataclass(frozen=True, eq=False)
class UrlRules:
    """RefinedWeb §3.1 crawl-record rules over a URL column or
    expression. ``drop_null`` also drops records with no URL (a NULL
    verdict means 'unattributable', not 'pass' — the caller decides)."""

    url: Column | str
    blocklist: list[str]
    hard_kw: list[str]
    soft_kw: dict[str, int]
    soft_threshold: int
    drop_null: bool = False

    def verdict(self) -> Column:
        """'domain' | 'hard_kw' | 'soft_kw' | NULL (pass)."""
        from ..functions.urlmeta import url_verdict

        return url_verdict(
            self.url, self.blocklist, self.hard_kw, self.soft_kw, self.soft_threshold
        )

    def kept(self) -> Column:
        keep = self.verdict().isNull()
        if self.drop_null:
            url = F.col(self.url) if isinstance(self.url, str) else self.url
            keep = keep & url.isNotNull()
        return keep


@dataclass(frozen=True)
class TemperatureMix:
    """mT5-style doc quotas ∝ source_size**alpha; ``total`` 0 draws half
    the surviving docs. NULL-source docs drop (no mixture component)."""

    total: int = 0
    alpha: float = 0.3


class Stage(NamedTuple):
    name: str
    apply: Callable[[DataFrame], DataFrame]
    checkpoint: bool = False  # several consumers read the output
    fan: bool = False  # spread the output before checkpointing it


def small_input(scan: DataFrame) -> bool:
    """Whether a source scan yields fewer splits than the session's
    parallelism — single small files on a many-core session. At
    production scale the split count exceeds the core count and this
    is False."""
    return scan.rdd.getNumPartitions() < scan.sparkSession.sparkContext.defaultParallelism


def materialize(df: DataFrame, *, fan: bool) -> DataFrame:
    """An eager local checkpoint, so every consumer reads blocks instead
    of re-running the lineage; ``fan`` first spreads the frame
    round-robin over the session's parallelism."""
    if fan:
        df = df.repartition(df.sparkSession.sparkContext.defaultParallelism)
    return df.localCheckpoint(eager=True)


def chunk_uid() -> Column:
    """The packed manifest's chunk key: ``<doc_id>:<chunk_index>``."""
    return F.concat_ws(":", F.col("doc_id").cast("string"), F.col("chunk_index"))


def stages(
    *,
    small: bool,
    min_stopword_hits: int,
    mix: int | TemperatureMix,
    chunk_tokens: int,
    stride: int,
    pack_cap: int,
    shards: int,
    url: UrlRules | None = None,
    eval_docs: Callable[[DataFrame], DataFrame] | None = None,
) -> list[Stage]:
    """The pipeline in order. ``mix`` is a per-source token budget or a
    ``TemperatureMix``. ``eval_docs`` maps the decontamination stage's
    input to the benchmark texts (column ``text``) it is checked
    against. The URL and decontamination stages are present only when
    their rules/eval source are given.

    Materialization: the stages read by several consumers are
    checkpointed. On a ``small`` input (``small_input`` of the source
    scan) the checkpoints after the shuffles AQE coalesces to 1-2
    partitions are fanned out, so the per-row Arrow/md5 work downstream
    does not inherit 1-2-task parallelism (measured 7.2 s → ~3 s for the
    dedup segment at sf0.1), and substring_dedup materializes its gram
    frame. Otherwise partitioning is kept — a production-size stage
    funneled into one partition per core would be the bottleneck — and
    the gram pass re-runs instead of spilling to executor disks."""

    def url_governance(df):
        return df.filter(url.kept())

    def normalize(df):
        from ..functions.normalize import normalize_text_arrow

        return df.select(
            *[c for c in df.columns if c != "text"],
            normalize_text_arrow("text").alias("text"),
        )

    def quality_filter(df):
        # include_input composes the filter with zero shuffle. C4 line
        # cleaning is not a stage: on single-line unpunctuated text its
        # line rules would drop every doc.
        from ..operators.cleaning import GOPHER_RULE_COLS, gopher_quality_filter

        return (
            gopher_quality_filter(
                df,
                min_words=MIN_WORDS,
                min_stopword_hits=min_stopword_hits,
                include_input=True,
            )
            .filter(F.col("keep"))
            .drop("n_words", "mean_word_len", "keep", *GOPHER_RULE_COLS)
        )

    def exact_dedup(df):
        from ..operators.dedup import drop_exact_duplicates

        return drop_exact_duplicates(df, "doc_id", "text")

    def substring_strip(df):
        from ..operators.substring import substring_dedup

        return substring_dedup(
            df, n=GRAM_N, min_df=BOILERPLATE_MIN_DF, materialize_grams=small
        )

    def intra_strip(df):
        from ..operators.substring import strip_repeated_runs

        return strip_repeated_runs(df, n=GRAM_N)

    def redact(df):
        from ..functions.pii import pii_redact

        return df.select(
            *[c for c in df.columns if c not in ("text", *STRIP_COUNTERS)],
            pii_redact("text").alias("text"),
        )

    def decontaminate(df):
        from ..operators.decontam import contamination_hits, eval_gram_hashes

        grams = eval_gram_hashes(eval_docs(df), "text", n=GRAM_N)
        hits = contamination_hits(df, grams, "doc_id", "text", n=GRAM_N)
        return df.join(hits.select("doc_id"), "doc_id", "left_anti")

    def neardup_drop(df):
        from ..operators.dedup import connected_components, minhash_near_duplicates

        pairs = minhash_near_duplicates(
            df, "doc_id", "text", n=5, k=64, bands=16,
            threshold=LSH_THRESHOLD, hash_fn="md5",
        )
        drops = connected_components(pairs).filter(F.col("doc") != F.col("cluster"))
        return df.join(drops.select(F.col("doc").alias("doc_id")), "doc_id", "left_anti")

    def lm_tier_drop(df):
        # CCNet: a bigram LM counted from the survivors' in-domain hash
        # subset scores every survivor; the 'tail' perplexity third drops
        # (zero-token docs score NULL and drop too)
        from ..operators.quality_lm import lm_perplexity, ppl_tiers
        from ..operators.sampling import hash_bucket

        train = df.filter(hash_bucket("doc_id", salt=":lmT") < LM_TRAIN_BUCKETS)
        return (
            ppl_tiers(lm_perplexity(df, train, n_buckets=LM_BUCKETS), id_col="doc_id")
            .filter(F.col("ppl_tier").isin("head", "middle"))
            .drop(*LM_COLUMNS)
        )

    def token_budget(df):
        from ..functions.text import token_count
        from ..operators.sampling import take_token_budget

        return take_token_budget(
            df.withColumn("__nt", token_count("text")), "source", "doc_id", "__nt", mix
        ).drop("__nt")

    def temperature(df):
        from ..operators.sampling import temperature_mix

        total = mix.total or max(1, df.count() // 2)
        return temperature_mix(df, "source", "doc_id", total, alpha=mix.alpha)

    def chunk(df):
        from ..operators.packing import chunk_documents

        return chunk_documents(df, chunk_tokens=chunk_tokens, stride=stride)

    def pack(df):
        from ..operators.packing import pack_next_fit

        return pack_next_fit(
            df.select(chunk_uid().alias("chunk_uid"), "n_chunk_tokens"),
            "chunk_uid",
            "n_chunk_tokens",
            cap_tokens=pack_cap,
            n_shards=shards,
        )

    mixing = (
        Stage("temperature_mix", temperature, checkpoint=True)
        if isinstance(mix, TemperatureMix)
        else Stage("token_budget", token_budget, checkpoint=True)
    )
    # checkpoint reasons: each checkpointed output feeds the next stage
    # and a caller's count; besides, substring_dedup reads exact_dedup's
    # output three times (two gram passes and the strip join), the
    # decontamination stage reads the redacted text twice in the board
    # entry (corpus and eval source), and the chunks are packed and
    # fingerprinted or written
    listed = [
        Stage("url_governance", url_governance) if url is not None else None,
        Stage("normalize", normalize),
        Stage("quality_filter", quality_filter, checkpoint=True, fan=small),
        Stage("exact_dedup", exact_dedup, checkpoint=True, fan=small),
        Stage("substring_strip", substring_strip, checkpoint=True),
        Stage("intra_strip", intra_strip),
        Stage("pii_redact", redact, checkpoint=True),
        Stage("decontaminate", decontaminate, checkpoint=True, fan=small)
        if eval_docs is not None
        else None,
        Stage("neardup_drop", neardup_drop, checkpoint=True, fan=small),
        Stage("lm_tier_drop", lm_tier_drop, checkpoint=True),
        mixing,
        Stage("chunk", chunk, checkpoint=True),
        Stage("pack", pack),
    ]
    return [s for s in listed if s is not None]


def run(
    df: DataFrame,
    steps: list[Stage],
    tap: Callable[[str, DataFrame], DataFrame] | None = None,
) -> DataFrame:
    """Apply ``steps`` in order. ``tap(name, output)`` sees each stage's
    (materialized) output and returns the frame the next stage reads —
    to count it, write it, or add columns that ride along."""
    for st in steps:
        df = st.apply(df)
        if st.checkpoint:
            df = materialize(df, fan=st.fan)
        if tap is not None:
            df = tap(st.name, df)
    return df
