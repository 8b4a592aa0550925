"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry exercises an engine operator from SURVEY.md §2
on the driver-provided parquet tables; ``oracle_sql()`` gives the
DuckDB-equivalent ANSI SQL. Entries without an oracle are genuinely
non-SQL-expressible (xxhash64-based LSH, synthetic interleaved-span
validation) and get the driver's rows-only check.

Column aliases match 1:1 between Spark and SQL (the driver hashes
values after sorting columns by name).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

# the engine package lives next to this file; make imports work however
# the driver loaded this module
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from schema_drift_detector_spark.functions.text import portable_hash60_sql
from schema_drift_detector_spark.operators.sampling import hash_bucket_sql
from schema_drift_detector_spark.plans import corpus

SF_SMOKE = "/root/testdata/sf0.001"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _ckpt_parallel(*dfs: DataFrame) -> list[DataFrame]:
    """Eagerly localCheckpoint several INDEPENDENT frames concurrently
    (guide §2.6 — actions are only sequential because driver code calls
    them sequentially; a thread pool lets the scheduler back-fill the
    tail of one materialization with tasks from the next). Used by the
    merged board entries whose faces were checkpointed one after
    another — the faces share no lineage, so serializing their
    materializations only serialized idle capacity.

    Assumes PySpark's pinned-thread mode (the default since 3.2), where
    each Python thread gets its own JVM thread and so its own job-group
    and description properties. A failing frame raises only after the
    pool joins: its siblings' jobs run to completion first."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=len(dfs)) as pool:
        return list(pool.map(lambda d: d.localCheckpoint(eager=True), dfs))


def _first_parallel(*dfs: DataFrame) -> list:
    """``df.first()`` over several independent (typically gate-
    aggregation) frames concurrently — same §2.6 rationale, and the same
    pinned-thread assumption and failure behavior, as _ckpt_parallel."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=len(dfs)) as pool:
        return list(pool.map(lambda d: d.first(), dfs))


def _t_fan(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """``_t`` with scale-adaptive scan fan-out for CPU-dense consumers.

    The sf-dir tables are single small parquet files (dictionary-coded
    synthetic text compresses ~100×), so a byte-based split gives the
    scan 1-2 tasks no matter the core count — and every zero-shuffle
    chain hanging off it (Arrow UDF scans, per-token md5 hashing, gram
    explodes) inherits that parallelism and runs on 1-2 cores of 32
    (r8 measurement: text_doc_features 'features' face 2.4 s → 0.9 s
    from this alone). When the scan yields fewer splits than the
    session's parallelism, fan out with one round-robin repartition of
    the (by construction small: < cores × maxPartitionBytes) input.
    At production scale the branch self-disables — a 100 TB table
    yields orders of magnitude more splits than cores — so this is a
    small-input adaptation, not a local[32] constant (guide §2.2/§6).
    Used ONLY by helpers whose scan-side compute dominates; light
    aggregation queries keep the plain scan (the extra exchange costs
    more than 1-task scanning saves there — measured both ways)."""
    df = _t(spark, sf_dir, name)
    if corpus.small_input(df):
        df = df.repartition(spark.sparkContext.defaultParallelism)
    return df


# _t_fan_big's floor: below this input size the fan-out exchange costs
# more than 1-task scanning saves (measured across the board at sf0.1,
# where documents.parquet is 584 KB: decontaminate/lm/nb/bm25/chunk all
# land SLOWER fanned), above it the 1-2-task scan starves the per-row
# compute (same queries at sf1.0, 5.7 MB: 1.5-6x FASTER fanned; the
# extreme case is jaccard_pairs_sample, 430 s -> 9 s). Env-overridable;
# at production scale neither branch fires — the split count exceeds
# the core count and both helpers reduce to a plain scan.
_FAN_MIN_BYTES = int(
    os.environ.get("SPARK_GRAFT_FAN_MIN_BYTES", str(4 * 1024 * 1024))
)


def _t_fan_big(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """``_t_fan`` gated on input size: fan out only when the table's
    on-disk footprint clears ``_FAN_MIN_BYTES``. For the mid-density
    queries (LM scoring, NB, decontamination grams, chunking, JSON
    extraction, simhash, BM25) the fan-out exchange only pays for
    itself once the single-task scan carries enough work — measured
    both ways at sf0.1 AND sf1.0 (see _FAN_MIN_BYTES). The always-fan
    ``_t_fan`` stays for the queries that win at every measured size
    (per-token md5 pipelines: jaccard shingles, repetition features,
    PII regex chains).

    Fails closed: when the size cannot be read from the local file
    system (an OSError, or any URI such as s3:// or hdfs://), the plain
    scan is returned."""
    path = f"{sf_dir}/{name}.parquet"
    if "://" in path:
        return _t(spark, sf_dir, name)
    try:
        if os.path.isfile(path):
            size = os.path.getsize(path)
        else:
            size = sum(
                os.path.getsize(os.path.join(path, f))
                for f in os.listdir(path)
                if f.endswith(".parquet")
            )
    except OSError:
        return _t(spark, sf_dir, name)
    if size < _FAN_MIN_BYTES:
        return _t(spark, sf_dir, name)
    return _t_fan(spark, sf_dir, name)


# --------------------------------------------------------------------------
# Schema-diff family (reference R15–R18) on field lists derived from events
# --------------------------------------------------------------------------

def _event_fields(spark: SparkSession, sf_dir: str, side: str) -> DataFrame:
    """Derive two deterministic 'schema snapshots' from the events table:
    before = even event_ids sans 'error'; after = odd sans 'signup'.
    ordinal = min(event_id) under the filter → ordinal drift on common
    types; add 'error' / remove 'signup'."""
    ev = _t(spark, sf_dir, "events")
    if side == "before":
        ev = ev.filter((F.col("event_id") % 2 == 0) & (F.col("event_type") != "error"))
    else:
        ev = ev.filter((F.col("event_id") % 2 == 1) & (F.col("event_type") != "signup"))
    return ev.groupBy(F.col("event_type").alias("name")).agg(
        F.min("event_id").cast("int").alias("ordinal")
    ).select("name", F.lit("string").alias("dtype"), F.lit(True).alias("nullable"), "ordinal")


def q_schema_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from schema_drift_detector_spark.operators.diff import diff_fields

    changes = diff_fields(
        _event_fields(spark, sf_dir, "before"), _event_fields(spark, sf_dir, "after")
    )
    return changes.select(
        "op",
        "field",
        "severity",
        "notes",
        F.col("before")["ordinal"].alias("before_ordinal"),
        F.col("after")["ordinal"].alias("after_ordinal"),
    )


SQL_EVENT_FIELDS = """
before_f AS (
  SELECT event_type AS name, 'string' AS dtype, TRUE AS nullable,
         CAST(min(event_id) AS INT) AS ordinal
  FROM events WHERE event_id % 2 = 0 AND event_type <> 'error' GROUP BY event_type
),
after_f AS (
  SELECT event_type AS name, 'string' AS dtype, TRUE AS nullable,
         CAST(min(event_id) AS INT) AS ordinal
  FROM events WHERE event_id % 2 = 1 AND event_type <> 'signup' GROUP BY event_type
),
diffed AS (
  SELECT
    CASE WHEN a.name IS NULL THEN 'remove'
         WHEN b.name IS NULL THEN 'add'
         WHEN lower(coalesce(b.dtype,'')) <> lower(coalesce(a.dtype,'')) THEN 'change'
         WHEN coalesce(b.nullable, FALSE) <> coalesce(a.nullable, FALSE) THEN 'change'
         WHEN coalesce(b.ordinal, 0) <> coalesce(a.ordinal, 0) THEN 'change'
         ELSE NULL END AS op,
    coalesce(b.name, a.name) AS field,
    CASE WHEN a.name IS NULL THEN 'critical'
         WHEN b.name IS NULL THEN 'low'
         WHEN lower(coalesce(b.dtype,'')) <> lower(coalesce(a.dtype,'')) THEN 'high'
         WHEN coalesce(b.nullable, FALSE) <> coalesce(a.nullable, FALSE)
           THEN CASE WHEN coalesce(b.nullable, FALSE) AND NOT coalesce(a.nullable, FALSE)
                     THEN 'high' ELSE 'medium' END
         WHEN coalesce(b.ordinal, 0) <> coalesce(a.ordinal, 0) THEN 'low'
         ELSE NULL END AS severity,
    CASE WHEN a.name IS NULL THEN 'field removed'
         WHEN b.name IS NULL THEN 'field added'
         WHEN lower(coalesce(b.dtype,'')) <> lower(coalesce(a.dtype,'')) THEN 'type changed'
         WHEN coalesce(b.nullable, FALSE) <> coalesce(a.nullable, FALSE) THEN 'nullable changed'
         WHEN coalesce(b.ordinal, 0) <> coalesce(a.ordinal, 0) THEN 'ordinal changed'
         ELSE NULL END AS notes,
    b.ordinal AS before_ordinal,
    a.ordinal AS after_ordinal,
    CASE WHEN b.name IS NULL THEN 1 ELSE 0 END AS grp,
    coalesce(b.ordinal, a.ordinal, 0) AS ord
  FROM before_f b FULL OUTER JOIN after_f a ON lower(b.name) = lower(a.name)
)
"""

ORACLE_SCHEMA_DIFF = f"""
WITH {SQL_EVENT_FIELDS}
SELECT op, field, severity, notes, before_ordinal, after_ordinal
FROM diffed WHERE op IS NOT NULL
"""


def q_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from schema_drift_detector_spark.operators.diff import diff_fields, drift_report

    changes = diff_fields(
        _event_fields(spark, sf_dir, "before"), _event_fields(spark, sf_dir, "after")
    )
    rep = drift_report(changes)
    return rep.select(
        "drift_detected",
        F.size("changes").alias("n_changes"),
        "severity",
        "summary",
    )


ORACLE_DRIFT_REPORT = f"""
WITH {SQL_EVENT_FIELDS}
SELECT
  count(*) FILTER (WHERE op IS NOT NULL) > 0 AS drift_detected,
  CAST(count(*) FILTER (WHERE op IS NOT NULL) AS INT) AS n_changes,
  CASE WHEN count(*) FILTER (WHERE op IS NOT NULL) = 0 THEN 'info'
       WHEN max(CASE WHEN op = 'remove' THEN 2
                     WHEN severity = 'high' THEN 1 ELSE 0 END) = 2 THEN 'critical'
       WHEN max(CASE WHEN op = 'remove' THEN 2
                     WHEN severity = 'high' THEN 1 ELSE 0 END) = 1 THEN 'warning'
       ELSE 'info' END AS severity,
  CASE WHEN count(*) FILTER (WHERE op IS NOT NULL) = 0 THEN 'no schema drift detected'
       ELSE string_agg(format('{{}} {{}} ({{}})', op, field, severity), ' ; '
                       ORDER BY grp, ord, lower(field))
  END AS summary
FROM diffed WHERE op IS NOT NULL
"""


# --------------------------------------------------------------------------
# Window / join / aggregation core (R11, R13, profiler)
# --------------------------------------------------------------------------

def q_latest_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select(
            "o_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("latest_order_date"),
        )
    )


ORACLE_LATEST_ORDER = """
SELECT o_custkey, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS latest_order_date
FROM orders
QUALIFY row_number() OVER (PARTITION BY o_custkey
                           ORDER BY o_orderdate DESC, o_orderkey DESC) = 1
"""


def q_order_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc(), F.col("o_orderkey").asc()
    )
    return orders.select(
        "o_custkey", "o_orderkey", F.lag("o_orderkey").over(w).alias("prev_orderkey")
    )


ORACLE_ORDER_CHAIN = """
SELECT o_custkey, o_orderkey,
       lag(o_orderkey) OVER (PARTITION BY o_custkey
                             ORDER BY o_orderdate ASC, o_orderkey ASC) AS prev_orderkey
FROM orders
"""


def q_customers_without_open_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join + MULTISET set-op certifications in one entry, tagged
    by `face`: 'anti' = the left_anti no-open-orders pick (the whole
    entry through late-r7); 'except_all' / 'intersect_all' (late-r7) =
    Spark's bag-semantics exceptAll/intersectAll over OPEN-order
    custkeys vs FINISHED-order custkeys — two overlapping multisets
    where NEITHER side is a sub-multiset of the other (a review pass
    caught the first draft using all-orders vs open-orders, where the
    max(0, l-r) clamp was structurally unreachable and only the
    except face was gated) — mirrored by SQL EXCEPT ALL / INTERSECT
    ALL. Three gates make each arithmetic branch bind non-vacuously:
    some key with 1 <= open < finished (the clamp emits ZERO for a
    present left value), some key with open >= finished+1 (the
    subtraction emits a positive count strictly below the left
    multiplicity), and some key with min(open, finished) >= 2 (bag
    intersect distinguishable from distinct INTERSECT)."""
    customer = _t(spark, sf_dir, "customer")
    orders_all = _t(spark, sf_dir, "orders")
    open_o = orders_all.filter(F.col("o_orderstatus") == "O")
    anti = customer.join(
        open_o, customer["c_custkey"] == open_o["o_custkey"], "left_anti"
    ).select(F.lit("anti").alias("face"), "c_custkey", "c_name")

    keys_open = open_o.select(F.col("o_custkey").alias("c_custkey"))
    keys_fin = orders_all.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("c_custkey")
    )
    mult = (
        keys_open.groupBy("c_custkey")
        .count()
        .withColumnRenamed("count", "o")
        .join(
            keys_fin.groupBy("c_custkey").count().withColumnRenamed("count", "f"),
            "c_custkey",
            "full_outer",
        )
        .fillna(0, ["o", "f"])
    )
    g = mult.agg(
        F.sum(
            F.when((F.col("o") >= 1) & (F.col("o") < F.col("f")), 1).otherwise(0)
        ).alias("clamped"),
        F.sum(
            F.when((F.col("f") >= 1) & (F.col("o") >= F.col("f") + 1), 1).otherwise(0)
        ).alias("subtracted"),
        F.sum(F.when(F.least("o", "f") >= 2, 1).otherwise(0)).alias("bag_min"),
    ).first()
    for name in ("clamped", "subtracted", "bag_min"):
        if not g[name]:
            raise RuntimeError(
                f"vacuous set-op fixture: gate {name} is zero — a bag-arithmetic"
                " branch would certify vacuously"
            )
    ea_face = keys_open.exceptAll(keys_fin).select(
        F.lit("except_all").alias("face"),
        "c_custkey",
        F.lit(None).cast("string").alias("c_name"),
    )
    ia_face = keys_open.intersectAll(keys_fin).select(
        F.lit("intersect_all").alias("face"),
        "c_custkey",
        F.lit(None).cast("string").alias("c_name"),
    )
    return anti.unionByName(ea_face).unionByName(ia_face)


ORACLE_CUST_NO_OPEN = """
SELECT 'anti' AS face, c_custkey, c_name FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O')
UNION ALL
SELECT 'except_all' AS face, x.c_custkey, CAST(NULL AS VARCHAR) AS c_name
FROM (
  SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'O'
  EXCEPT ALL
  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
) x
UNION ALL
SELECT 'intersect_all' AS face, y.c_custkey, CAST(NULL AS VARCHAR) AS c_name
FROM (
  SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'O'
  INTERSECT ALL
  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
) y
"""


def q_nations_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = _t(spark, sf_dir, "nation")
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.join(customer, orders["o_custkey"] == customer["c_custkey"])
        .join(F.broadcast(nation), customer["c_nationkey"] == nation["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.min("o_totalprice"), 2).alias("min_price"),
            F.round(F.max("o_totalprice"), 2).alias("max_price"),
        )
    )


ORACLE_NATION_STATS = """
SELECT n_name, count(*) AS n_orders,
       round(min(o_totalprice), 2) AS min_price,
       round(max(o_totalprice), 2) AS max_price
FROM orders JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""


_PIVOT_TYPES = ["click", "error", "purchase", "signup", "view"]


def q_profile_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event profiling, three faces: 'profile' = per-type stats;
    'pivot' (r6) = the long→wide reshaping surface — per-user counts
    pivoted over an explicit event-type value list (.pivot(col,
    values), the scale-safe form: no distinct-scan to discover
    columns; Spark leaves EMPTY pivot cells NULL, the oracle mirrors
    with NULLIF(count FILTER ...)); 'json' (late-r7) = the
    semi-structured scalar-function family — events.props is a JSON
    string, extracted BOTH ways Spark offers (typed `from_json` struct
    field and path-based `get_json_object`), aggregated per type.
    Every 41st event's props is replaced with a non-JSON string
    (planted, mirrored in the oracle): both extractors must yield NULL
    (not throw) — n_parsed < n_rows certifies the corrupt-row
    contract, and `path_mismatches` counts rows where the two
    extraction paths disagree, which the oracle pins at EXACTLY 0 (the
    tolerance-contract shape: a Spark-side divergence between the two
    JSON readers would hash-mismatch); 'unpivot' (late r7) = the
    wide→long inverse via the real DataFrame.unpivot operator, NULL
    pivot cells retained as NULL-valued long rows, gated to round-trip
    exactly to the per-(user, type) counts."""
    json_pads = [
        F.lit(None).cast("bigint").alias("n_parsed"),
        F.lit(None).cast("bigint").alias("sum_k"),
        F.lit(None).cast("bigint").alias("path_mismatches"),
    ]
    prof = q_profile_events__profile(spark, sf_dir).select(
        F.lit("profile").alias("face"),
        "*",
        F.lit(None).cast("bigint").alias("user_id"),
        *[F.lit(None).cast("bigint").alias(f"n_{t}") for t in _PIVOT_TYPES],
        *json_pads,
    )
    piv = q_profile_events__pivot(spark, sf_dir).select(
        F.lit("pivot").alias("face"),
        F.lit(None).cast("string").alias("event_type"),
        F.lit(None).cast("bigint").alias("n_rows"),
        F.lit(None).cast("bigint").alias("n_users"),
        F.lit(None).cast("double").alias("min_value"),
        F.lit(None).cast("double").alias("max_value"),
        F.lit(None).cast("double").alias("null_ratio"),
        "user_id",
        *[F.col(t).alias(f"n_{t}") for t in _PIVOT_TYPES],
        *json_pads,
    )
    # json + unpivot faces share no lineage: checkpoint concurrently
    # (r8, guide §2.6), then one gate job each
    js, unp = _ckpt_parallel(
        q_profile_events__json(spark, sf_dir),
        q_profile_events__unpivot(spark, sf_dir),
    )
    corrupt = js.agg(F.sum(F.col("n_rows") - F.col("n_parsed"))).first()[0]
    if not corrupt:
        raise RuntimeError(
            "vacuous json-face fixture: no planted corrupt props row parsed NULL"
        )
    jsf = js.select(
        F.lit("json").alias("face"),
        "event_type",
        "n_rows",
        F.lit(None).cast("bigint").alias("n_users"),
        F.lit(None).cast("double").alias("min_value"),
        F.lit(None).cast("double").alias("max_value"),
        F.lit(None).cast("double").alias("null_ratio"),
        F.lit(None).cast("bigint").alias("user_id"),
        *[F.lit(None).cast("bigint").alias(f"n_{t}") for t in _PIVOT_TYPES],
        "n_parsed",
        "sum_k",
        "path_mismatches",
    )
    # unpivot face (late r7): the wide→long inverse of the pivot face
    # via the REAL DataFrame.unpivot operator (not a manual stack) —
    # NULL pivot cells survive as NULL-valued long rows (Spark melt
    # retains them; the oracle unions per-type columns explicitly so
    # the NULL-retention semantics are pinned, not left to a dialect's
    # UNPIVOT default). Gated: round-trips to the per-(user, type)
    # counts, and NULL cells exist.
    truth = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_id") % 97 == 0)
        .filter(F.col("event_type").isin(list(_PIVOT_TYPES)))
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("n_true"))
    )
    # ONE gate job instead of two (r8): the unfiltered full-outer join
    # is round-trip-equivalent to the filtered one — an unp row with
    # NULL n means its pivot cell was empty, so truth (built from
    # nonzero counts) has no matching key and the joined pair is
    # (NULL, NULL), which eqNullSafe treats as agreeing — and the same
    # pass counts the NULL cells the second job used to scan for.
    gate = (
        unp.join(truth, ["user_id", "event_type"], "full_outer")
        .agg(
            F.sum(
                F.when(~F.col("n").eqNullSafe(F.col("n_true")), 1).otherwise(0)
            ).alias("diverged"),
            F.sum(F.when(F.col("n").isNull(), 1).otherwise(0)).alias("nulls"),
        )
        .first()
    )
    diverged, n_null_cells = gate["diverged"], gate["nulls"]
    if diverged or not n_null_cells:
        raise RuntimeError(
            f"vacuous unpivot certification: round-trip diverged ({diverged}) "
            f"or no NULL pivot cell survived the melt ({n_null_cells})"
        )
    unpf = unp.select(
        F.lit("unpivot").alias("face"),
        "event_type",
        F.lit(None).cast("bigint").alias("n_rows"),
        F.lit(None).cast("bigint").alias("n_users"),
        F.lit(None).cast("double").alias("min_value"),
        F.lit(None).cast("double").alias("max_value"),
        F.lit(None).cast("double").alias("null_ratio"),
        "user_id",
        *[F.lit(None).cast("bigint").alias(f"n_{t}") for t in _PIVOT_TYPES],
        F.col("n").alias("n_parsed"),
        F.lit(None).cast("bigint").alias("sum_k"),
        F.lit(None).cast("bigint").alias("path_mismatches"),
    )
    return prof.unionByName(piv).unionByName(jsf).unionByName(unpf)


def q_profile_events__profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 'profile' face (bare plan — bench-timed directly now that
    the merged entry gates/checkpoints the json face)."""
    return _t(spark, sf_dir, "events").groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct("user_id").alias("n_users"),
        F.round(F.min("value"), 6).alias("min_value"),
        F.round(F.max("value"), 6).alias("max_value"),
        (1.0 - F.count("value") / F.count(F.lit(1))).alias("null_ratio"),
    )


def q_profile_events__pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 'pivot' face (bare plan)."""
    return (
        _t(spark, sf_dir, "events")
        .groupBy("user_id")
        .pivot("event_type", _PIVOT_TYPES)
        .count()
    )


def q_profile_events__unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 'unpivot' face (bare plan): the pivot shape over a 1/97
    event slice (the full matrix is DENSE at every fixture SF — every
    user has every type — so the NULL-cell-retention contract could
    never bind on it), melted back long via DataFrame.unpivot —
    (user_id, event_type, n), NULL n for empty pivot cells."""
    sparse = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_id") % 97 == 0)
        .groupBy("user_id")
        .pivot("event_type", _PIVOT_TYPES)
        .count()
    )
    return sparse.unpivot(
        ids=["user_id"],
        values=list(_PIVOT_TYPES),
        variableColumnName="event_type",
        valueColumnName="n",
    )


def q_profile_events__json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 'json' face (bare plan): both JSON extraction paths over the
    planted-corrupt props fixture, aggregated per type."""
    props = F.when(F.col("event_id") % 41 == 0, F.lit("not json")).otherwise(
        F.col("props")
    )
    k_struct = F.from_json(props, "k INT").getField("k").cast("long")
    k_path = F.get_json_object(props, "$.k").cast("long")
    return (
        _t_fan_big(spark, sf_dir, "events")
        .select("event_type", k_struct.alias("__k1"), k_path.alias("__k2"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("__k1").alias("n_parsed"),
            F.sum("__k1").alias("sum_k"),
            F.sum(
                F.when(
                    ~F.col("__k1").eqNullSafe(F.col("__k2")), F.lit(1)
                ).otherwise(F.lit(0))
            ).alias("path_mismatches"),
        )
    )


_PIVOT_ORACLE_COLS = ",\n       ".join(
    f"NULLIF(count(*) FILTER (WHERE event_type = '{t}'), 0) AS n_{t}"
    for t in _PIVOT_TYPES
)

ORACLE_PROFILE_EVENTS = f"""
SELECT 'profile' AS face, event_type, count(*) AS n_rows,
       count(DISTINCT user_id) AS n_users,
       round(min(value), 6) AS min_value, round(max(value), 6) AS max_value,
       1.0 - count(value) / count(*) AS null_ratio,
       CAST(NULL AS BIGINT) AS user_id,
       {", ".join(f"CAST(NULL AS BIGINT) AS n_{t}" for t in _PIVOT_TYPES)},
       CAST(NULL AS BIGINT) AS n_parsed, CAST(NULL AS BIGINT) AS sum_k,
       CAST(NULL AS BIGINT) AS path_mismatches
FROM events GROUP BY event_type
UNION ALL
SELECT 'pivot' AS face, CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
       CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
       CAST(NULL AS DOUBLE), user_id,
       {_PIVOT_ORACLE_COLS},
       CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
FROM events GROUP BY user_id
UNION ALL
-- 'json' face: the planted corrupt rows parse to NULL (json_valid
-- guard mirrors Spark's NULL-on-malformed from_json/get_json_object);
-- path_mismatches is the 0-pinned tolerance contract — the oracle
-- computes one extraction, Spark computes BOTH and counts divergences
SELECT 'json' AS face, event_type, count(*) AS n_rows,
       CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
       CAST(NULL AS DOUBLE), CAST(NULL AS BIGINT),
       {", ".join(f"CAST(NULL AS BIGINT)" for t in _PIVOT_TYPES)},
       count(k) AS n_parsed, CAST(sum(k) AS BIGINT) AS sum_k,
       CAST(0 AS BIGINT) AS path_mismatches
FROM (
  SELECT event_type,
         CASE WHEN json_valid(p)
              THEN TRY_CAST(json_extract_string(p, '$.k') AS BIGINT) END AS k
  FROM (
    SELECT event_type,
           CASE WHEN event_id % 41 = 0 THEN 'not json' ELSE props END AS p
    FROM events
  )
)
GROUP BY event_type
UNION ALL
-- 'unpivot' face: the pivot matrix melted back long. The per-type
-- columns are unioned EXPLICITLY (one branch per pivot value) so the
-- NULL-retention semantics match Spark's melt exactly — a dialect
-- UNPIVOT's default NULL-exclusion is precisely the divergence this
-- replay must not inherit
{" UNION ALL ".join(
    f'''SELECT 'unpivot' AS face, '{t}' AS event_type, CAST(NULL AS BIGINT),
       CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
       CAST(NULL AS DOUBLE), user_id,
       {", ".join("CAST(NULL AS BIGINT)" for _ in _PIVOT_TYPES)},
       n_{t} AS n_parsed, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
FROM (SELECT user_id, {_PIVOT_ORACLE_COLS} FROM events
      WHERE event_id % 97 = 0 GROUP BY user_id)'''
    for t in _PIVOT_TYPES
)}
"""


def q_stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus-carving decisions, two faces:

    'carve' — per-language hash-rate downsample (en 50%, zh 100%,
    others 20%) composed with a leakage-free 70/15/15 split — both pure
    portable-md5 expressions, so DuckDB reproduces the EXACT member set
    and split labels (not just counts). r6 adds the QUALITY-WEIGHTED
    sampling decision (weighted_keep: accept with probability
    quality_score, its own ':wsample' salt) as a certified column — the
    decision for every surviving doc, both-valued by construction
    (gated).

    'dsir' (r7) — DSIR-style importance selection (Xie et al. 2023):
    every doc scored by the hashed-unigram log importance ratio against
    a 5%-hash target sample (1024 buckets, add-0.5 smoothing, score
    rounded to 5), then the top 20 per source selected by
    (score desc, doc_id asc) rank. The oracle replays bucket hashing,
    both smoothed distributions, the ordered log-ratio sum, and the
    rank rule — scores AND the exact selected sets are hash-certified.
    Gated: scores must vary and the selection must be non-trivial
    (some selected, some not, in >= 2 sources).

    'ppl' (late r7) — CCNet-style LM-perplexity carving (Wenzek 2020):
    a bigram stupid-backoff LM over 4096 hashed buckets is counted from
    a 10%-hash trusted subset (':lmT' salt), every doc scored by
    avg_nll (rounded 5dp), then tiered head/middle/tail by exact ntile
    thirds. Text is NULLed on doc_id % 97 == 3 (documents has no
    natural NULLs) so the NULL-scores-NULL contract is certified
    non-vacuously. The oracle replays tokenization, bucket hashing,
    unigram/bigram counts, all three stupid-backoff branches, the
    rounded mean, and the (score, doc_id) ntile. Gated: planted NULLs
    present, all 3 tiers hit, BOTH the seen-bigram and the backoff
    branches taken, scores vary.

    'nb' (late r7) — supervised multinomial Naive Bayes over hashed
    token buckets (nb_classify — the deterministic stand-in for the
    fastText-style model-based quality/domain filters real corpus
    pipelines run): a 3-class marker fixture is PLANTED (documents'
    synthetic text carries no natural token-label signal), the model
    is trained in one pass on the 30% ':nbT' hash subset, and every
    doc gets rounded per-class log-posterior scores, the name-ordered
    argmax prediction, and the winner-runner-up margin. The oracle
    replays tokenization, bucket hashing, smoothed per-class
    conditionals, priors, the rounded sums, argmax, and margin. Gated:
    planted NULL texts predict NULL (and only them), all 3 classes
    predicted, >= 95% accuracy on marker-carrying docs, at least one
    unmarked doc misclassified (the noise floor is real), margins
    vary."""
    from schema_drift_detector_spark.functions.text import quality_score
    from schema_drift_detector_spark.operators.importance import (
        dsir_scores,
        select_top_k,
    )
    from schema_drift_detector_spark.operators.sampling import (
        hash_bucket,
        split_by_hash,
        stratified_sample_by_hash,
        weighted_keep,
    )

    docs = _t(spark, sf_dir, "documents")
    sampled = stratified_sample_by_hash(
        docs, "doc_id", "lang", {"en": 0.5, "zh": 1.0}, default_fraction=0.2
    )
    carve = split_by_hash(sampled, "doc_id", [0.7, 0.15, 0.15]).select(
        F.lit("carve").alias("face"),
        "doc_id",
        "lang",
        "split",
        weighted_keep("doc_id", quality_score("text")).alias("q_keep"),
        F.lit(None).cast("string").alias("source"),
        F.lit(None).cast("double").alias("dsir_score"),
        F.lit(None).cast("boolean").alias("selected"),
        *_nb_null_pad(),
        *_ppl_null_pad(),
    ).localCheckpoint(eager=True)
    kept = carve.filter(F.col("q_keep")).limit(1).count()
    dropped = carve.filter(~F.col("q_keep")).limit(1).count()
    if not (kept and dropped):
        raise RuntimeError("vacuous weighted-sampling certification: q_keep single-valued")

    target = docs.filter(hash_bucket("doc_id", salt=":dsirT") < 50_000)
    scored = dsir_scores(
        docs.select("doc_id", "source", "text"),
        target,
        n_buckets=1024,
        alpha=0.5,
        round_digits=5,
    ).select("doc_id", "source", "dsir_score")
    # flag form: one window over the scored frame — no self-join, the
    # plan is structurally the oracle's ranked CTE (review catch, r7)
    dsir = select_top_k(
        scored, k=20, group_col="source", flag_col="selected"
    ).select(
        F.lit("dsir").alias("face"),
        "doc_id",
        F.lit(None).cast("string").alias("lang"),
        F.lit(None).cast("string").alias("split"),
        F.lit(None).cast("boolean").alias("q_keep"),
        "source",
        "dsir_score",
        "selected",
        *_nb_null_pad(),
        *_ppl_null_pad(),
    ).localCheckpoint(eager=True)
    st = dsir.agg(
        F.min("dsir_score").alias("lo"),
        F.max("dsir_score").alias("hi"),
        F.count_distinct(F.when(F.col("selected"), F.col("source"))).alias("nsel"),
        F.count(F.when(~F.col("selected"), 1)).alias("nout"),
    ).first()
    if not (st.lo is not None and st.lo < st.hi and st.nsel >= 2 and st.nout > 0):
        raise RuntimeError(
            f"vacuous DSIR certification: scores/selection degenerate ({st})"
        )

    tiered = _ppl_face_frame(docs)
    ppl = tiered.select(
        F.lit("ppl").alias("face"),
        "doc_id",
        F.lit(None).cast("string").alias("lang"),
        F.lit(None).cast("string").alias("split"),
        F.lit(None).cast("boolean").alias("q_keep"),
        F.lit(None).cast("string").alias("source"),
        F.lit(None).cast("double").alias("dsir_score"),
        F.lit(None).cast("boolean").alias("selected"),
        *_nb_null_pad(),
        "avg_nll",
        "n_scored",
        "n_backoff",
        "ppl_tier",
    ).localCheckpoint(eager=True)
    pst = ppl.agg(
        F.count(F.when(F.col("avg_nll").isNull(), 1)).alias("n_null"),
        F.count_distinct("ppl_tier").alias("n_tiers"),
        F.sum("n_backoff").alias("bo"),
        F.sum(F.col("n_scored") - 1 - F.col("n_backoff")).alias("seen"),
        F.min("avg_nll").alias("lo"),
        F.max("avg_nll").alias("hi"),
    ).first()
    if not (
        pst.n_null > 0
        and pst.n_tiers == 3
        and pst.bo > 0
        and pst.seen > 0
        and pst.lo is not None
        and pst.lo < pst.hi
    ):
        raise RuntimeError(
            f"vacuous LM-perplexity certification: a branch or tier never fired ({pst})"
        )

    nb = _nb_face_frame(docs).select(
        F.lit("nb").alias("face"),
        "doc_id",
        F.lit(None).cast("string").alias("lang"),
        F.lit(None).cast("string").alias("split"),
        F.lit(None).cast("boolean").alias("q_keep"),
        F.lit(None).cast("string").alias("source"),
        F.lit(None).cast("double").alias("dsir_score"),
        F.lit(None).cast("boolean").alias("selected"),
        "nb_label",
        "nb_pred",
        "nb_score",
        "nb_margin",
        *_ppl_null_pad(),
    ).localCheckpoint(eager=True)
    marked = nb.filter((F.col("doc_id") % 7 != 0) & (F.col("doc_id") % 97 != 3))
    nst = nb.agg(
        F.count(F.when(F.col("nb_pred").isNull(), 1)).alias("n_null"),
        F.count(F.when((F.col("doc_id") % 97 == 3) & F.col("nb_pred").isNotNull(), 1)).alias("bad_null"),
        F.count_distinct("nb_pred").alias("n_classes"),
        F.count(
            F.when(
                (F.col("doc_id") % 7 == 0)
                & F.col("nb_pred").isNotNull()
                & (F.col("nb_pred") != F.col("nb_label")),
                1,
            )
        ).alias("n_err"),
        F.min("nb_margin").alias("mlo"),
        F.max("nb_margin").alias("mhi"),
    ).first()
    mst = marked.agg(
        F.avg((F.col("nb_pred") == F.col("nb_label")).cast("double")).alias("acc")
    ).first()
    if not (
        nst.n_null > 0
        and nst.bad_null == 0
        and nst.n_classes == 3
        and nst.n_err > 0
        and nst.mlo is not None
        and nst.mlo < nst.mhi
        and mst.acc is not None
        and mst.acc >= 0.95
    ):
        raise RuntimeError(
            f"vacuous NB-classifier certification: a contract never bound "
            f"({nst}, marked acc={mst.acc})"
        )
    return carve.unionByName(dsir).unionByName(ppl).unionByName(nb)


# the 'ppl' face's four columns, null-typed for the other two faces
# (a function, not a constant: Column construction needs a live
# SparkContext, which does not exist at module import time)
def _ppl_null_pad() -> tuple:
    return (
        F.lit(None).cast("double").alias("avg_nll"),
        F.lit(None).cast("bigint").alias("n_scored"),
        F.lit(None).cast("bigint").alias("n_backoff"),
        F.lit(None).cast("string").alias("ppl_tier"),
    )


def _ppl_face_frame(docs: DataFrame) -> DataFrame:
    """The 'ppl' face's bare plan (shared with the bench row): NULL-plant
    text on doc_id % 97 == 3, count the bigram LM from the 10% ':lmT'
    hash subset, score every doc, tier by exact ntile thirds."""
    from schema_drift_detector_spark.operators.quality_lm import (
        lm_perplexity,
        ppl_tiers,
    )
    from schema_drift_detector_spark.operators.sampling import hash_bucket

    planted = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 97 == 3, F.lit(None).cast("string"))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    train = planted.filter(hash_bucket("doc_id", salt=":lmT") < 100_000)
    scored = lm_perplexity(
        planted, train, id_col="doc_id", text_col="text", n_buckets=4096
    )
    return ppl_tiers(scored, id_col="doc_id")


def q_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench row: the bare 'ppl' face plan (LM count + score + tier),
    without the merged entry's other faces, gates, or checkpoints."""
    return _ppl_face_frame(_t_fan_big(spark, sf_dir, "documents")).select(
        "doc_id", "avg_nll", "n_scored", "n_backoff", "ppl_tier"
    )


# the 'nb' face's four columns, null-typed for the other faces
def _nb_null_pad() -> tuple:
    return (
        F.lit(None).cast("string").alias("nb_label"),
        F.lit(None).cast("string").alias("nb_pred"),
        F.lit(None).cast("double").alias("nb_score"),
        F.lit(None).cast("double").alias("nb_margin"),
    )


# the 'nb' face's planted class-conditional fixture, shared between the
# Spark plan and (as _NB_MARKER_CASE / _NB_LABEL_CASE) the DuckDB
# oracle: documents' synthetic text carries NO natural token-label
# signal (token rates are uniform across lang/source — verified), so
# the supervised task plants one. Truth label from doc_id % 10; a
# 3-token class marker is appended ONLY when doc_id % 7 != 0, leaving
# ~14% of docs unmarked (classified off the uninformative base tokens —
# the noise floor that makes the error-exists gate non-vacuous); text
# NULLed on doc_id % 97 == 3 (documents has no natural NULLs).
_NB_CLASSES = ["ads", "forum", "wiki"]
_NB_LABEL_CASE = (
    "CASE WHEN doc_id % 10 < 3 THEN 'ads' "
    "WHEN doc_id % 10 < 6 THEN 'wiki' ELSE 'forum' END"
)
_NB_MARKER_CASE = (
    "CASE WHEN doc_id % 10 < 3 THEN ' buynow offer cheap' "
    "WHEN doc_id % 10 < 6 THEN ' citation infobox notable' "
    "ELSE ' reply thread upvote' END"
)


def _nb_face_frame(docs: DataFrame) -> DataFrame:
    """The 'nb' face's bare plan (shared with the bench row): plant the
    class fixture, train multinomial NB on the 30% ':nbT' hash subset,
    score + predict every doc. Output: (doc_id, nb_label, nb_pred,
    nb_score, nb_margin)."""
    from schema_drift_detector_spark.operators.classify import nb_classify
    from schema_drift_detector_spark.operators.sampling import hash_bucket

    marker = (
        F.when(F.col("doc_id") % 10 < 3, F.lit(" buynow offer cheap"))
        .when(F.col("doc_id") % 10 < 6, F.lit(" citation infobox notable"))
        .otherwise(F.lit(" reply thread upvote"))
    )
    label = (
        F.when(F.col("doc_id") % 10 < 3, F.lit("ads"))
        .when(F.col("doc_id") % 10 < 6, F.lit("wiki"))
        .otherwise(F.lit("forum"))
    )
    planted = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 97 == 3, F.lit(None).cast("string"))
        .otherwise(
            F.concat(
                "text",
                F.when(F.col("doc_id") % 7 != 0, marker).otherwise(F.lit("")),
            )
        )
        .alias("text"),
        label.alias("nb_label"),
    )
    train = planted.filter(hash_bucket("doc_id", salt=":nbT") < 300_000)
    return nb_classify(
        planted, train, label_col="nb_label", classes=_NB_CLASSES, n_buckets=4096
    ).select("doc_id", "nb_label", "nb_pred", "nb_score", "nb_margin")


def q_nb_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench row: the bare 'nb' face plan (one-pass NB train over the
    30% seed + broadcast-model scoring + codegen argmax), without the
    merged entry's other faces, gates, or checkpoints. The tiny
    class-list/priors collects are part of the operator's real cost."""
    return _nb_face_frame(_t_fan_big(spark, sf_dir, "documents"))


# three INDEPENDENT salted buckets: bs (unsalted) gates the sample, bsp
# (':split'-salted) assigns the split, bw (':wsample'-salted) decides
# the quality-weighted keep — a single shared bucket would make the
# compositions degenerate (every stratum sampled at <= 0.7 would land
# 100% in 'train'). Built lazily (function, not constant) because it
# embeds ORACLE_QUALITY, defined later in this module.
def _oracle_stratified_split() -> str:
    from schema_drift_detector_spark.operators.sampling import hash_bucket_sql

    did = "CAST(doc_id AS VARCHAR)"
    carve = f"""
WITH h AS (
  SELECT doc_id, lang,
         {hash_bucket_sql(did)} AS bs,
         {hash_bucket_sql(did, salt=":split")} AS bsp,
         {hash_bucket_sql(did, salt=":wsample")} AS bw
  FROM documents
)
SELECT h.doc_id, h.lang,
       CASE WHEN bsp < 700000 THEN 'train'
            WHEN bsp < 850000 THEN 'validation'
            ELSE 'test' END AS split,
       -- long < double on both engines: identical IEEE promote+compare
       (bw < q.quality * 1000000.0) AS q_keep
FROM h JOIN ({ORACLE_QUALITY}) q ON q.doc_id = h.doc_id
WHERE bs < CASE lang WHEN 'en' THEN 500000 WHEN 'zh' THEN 1000000
           ELSE 200000 END
"""
    # DSIR replay: bucket hashing (the ':dsir' salt), both add-0.5
    # smoothed bucket distributions (denominator totals = occurrence
    # counts), the per-doc log-ratio sum rounded to 5 (round absorbs
    # summation-order/libm ULP — the engine-wide double discipline),
    # and the (score desc NULLS LAST, doc_id asc) top-20-per-source rank
    bkt = hash_bucket_sql("tok", 1024, ":dsir")
    dsir = f"""
WITH occ AS (
  -- '' split artifacts are not tokens (mirrors bucket_counts)
  SELECT doc_id, {bkt} AS bucket
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents WHERE text IS NOT NULL)
  WHERE tok <> ''
), tocc AS (
  SELECT doc_id, {bkt} AS bucket
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents
        WHERE text IS NOT NULL
          AND {hash_bucket_sql("CAST(doc_id AS VARCHAR)", salt=":dsirT")} < 50000)
  WHERE tok <> ''
), bg AS (SELECT bucket, count(*) AS n_bg FROM occ GROUP BY 1),
tg AS (SELECT bucket, count(*) AS n_tg FROM tocc GROUP BY 1),
tot AS (SELECT (SELECT count(*) FROM occ) AS g, (SELECT count(*) FROM tocc) AS t),
r AS (
  SELECT bucket,
         ln((coalesce(n_tg, 0) + 0.5) / (tot.t + 0.5 * 1024))
       - ln((coalesce(n_bg, 0) + 0.5) / (tot.g + 0.5 * 1024)) AS lr
  FROM bg FULL OUTER JOIN tg USING (bucket), tot
), sc AS (
  SELECT o.doc_id, round(sum(r.lr), 5) AS dsir_score
  FROM occ o JOIN r USING (bucket) GROUP BY 1
), ranked AS (
  SELECT d.doc_id, d.source, sc.dsir_score,
         row_number() OVER (PARTITION BY d.source
                            ORDER BY sc.dsir_score DESC NULLS LAST,
                                     d.doc_id ASC) AS rk
  FROM documents d LEFT JOIN sc USING (doc_id)
)
SELECT doc_id, source, dsir_score, (rk <= 20) AS selected FROM ranked
"""
    # CCNet bigram stupid-backoff replay from the SHARED CTE builder
    # (lm_ppl_sql_ctes — the same block the corpus_pipeline_e2e oracle
    # composes, so the standalone face and the pipeline stage cannot
    # desynchronize): ':lm'-salted 4096 buckets, train = ':lmT' 10%
    # hash subset, all three scoring branches, round(-avg(ln p), 5),
    # ntile(3) tiers ordered by (rounded score, doc_id)
    from schema_drift_detector_spark.operators.quality_lm import lm_ppl_sql_ctes

    ppl = f"""
WITH pl AS (
  SELECT doc_id, CASE WHEN doc_id % 97 = 3 THEN NULL ELSE text END AS text
  FROM documents
), {lm_ppl_sql_ctes('lm', 'pl')}
SELECT doc_id, avg_nll, n_scored, n_backoff, ppl_tier FROM lmtier
"""
    # supervised-NB replay from the SHARED CTE builder (nb_sql_ctes):
    # the planted fixture (_NB_LABEL_CASE / _NB_MARKER_CASE mirror the
    # entry's Column expressions), the ':nbT' 30% train hash, 4096
    # ':nb'-salted buckets, add-0.5 smoothing, rounded per-class sums,
    # name-ordered argmax, and the winner-runner-up margin
    from schema_drift_detector_spark.operators.classify import nb_sql_ctes

    nb_train_pred = (
        f"{hash_bucket_sql('CAST(doc_id AS VARCHAR)', salt=':nbT')} < 300000"
    )
    nb = f"""
WITH nbsrc AS MATERIALIZED (
  SELECT doc_id,
         CASE WHEN doc_id % 97 = 3 THEN NULL
              ELSE text || CASE WHEN doc_id % 7 <> 0 THEN {_NB_MARKER_CASE}
                                ELSE '' END
         END AS text,
         {_NB_LABEL_CASE} AS label
  FROM documents
), {nb_sql_ctes('nb', 'nbsrc', _NB_CLASSES, nb_train_pred)}
SELECT o.doc_id, s.label AS nb_label, o.nb_pred, o.nb_score, o.nb_margin
FROM nbout o JOIN nbsrc s USING (doc_id)
"""
    _NB_PAD = (
        "CAST(NULL AS VARCHAR) AS nb_label, CAST(NULL AS VARCHAR) AS nb_pred, "
        "CAST(NULL AS DOUBLE) AS nb_score, CAST(NULL AS DOUBLE) AS nb_margin"
    )
    return f"""
SELECT 'carve' AS face, doc_id, lang, split, q_keep,
       CAST(NULL AS VARCHAR) AS source, CAST(NULL AS DOUBLE) AS dsir_score,
       CAST(NULL AS BOOLEAN) AS selected, {_NB_PAD},
       CAST(NULL AS DOUBLE) AS avg_nll, CAST(NULL AS BIGINT) AS n_scored,
       CAST(NULL AS BIGINT) AS n_backoff, CAST(NULL AS VARCHAR) AS ppl_tier
FROM ({carve})
UNION ALL
SELECT 'dsir' AS face, doc_id, CAST(NULL AS VARCHAR) AS lang,
       CAST(NULL AS VARCHAR) AS split, CAST(NULL AS BOOLEAN) AS q_keep,
       source, dsir_score, selected, {_NB_PAD},
       CAST(NULL AS DOUBLE) AS avg_nll, CAST(NULL AS BIGINT) AS n_scored,
       CAST(NULL AS BIGINT) AS n_backoff, CAST(NULL AS VARCHAR) AS ppl_tier
FROM ({dsir})
UNION ALL
SELECT 'ppl' AS face, doc_id, CAST(NULL AS VARCHAR) AS lang,
       CAST(NULL AS VARCHAR) AS split, CAST(NULL AS BOOLEAN) AS q_keep,
       CAST(NULL AS VARCHAR) AS source, CAST(NULL AS DOUBLE) AS dsir_score,
       CAST(NULL AS BOOLEAN) AS selected, {_NB_PAD},
       avg_nll, n_scored, n_backoff, ppl_tier
FROM ({ppl})
UNION ALL
SELECT 'nb' AS face, doc_id, CAST(NULL AS VARCHAR) AS lang,
       CAST(NULL AS VARCHAR) AS split, CAST(NULL AS BOOLEAN) AS q_keep,
       CAST(NULL AS VARCHAR) AS source, CAST(NULL AS DOUBLE) AS dsir_score,
       CAST(NULL AS BOOLEAN) AS selected,
       nb_label, nb_pred, nb_score, nb_margin,
       CAST(NULL AS DOUBLE) AS avg_nll, CAST(NULL AS BIGINT) AS n_scored,
       CAST(NULL AS BIGINT) AS n_backoff, CAST(NULL AS VARCHAR) AS ppl_tier
FROM ({nb})
"""


def q_source_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus balancing, both cap units in one entry tagged by `face`:
    'docs_cap' = at most 10 DOCUMENTS per source (cap_per_group);
    'token_budget' (r6) = at most 400 TOKENS per source
    (take_token_budget — the data-mixing primitive: mixture ratios are
    token ratios, so each source contributes a greedy deterministic
    prefix in (hash, doc_id) order whose running token total stays
    within budget). Both caps BIND on every source at sf0.01 (25 docs
    ≈ 1350 tokens each), and DuckDB replays the exact member sets.

    'reputation' (late r7) — RefinedWeb-style SOURCE-level governance
    (source_reputation): per-source mean quality evidence, the
    (mean desc, source asc) rank over eligible sources, and the
    top-half keep verdict; source NULL-planted on doc_id % 101 == 5
    (documents has none) to pin the unattributed-docs-are-ineligible
    contract. Evidence, ranks, AND verdicts are hash-certified.
    Gated: keep both-valued, the NULL-source row present, means vary.

    'temperature' (late r7) — mT5-style temperature-scaled mixture
    sampling (temperature_mix, quotas ∝ size**0.3) over PLANTED skewed
    strata (doc_id%16 → mega 10/16, mid 4/16, small+tiny 1/16 each;
    %101==5 → NULL stratum) — documents' natural sources are
    near-uniform, so alpha would not bind on them. Certified: the
    exact per-stratum prefix member sets under the pinned quota rule.
    Gated: null-stratum plants dropped, some stratum truncated, and
    the small stratum's kept share EXCEEDS its raw share (alpha<1
    upweighting actually bound)."""
    from schema_drift_detector_spark.operators.reputation import source_reputation
    from schema_drift_detector_spark.operators.sampling import (
        cap_per_group,
        take_token_budget,
        temperature_mix,
    )
    from schema_drift_detector_spark.functions.text import token_count

    docs = _t(spark, sf_dir, "documents")

    def _rep_pad():
        return (
            F.lit(None).cast("bigint").alias("n_docs"),
            F.lit(None).cast("double").alias("mean_score"),
            F.lit(None).cast("int").alias("rep_rank"),
            F.lit(None).cast("boolean").alias("keep"),
        )

    capped = cap_per_group(docs, "source", "doc_id", 10).select(
        F.lit("docs_cap").alias("face"), "doc_id", "source", *_rep_pad()
    )
    n_tok = F.when(F.col("text").isNull(), 0).otherwise(token_count("text"))
    budgeted = take_token_budget(
        docs.withColumn("__nt", n_tok), "source", "doc_id", "__nt", 400
    ).select(F.lit("token_budget").alias("face"), "doc_id", "source", *_rep_pad())
    planted = docs.select(
        "doc_id",
        "text",
        F.when(F.col("doc_id") % 101 == 5, F.lit(None).cast("string"))
        .otherwise(F.col("source"))
        .alias("source"),
    )
    rep = source_reputation(planted, "source", keep_frac=0.5, min_docs=2).select(
        F.lit("reputation").alias("face"),
        F.lit(None).cast("long").alias("doc_id"),
        "source",
        "n_docs",
        "mean_score",
        "rep_rank",
        "keep",
    )
    strata = docs.select("doc_id", _strat_col().alias("stratum"))
    # ONE sizes aggregation serves the mixture total, the truncation
    # gate, and the upweighting gate (review catch: count() here plus a
    # second groupBy collect in the gate was the same job twice)
    sizes = {
        r["stratum"]: r["n"]
        for r in strata.filter(F.col("stratum").isNotNull())
        .groupBy("stratum")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    n_strat = sum(sizes.values())
    mixed = temperature_mix(
        strata, "stratum", "doc_id", n_strat // 4, alpha=0.3
    ).select(
        F.lit("temperature").alias("face"),
        "doc_id",
        F.col("stratum").alias("source"),
        *_rep_pad(),
    )
    out = (
        capped.unionByName(budgeted)
        .unionByName(rep)
        .unionByName(mixed)
        .localCheckpoint(eager=True)
    )
    n_docs = docs.count()
    n_budget = out.filter(F.col("face") == "token_budget").count()
    if not (0 < n_budget < n_docs):
        raise RuntimeError(
            f"vacuous token budget: kept {n_budget} of {n_docs} docs"
        )
    rf = out.filter(F.col("face") == "reputation")
    rst = rf.agg(
        F.count(F.when(F.col("keep"), 1)).alias("nk"),
        F.count(F.when(~F.col("keep"), 1)).alias("nd"),
        F.count(F.when(F.col("source").isNull(), 1)).alias("nnull"),
        F.count_distinct("mean_score").alias("nm"),
    ).first()
    if not (rst.nk > 0 and rst.nd > 0 and rst.nnull == 1 and rst.nm > 1):
        raise RuntimeError(
            f"vacuous reputation certification: verdicts/evidence degenerate ({rst})"
        )
    n_null_plant = docs.filter(F.col("doc_id") % 101 == 5).count()
    tf = out.filter(F.col("face") == "temperature")
    if n_null_plant == 0 or tf.filter(F.col("doc_id") % 101 == 5).count() != 0:
        raise RuntimeError(
            "vacuous temperature certification: no NULL-stratum plants in the "
            "input, or a planted row leaked into the mixture"
        )
    kept = {
        r["source"]: r["n"]
        for r in tf.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    if not any(kept.get(s, 0) < n for s, n in sizes.items()):
        raise RuntimeError(
            f"vacuous temperature certification: no stratum truncated {kept=} {sizes=}"
        )
    tk, ts = sum(kept.values()), sum(sizes.values())
    if not kept.get("small", 0) / tk > sizes["small"] / ts:
        raise RuntimeError(
            "vacuous temperature certification: alpha<1 upweighting did not "
            f"bind (small kept share {kept.get('small', 0) / tk:.4f} <= raw "
            f"share {sizes['small'] / ts:.4f})"
        )
    return out


# the planted-strata rule shared by the entry's Spark plan, the bare
# bench helper, and (as _STRAT_CASE) the DuckDB oracle: doc_id%16
# carves skewed mega/mid/small/tiny strata, doc_id%101==5 plants the
# NULL (unattributable) stratum on top
def _strat_col() -> Column:
    return (
        F.when(F.col("doc_id") % 101 == 5, F.lit(None).cast("string"))
        .when(F.col("doc_id") % 16 < 10, F.lit("mega"))
        .when(F.col("doc_id") % 16 < 14, F.lit("mid"))
        .when(F.col("doc_id") % 16 == 14, F.lit("small"))
        .otherwise(F.lit("tiny"))
    )


_STRAT_CASE = (
    "CASE WHEN doc_id % 101 = 5 THEN NULL "
    "WHEN doc_id % 16 < 10 THEN 'mega' "
    "WHEN doc_id % 16 < 14 THEN 'mid' "
    "WHEN doc_id % 16 = 14 THEN 'small' "
    "ELSE 'tiny' END"
)


def q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench row: the bare 'temperature' face plan (stratum plant →
    size count → integer-pinned pow quotas → broadcast → hash-prefix
    pick), without the merged source_quota entry's other faces, gates,
    or checkpoint. The size count() is part of the operator's real
    cost and is priced here."""
    from schema_drift_detector_spark.operators.sampling import temperature_mix

    strata = _t(spark, sf_dir, "documents").select(
        "doc_id", _strat_col().alias("stratum")
    )
    n = strata.filter(F.col("stratum").isNotNull()).count()
    return temperature_mix(strata, "stratum", "doc_id", n // 4, alpha=0.3)


# pads for the 'reputation' face's four columns on the doc-level faces
_REP_PAD = (
    "CAST(NULL AS BIGINT) AS n_docs, CAST(NULL AS DOUBLE) AS mean_score, "
    "CAST(NULL AS INTEGER) AS rep_rank, CAST(NULL AS BOOLEAN) AS keep"
)

# null-key rows pass through unchanged (exempt from both caps) — the
# UNION ALL branches mirror the passthrough contract even though
# sf-synth documents have no null doc_id (the branches are empty here;
# the unit tests exercise them with real nulls). The 'reputation' face
# replays source_reputation over NULL-planted sources: per-source mean
# of the shared ORACLE_QUALITY score, eligibility (non-NULL source,
# n_docs >= 2), the (mean desc NULLS LAST, source asc) rank, and the
# ceil(0.5 * n_eligible) keep cut (false AND NULL = false pins the
# ineligible verdict in both engines). A function, not a constant:
# it embeds ORACLE_QUALITY, defined later in this module.
def _oracle_source_quota() -> str:
    from schema_drift_detector_spark.operators.sampling import (
        temperature_quota_sql,
        temperature_weight_sql,
    )

    return f"""
SELECT 'docs_cap' AS face, doc_id, source, {_REP_PAD} FROM documents
WHERE doc_id IS NOT NULL
QUALIFY row_number() OVER (
  PARTITION BY source
  ORDER BY {hash_bucket_sql('CAST(doc_id AS VARCHAR)', salt=':quota')} ASC,
           doc_id ASC
) <= 10
UNION ALL
SELECT 'docs_cap' AS face, doc_id, source, {_REP_PAD}
FROM documents WHERE doc_id IS NULL
UNION ALL
SELECT 'token_budget' AS face, doc_id, source, {_REP_PAD} FROM (
  SELECT doc_id, source,
         sum(coalesce(len(string_split(text, ' ')), 0)) OVER (
           PARTITION BY source
           ORDER BY {hash_bucket_sql('CAST(doc_id AS VARCHAR)', salt=':budget')} ASC,
                    doc_id ASC
           ROWS UNBOUNDED PRECEDING) AS cum
  FROM documents WHERE doc_id IS NOT NULL) b
WHERE cum <= 400
UNION ALL
SELECT 'token_budget' AS face, doc_id, source, {_REP_PAD}
FROM documents WHERE doc_id IS NULL
UNION ALL
SELECT 'reputation' AS face, CAST(NULL AS BIGINT) AS doc_id,
       source, n_docs, mean_score, rep_rank,
       (elig AND rep_rank <= ceil(0.5 * ne)) AS keep
FROM (
  SELECT source, n_docs, mean_score, elig,
         CASE WHEN elig THEN CAST(row_number() OVER (
           PARTITION BY elig
           ORDER BY mean_score DESC NULLS LAST, source ASC) AS INTEGER)
         END AS rep_rank,
         count(*) OVER (PARTITION BY elig) AS ne
  FROM (
    SELECT pd.source, count(*) AS n_docs,
           round(avg(q.quality), 6) AS mean_score,
           (pd.source IS NOT NULL AND count(*) >= 2) AS elig
    FROM (SELECT doc_id,
                 CASE WHEN doc_id % 101 = 5 THEN NULL ELSE source END AS source
          FROM documents) pd
    JOIN ({ORACLE_QUALITY}) q USING (doc_id)
    GROUP BY pd.source
  )
)
UNION ALL
-- 'temperature': temperature_mix's verbatim replay — per-stratum sizes
-- over the planted strata, integer micro-weights round(pow(n,0.3)*1e6)
-- (the ONLY transcendental, pinned to BIGINT immediately), quota =
-- greatest(1, floor(total * w/sumw)) with total = floor(n_strat/4),
-- then each stratum's deterministic (hash, doc_id)-prefix. NULL-stratum
-- plants never join (CASE yields NULL; inner join drops them).
SELECT 'temperature' AS face, s.doc_id, s.stratum AS source, {_REP_PAD}
FROM (
  SELECT doc_id, stratum,
         row_number() OVER (
           PARTITION BY stratum
           ORDER BY {hash_bucket_sql('CAST(doc_id AS VARCHAR)', salt=':mix')} ASC,
                    doc_id ASC) AS rn
  FROM (SELECT doc_id, {_STRAT_CASE} AS stratum FROM documents)
  WHERE stratum IS NOT NULL
) s
JOIN (
  SELECT stratum,
         {temperature_quota_sql(
             "CAST(floor(CAST(sum(n) OVER () AS DOUBLE) / 4) AS BIGINT)",
             "w", "sum(w) OVER ()")} AS quota
  FROM (
    SELECT stratum, n, {temperature_weight_sql("n", 0.3)} AS w
    FROM (
      SELECT {_STRAT_CASE} AS stratum, CAST(count(*) AS BIGINT) AS n
      FROM documents GROUP BY 1
    ) WHERE stratum IS NOT NULL
  )
) q ON s.stratum = q.stratum
WHERE s.rn <= q.quota
"""


def q_heavy_hitter_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key detection (the input to the salting decision) without
    shuffling the key universe: frequent-items sketch pass → broadcast
    exact recount of candidates only. The output is EXACT (keys with
    count·1000 ≥ 7·N — phi=0.007 as the rational 7/1000, integer
    arithmetic both sides), so the oracle is a plain integer filter —
    equality certifies the sketch's recall guarantee end-to-end."""
    from schema_drift_detector_spark.operators.skew import heavy_hitters

    ev = _t(spark, sf_dir, "events")
    return heavy_hitters(ev, "user_id", phi=0.007)


# Exact rational threshold on BOTH sides: phi=0.007 is snapped to
# 7/1000 (skew.py Fraction.limit_denominator), so the filter is
# n*1000 >= 7*N in integers — no IEEE boundary flip (70.000...01 →
# ceil 71) on either engine. ADVICE r3.
ORACLE_HEAVY_HITTER_USERS = """
WITH t AS (SELECT CAST(count(*) AS BIGINT) AS N FROM events WHERE user_id IS NOT NULL),
c AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_occurrences
  FROM events WHERE user_id IS NOT NULL GROUP BY 1
)
SELECT c.user_id, c.n_occurrences, c.n_occurrences / t.N AS share
FROM c, t
WHERE c.n_occurrences * 1000 >= 7 * t.N
"""


def q_totalprice_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from schema_drift_detector_spark.operators.profile import numeric_histogram

    orders = _t(spark, sf_dir, "orders")
    return numeric_histogram(orders, "o_totalprice", 0.0, 600000.0, 12, group_cols=[])


ORACLE_HISTOGRAM = """
SELECT CAST(least(greatest(floor(o_totalprice / 50000.0), 0), 11) AS INT) AS bin,
       count(*) AS bin_count
FROM orders WHERE o_totalprice IS NOT NULL GROUP BY 1
"""


def q_distribution_drift_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from schema_drift_detector_spark.operators.constraints import drift_statistics
    from schema_drift_detector_spark.operators.profile import numeric_histogram

    ev = _t(spark, sf_dir, "events")
    base = numeric_histogram(
        ev.filter(F.col("event_id") % 2 == 0), "value", 0.0, 100.0, 10, ["event_type"]
    )
    curr = numeric_histogram(
        ev.filter(F.col("event_id") % 2 == 1), "value", 0.0, 100.0, 10, ["event_type"]
    )
    stats = drift_statistics(base, curr, ["event_type"])
    return stats.select(
        "event_type",
        F.round("ks_stat", 6).alias("ks_stat"),
        F.round("chi2_stat", 3).alias("chi2_stat"),
        F.col("n_base").cast("long").alias("n_base"),
        F.col("n_curr").cast("long").alias("n_curr"),
        F.col("n_bins").cast("long").alias("n_bins"),
    )


ORACLE_DRIFT_EVENTS = """
WITH b AS (
  SELECT event_type, CAST(least(greatest(floor(value / 10.0), 0), 9) AS INT) AS bin,
         count(*) AS b_cnt
  FROM events WHERE event_id % 2 = 0 AND value IS NOT NULL GROUP BY 1, 2
), c AS (
  SELECT event_type, CAST(least(greatest(floor(value / 10.0), 0), 9) AS INT) AS bin,
         count(*) AS c_cnt
  FROM events WHERE event_id % 2 = 1 AND value IS NOT NULL GROUP BY 1, 2
), j AS (
  SELECT coalesce(b.event_type, c.event_type) AS event_type,
         coalesce(b.bin, c.bin) AS bin,
         coalesce(b_cnt, 0) AS b_cnt, coalesce(c_cnt, 0) AS c_cnt
  FROM b FULL OUTER JOIN c ON b.event_type = c.event_type AND b.bin = c.bin
), w AS (
  SELECT event_type, bin, b_cnt, c_cnt,
         sum(b_cnt) OVER (PARTITION BY event_type) AS b_tot,
         sum(c_cnt) OVER (PARTITION BY event_type) AS c_tot,
         sum(b_cnt) OVER (PARTITION BY event_type ORDER BY bin
                          ROWS UNBOUNDED PRECEDING) AS b_run,
         sum(c_cnt) OVER (PARTITION BY event_type ORDER BY bin
                          ROWS UNBOUNDED PRECEDING) AS c_run
  FROM j
)
SELECT event_type,
       round(max(abs(b_run * 1.0 / b_tot - c_run * 1.0 / c_tot)), 6) AS ks_stat,
       round(sum(pow(c_cnt - greatest(b_cnt * 1.0 / b_tot * c_tot, 0.5), 2)
                 / greatest(b_cnt * 1.0 / b_tot * c_tot, 0.5)), 3) AS chi2_stat,
       CAST(max(b_tot) AS BIGINT) AS n_base,
       CAST(max(c_tot) AS BIGINT) AS n_curr,
       count(*) AS n_bins
FROM w GROUP BY event_type
"""


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style wide aggregation — the canonical partial+final
    hash-agg shape every profile pass reuses. Double sums rounded to
    absorb summation-order ULP differences vs the oracle."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "sum_disc_price"
            ),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


ORACLE_PRICING = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(avg(l_quantity), 4) AS avg_qty,
       round(avg(l_discount), 6) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-style: 3-way join → per-order revenue → deterministic
    top-20 (rounded revenue desc, orderkey asc)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .filter(F.col("o_orderstatus") == "O")
        .groupBy("o_orderkey", "o_custkey")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(20)
    )


ORACLE_TOP_REVENUE = """
SELECT o_orderkey, o_custkey,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              JOIN customer ON o_custkey = c_custkey
WHERE o_orderstatus = 'O'
GROUP BY o_orderkey, o_custkey
ORDER BY revenue DESC, o_orderkey ASC
LIMIT 20
"""


def q_pricing_summary_merged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both TPC-H-style aggregation certifications in one entry, tagged
    by `face` ('q1' = wide partial+final hash-agg; 'top_revenue' =
    3-way join → deterministic top-20). Merged in r7 under the 50-row
    driver attestation cap to make room for `corpus_pipeline_e2e`;
    each face keeps its exact DuckDB replay (the merge recipe from r6:
    tag + null-pad + union)."""
    q1 = q_pricing_summary(spark, sf_dir).select(
        F.lit("q1").alias("face"),
        "l_returnflag",
        "l_linestatus",
        "sum_qty",
        "sum_base_price",
        "sum_disc_price",
        "avg_qty",
        "avg_disc",
        F.col("count_order").cast("bigint").alias("count_order"),
        F.lit(None).cast("bigint").alias("o_orderkey"),
        F.lit(None).cast("bigint").alias("o_custkey"),
        F.lit(None).cast("double").alias("revenue"),
    )
    top = q_top_revenue_orders(spark, sf_dir).select(
        F.lit("top_revenue").alias("face"),
        F.lit(None).cast("string").alias("l_returnflag"),
        F.lit(None).cast("string").alias("l_linestatus"),
        F.lit(None).cast("double").alias("sum_qty"),
        F.lit(None).cast("double").alias("sum_base_price"),
        F.lit(None).cast("double").alias("sum_disc_price"),
        F.lit(None).cast("double").alias("avg_qty"),
        F.lit(None).cast("double").alias("avg_disc"),
        F.lit(None).cast("bigint").alias("count_order"),
        "o_orderkey",
        "o_custkey",
        "revenue",
    )
    return q1.unionByName(top)


def _oracle_pricing_summary_merged() -> str:
    return f"""
SELECT 'q1' AS face, l_returnflag, l_linestatus, sum_qty, sum_base_price,
       sum_disc_price, avg_qty, avg_disc, CAST(count_order AS BIGINT) AS count_order,
       CAST(NULL AS BIGINT) AS o_orderkey, CAST(NULL AS BIGINT) AS o_custkey,
       CAST(NULL AS DOUBLE) AS revenue
FROM ({ORACLE_PRICING})
UNION ALL
SELECT 'top_revenue', NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL,
       o_orderkey, o_custkey, revenue
FROM ({ORACLE_TOP_REVENUE})
"""


def q_nation_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-dimensional aggregation, both grouping-set shapes in one
    entry tagged by `shape`: ROLLUP (hierarchical subtotals + grand
    total) and CUBE (r6: every grouping-set combination, including the
    nation-only marginals ROLLUP lacks). Disambiguation: a NULL in a
    grouping column can mean 'subtotal' or a genuinely-NULL value —
    both engines expose the grouping-id bitmask (Spark F.grouping_id,
    DuckDB GROUPING()), certified alongside the aggregates."""
    region = _t(spark, sf_dir, "region")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    joined = (
        orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
    )
    aggs = [
        F.grouping_id().cast("long").alias("gid"),
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.max("o_totalprice"), 2).alias("max_price"),
    ]
    ru = joined.rollup("r_name", "n_name").agg(*aggs).select(
        F.lit("rollup").alias("shape"), "*"
    )
    cu = joined.cube("r_name", "n_name").agg(*aggs).select(
        F.lit("cube").alias("shape"), "*"
    )
    # late-r7: EXPLICIT grouping sets — the marginals-only set
    # {(r_name), (n_name)} that neither ROLLUP nor CUBE can express
    # alone (no detail rows, no grand total)
    gs = (
        joined.groupingSets([["r_name"], ["n_name"]], "r_name", "n_name")
        .agg(*aggs)
        .select(F.lit("sets").alias("shape"), "*")
    )
    return ru.unionByName(cu).unionByName(gs)


ORACLE_NATION_ROLLUP = """
WITH j AS (
  SELECT r_name, n_name, o_totalprice
  FROM orders JOIN customer ON o_custkey = c_custkey
              JOIN nation ON c_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey
)
SELECT 'rollup' AS shape, r_name, n_name,
       CAST(GROUPING(r_name) * 2 + GROUPING(n_name) AS BIGINT) AS gid,
       count(*) AS n_orders, round(max(o_totalprice), 2) AS max_price
FROM j GROUP BY ROLLUP (r_name, n_name)
UNION ALL
SELECT 'cube' AS shape, r_name, n_name,
       CAST(GROUPING(r_name) * 2 + GROUPING(n_name) AS BIGINT) AS gid,
       count(*) AS n_orders, round(max(o_totalprice), 2) AS max_price
FROM j GROUP BY CUBE (r_name, n_name)
UNION ALL
SELECT 'sets' AS shape, r_name, n_name,
       CAST(GROUPING(r_name) * 2 + GROUPING(n_name) AS BIGINT) AS gid,
       count(*) AS n_orders, round(max(o_totalprice), 2) AS max_price
FROM j GROUP BY GROUPING SETS ((r_name), (n_name))
"""


def q_sessionize_events__sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 'sessions' face (bare plan; the whole entry through late-r7):
    gap-based sessionization (30-min inactivity) per user — the
    window/lag pattern used for event-stream lineage."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    # ts is TIMESTAMP_NTZ; session tz is UTC so the epoch is well-defined
    epoch = F.col("ts").cast("timestamp").cast("long")
    gap = epoch - F.lag(epoch).over(w)
    with_sess = ev.withColumn(
        "new_sess", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    ).withColumn("session_seq", F.sum("new_sess").over(
        w.rowsBetween(Window.unboundedPreceding, 0)
    ))
    return with_sess.groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("event_id").alias("first_event"),
        F.max("event_id").alias("last_event"),
    )


_RESAMPLE_STEP = 21_600  # 6h buckets over the 30-day events span


def q_sessionize_events__resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 'resample' face (bare plan; late-r7): fixed-step bucketing
    + LOCF gap-fill (operators/resample.py) per user over events.value
    — the time-series densification pass. The fixture carries NO
    natural NULL values (verified — a review pass caught the first
    draft claiming otherwise), so every 43rd event's value is NULLed
    (planted, mirrored in the oracle): a regression in the
    NULL-is-a-gap filter would then carry or emit NULLs and
    hash-mismatch. value rounds at 6dp (the carried double is a single
    observation, not a sum — rounding only pins the replay)."""
    from schema_drift_detector_spark.operators.resample import resample_locf

    ev = _t(spark, sf_dir, "events").withColumn(
        "value",
        F.when(F.col("event_id") % 43 == 0, F.lit(None).cast("double")).otherwise(
            F.col("value")
        ),
    )
    out = resample_locf(
        ev,
        group_col="user_id",
        ts_col="ts",
        value_col="value",
        tiebreak_col="event_id",
        step=_RESAMPLE_STEP,
    )
    return out.select(
        "user_id", "bucket_ts", F.round("value", 6).alias("value"), "observed"
    )


def q_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event time-series operators in one entry, tagged by `face`:
    'sessions' = gap-based sessionization (the ≤late-r7 single-face
    frame), 'resample' = fixed-step LOCF gap-fill densification
    (late-r7). Gate: the resample face must contain FILLED rows
    (observed = false) — an all-observed output would certify the
    carry-forward vacuously."""
    sess = q_sessionize_events__sessions(spark, sf_dir).select(
        F.lit("sessions").alias("face"),
        "user_id",
        "session_seq",
        "n_events",
        "first_event",
        "last_event",
        F.lit(None).cast("bigint").alias("bucket_ts"),
        F.lit(None).cast("double").alias("value"),
        F.lit(None).cast("boolean").alias("observed"),
    )
    rs = q_sessionize_events__resample(spark, sf_dir).localCheckpoint(eager=True)
    if rs.filter(~F.col("observed")).limit(1).count() == 0:
        raise RuntimeError("vacuous resample fixture: no gap was filled")
    rs_face = rs.select(
        F.lit("resample").alias("face"),
        "user_id",
        F.lit(None).cast("bigint").alias("session_seq"),
        F.lit(None).cast("bigint").alias("n_events"),
        F.lit(None).cast("bigint").alias("first_event"),
        F.lit(None).cast("bigint").alias("last_event"),
        "bucket_ts",
        "value",
        "observed",
    )
    return sess.unionByName(rs_face)


ORACLE_SESSIONIZE = """
WITH g AS (
  SELECT user_id, event_id, ts,
         CASE WHEN epoch(ts) - lag(epoch(ts)) OVER w IS NULL
                OR epoch(ts) - lag(epoch(ts)) OVER w > 1800 THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
), s AS (
  SELECT user_id, event_id,
         CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
  FROM g
)
SELECT user_id, session_seq, count(*) AS n_events,
       min(event_id) AS first_event, max(event_id) AS last_event
FROM s GROUP BY user_id, session_seq
"""


# exact replay of q_sessionize_events__resample: per-(user, bucket)
# last observation by total (epoch, event_id) order, per-user skeleton
# via inclusive generate_series, LOCF via IGNORE NULLS running window
ORACLE_RESAMPLE = f"""
WITH pts AS (
  SELECT user_id AS g, CAST(floor(epoch(ts)) AS BIGINT) AS e,
         event_id AS t, value AS v
  FROM (
    SELECT user_id, ts, event_id,
           CASE WHEN event_id % 43 = 0 THEN NULL ELSE value END AS value
    FROM events
  )
  WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL
),
obs AS (
  -- positive-mod floor alignment (DuckDB % is sign-of-dividend too;
  -- mirrors the operator's pmod — matters only for pre-1970 epochs)
  SELECT g, e - (((e % {_RESAMPLE_STEP}) + {_RESAMPLE_STEP}) % {_RESAMPLE_STEP}) AS b, v
  FROM pts
  QUALIFY row_number() OVER (
      PARTITION BY g, e - (((e % {_RESAMPLE_STEP}) + {_RESAMPLE_STEP}) % {_RESAMPLE_STEP})
      ORDER BY e DESC, t DESC) = 1
),
bounds AS (SELECT g, min(b) AS lo, max(b) AS hi FROM obs GROUP BY g),
sk AS (
  SELECT g, unnest(generate_series(lo, hi, {_RESAMPLE_STEP})) AS b FROM bounds
)
SELECT sk.g AS user_id, sk.b AS bucket_ts,
       round(last_value(o.v IGNORE NULLS) OVER (PARTITION BY sk.g ORDER BY sk.b
                                                ROWS UNBOUNDED PRECEDING), 6) AS value,
       o.v IS NOT NULL AS observed
FROM sk LEFT JOIN obs o ON o.g = sk.g AND o.b = sk.b
"""


def _oracle_sessionize_merged() -> str:
    return f"""
SELECT 'sessions' AS face, user_id, session_seq, n_events, first_event, last_event,
       CAST(NULL AS BIGINT) AS bucket_ts, CAST(NULL AS DOUBLE) AS value,
       CAST(NULL AS BOOLEAN) AS observed
FROM ({ORACLE_SESSIONIZE})
UNION ALL
SELECT 'resample' AS face, user_id, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
       CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
       bucket_ts, value, observed
FROM ({ORACLE_RESAMPLE})
"""


# --------------------------------------------------------------------------
# Dedup / text-analysis family over documents + events
# --------------------------------------------------------------------------

def q_exact_dedup_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bare ≤r7 plan (min-id survivor groups) — the unbroken BENCH row;
    the BOARD entry is the two-face union below."""
    from schema_drift_detector_spark.operators.dedup import exact_duplicates

    return exact_duplicates(_t(spark, sf_dir, "events"), "event_id", "props")


def _q_exact_dedup_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Board entry, two survivor rules tagged by `face`:
    'groups' — min-id survivor (the ≤r7 single face);
    'best' (late r7) — RANKED survivor via exact_duplicates_best: keep
    the freshest copy (latest ts), ts NULL-planted on event_id % 53 == 0
    (events has no natural NULLs) so the NULL-ranks-lowest contract is
    exercised, min-id tiebreak. Gated: the two rules must disagree on
    some group AND some duplicate group must contain a planted NULL."""
    from schema_drift_detector_spark.operators.dedup import (
        exact_duplicates,
        exact_duplicates_best,
    )

    ev = _t(spark, sf_dir, "events")
    groups = exact_duplicates(ev, "event_id", "props").select(
        F.lit("groups").alias("face"), "fingerprint", "n_docs", "keep_id"
    )
    planted = ev.select(
        "event_id",
        "props",
        F.when(F.col("event_id") % 53 == 0, F.lit(None).cast("timestamp"))
        .otherwise(F.col("ts").cast("timestamp"))
        .alias("ts"),
    )
    best = exact_duplicates_best(
        planted, "event_id", "props", F.col("ts").cast("long")
    ).select(F.lit("best").alias("face"), "fingerprint", "n_docs", "keep_id")
    out = groups.unionByName(best).localCheckpoint(eager=True)
    disagree = (
        out.groupBy("fingerprint")
        .agg(F.count_distinct("keep_id").alias("k"))
        .filter(F.col("k") == 2)
        .limit(1)
        .count()
    )
    null_in_group = (
        planted.groupBy("props")
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.count(F.when(F.col("ts").isNull(), 1)).alias("nn"),
        )
        .filter((F.col("c") > 1) & (F.col("nn") > 0))
        .limit(1)
        .count()
    )
    if not (disagree and null_in_group):
        raise RuntimeError(
            "vacuous survivor-rule certification: rules never disagree or "
            f"no planted NULL landed in a duplicate group ({disagree=}, {null_in_group=})"
        )
    return out


# 'best' replay: latest planted ts wins (NULLS LAST = the engine's
# NULL-ranks-lowest), id-asc tiebreak; floor(epoch()) mirrors Spark's
# flooring timestamp->long cast (DuckDB CAST would round)
ORACLE_EXACT_DEDUP = """
SELECT 'groups' AS face, md5(props) AS fingerprint,
       count(*) AS n_docs, min(event_id) AS keep_id
FROM events GROUP BY props HAVING count(*) > 1
UNION ALL
SELECT 'best' AS face, fingerprint, n_docs, keep_id FROM (
  SELECT md5(props) AS fingerprint, event_id AS keep_id,
         count(*) OVER (PARTITION BY props) AS n_docs,
         row_number() OVER (
           PARTITION BY props
           ORDER BY floor(epoch(CASE WHEN event_id % 53 = 0 THEN NULL
                                     ELSE ts END)) DESC NULLS LAST,
                    event_id ASC) AS rn
  FROM events) WHERE rn = 1 AND n_docs > 1
"""


def q_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from schema_drift_detector_spark.operators.dedup import ngram_jaccard_pairs

    docs = _t_fan(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", n=5, threshold=0.5)
    return pairs.select("doc_a", "doc_b", "common", F.round("jaccard", 6).alias("jaccard"))


ORACLE_JACCARD = """
WITH sh AS (
  SELECT DISTINCT doc_id, substr(text, CAST(i AS INT), 5) AS s
  FROM documents, unnest(generate_series(1, greatest(len(text) - 4, 1))) t(i)
), sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2
)
SELECT doc_a, doc_b, common,
       round(common * 1.0 / (sa.n + sb.n - common), 6) AS jaccard
FROM pairs JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
WHERE common * 1.0 / (sa.n + sb.n - common) >= 0.5
"""


def q_jaccard_pairs_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard restricted to a deterministic 1/10 sample — the
    all-pairs form is the verification path, not the scale path (that is
    minhash_lsh_pairs), so the benchmarked variant bounds the self-join."""
    from schema_drift_detector_spark.operators.dedup import ngram_jaccard_pairs

    docs = _t_fan(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    # threshold 0.2, not 0.5: the synthetic near-dup pairs have arbitrary
    # ids, so a 1/10 sample rarely keeps both ends of a >=0.5 pair and the
    # certified result set would be EMPTY (a vacuous hash match). At 0.2
    # the sample's organic mid-similarity pairs survive, so the
    # certification exercises real rows. Same plan either way.
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", n=5, threshold=0.2)
    return pairs.select("doc_a", "doc_b", "common", F.round("jaccard", 6).alias("jaccard"))


ORACLE_JACCARD_SAMPLE = """
WITH sh AS (
  SELECT DISTINCT doc_id, substr(text, CAST(i AS INT), 5) AS s
  FROM documents, unnest(generate_series(1, greatest(len(text) - 4, 1))) t(i)
  WHERE doc_id % 10 = 0
), sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2
)
SELECT doc_a, doc_b, common,
       round(common * 1.0 / (sa.n + sb.n - common), 6) AS jaccard
FROM pairs JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
WHERE common * 1.0 / (sa.n + sb.n - common) >= 0.2
"""


def q_token_stats_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus reporting, two faces:

    'stats' — the token/char aggregate profile per lang (the ≤r7-early
    single-face output, unchanged).

    'distinctive' (late r7) — top-5 DISTINCTIVE terms per lang by
    TF-IDF (distinctive_terms: tf = the lang's token occurrences,
    df = corpus-wide docs containing the term, score = tf·ln((1+N)/
    (1+df)) — stopwords self-suppress). The synthetic corpus shares
    one vocabulary across langs (no natural distinctive term —
    verified), so a marker token ' langmark_<lang>' is PLANTED on
    doc_id % 5 == 0; the gate pins that every lang's rank-1 term is
    exactly its own marker, i.e. distinctiveness actually bound.

    'collocations' (late r7) — top-5 adjacent-token collocations per
    lang by PMI (pmi_collocations: Church & Hanks 1990 pointwise
    mutual information with the min_count=3 floor against the
    rare-pair PMI blow-up). The synthetic text is near-uniform random
    (no natural collocation signal), so the pair ' zyxcol qwvcol' is
    PLANTED on doc_id % 3 == 0 — always adjacent, never apart — and
    the gate pins every lang's rank-1 collocation is exactly it with
    positive PMI. Columns ride the distinctive face's: term = the
    bigram, tf = n_xy, score = pmi, df NULL."""
    stats = q_token_stats_by_lang__stats(spark, sf_dir)
    dist = q_token_stats_by_lang__distinctive(spark, sf_dir)
    coll = q_token_stats_by_lang__collocations(spark, sf_dir)
    out = (
        stats.withColumns(
            {
                "rank": F.lit(None).cast("int"),
                "term": F.lit(None).cast("string"),
                "tf": F.lit(None).cast("bigint"),
                "df": F.lit(None).cast("bigint"),
                "score": F.lit(None).cast("double"),
            }
        )
        .unionByName(
            dist.withColumns(
                {
                    "n_docs": F.lit(None).cast("bigint"),
                    "n_tokens_total": F.lit(None).cast("bigint"),
                    "avg_tokens": F.lit(None).cast("double"),
                    "max_chars": F.lit(None).cast("bigint"),
                }
            )
        )
        .unionByName(
            coll.withColumns(
                {
                    "n_docs": F.lit(None).cast("bigint"),
                    "n_tokens_total": F.lit(None).cast("bigint"),
                    "avg_tokens": F.lit(None).cast("double"),
                    "max_chars": F.lit(None).cast("bigint"),
                }
            )
        )
        .localCheckpoint(eager=True)
    )
    top1 = {
        r["lang"]: r["term"]
        for r in out.filter(F.col("face") == "distinctive")
        .filter(F.col("rank") == 1)
        .collect()
    }
    langs = [r[0] for r in out.filter(F.col("face") == "stats").select("lang").collect()]
    bad = {g: t for g, t in top1.items() if t != f"langmark_{g}"}
    if not langs or set(top1) != set(langs) or bad:
        raise RuntimeError(
            f"vacuous distinctive-terms certification: a lang's rank-1 term "
            f"is not its planted marker ({bad=} {top1=} {langs=})"
        )
    ctop = {
        (r["lang"]): (r["term"], r["score"])
        for r in out.filter(F.col("face") == "collocations")
        .filter(F.col("rank") == 1)
        .collect()
    }
    cbad = {
        g: v for g, v in ctop.items() if v[0] != "zyxcol qwvcol" or v[1] <= 0
    }
    if set(ctop) != set(langs) or cbad:
        raise RuntimeError(
            f"vacuous collocation certification: a lang's rank-1 pair is "
            f"not the planted collocation with positive PMI ({cbad=} {ctop=})"
        )
    return out


def q_token_stats_by_lang__stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 'stats' face PLAN (the ≤r7-early bench series continues
    here)."""
    from schema_drift_detector_spark.functions.text import token_count

    docs = _t(spark, sf_dir, "documents")
    return (
        docs.withColumn("n_tokens", token_count("text"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens_total"),
            F.round(F.sum("n_tokens") / F.count(F.lit(1)), 4).alias("avg_tokens"),
            F.max("n_chars").alias("max_chars"),
        )
        .select(F.lit("stats").alias("face"), "*")
    )


def q_token_stats_by_lang__distinctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 'distinctive' face PLAN (see the entry docstring)."""
    from schema_drift_detector_spark.operators.retrieval import distinctive_terms

    docs = _t_fan_big(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat("text", F.lit(" langmark_"), "lang"),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return distinctive_terms(docs, "lang", k=5).select(
        F.lit("distinctive").alias("face"), "lang", "rank", "term", "tf", "df", "score"
    )


def q_token_stats_by_lang__collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 'collocations' face PLAN (see the entry docstring)."""
    from schema_drift_detector_spark.operators.retrieval import pmi_collocations

    docs = _t_fan_big(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.when(
            F.col("doc_id") % 3 == 0, F.concat("text", F.lit(" zyxcol qwvcol"))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return pmi_collocations(docs, "lang", k=5, min_count=3).select(
        F.lit("collocations").alias("face"),
        "lang",
        "rank",
        F.col("bigram").alias("term"),
        F.col("n_xy").alias("tf"),
        F.lit(None).cast("bigint").alias("df"),
        F.col("pmi").alias("score"),
    )


def _oracle_token_stats() -> str:
    from schema_drift_detector_spark.operators.retrieval import (
        distinctive_terms_sql_ctes,
        pmi_collocations_sql_ctes,
    )

    dist = f"""
WITH planted AS (
  SELECT doc_id, lang,
         CASE WHEN doc_id % 5 = 0 THEN text || ' langmark_' || lang
              ELSE text END AS text
  FROM documents
), {distinctive_terms_sql_ctes("d_", "planted", "lang", k=5)}
SELECT grp AS lang, rank, term, tf, df, score FROM d_top
"""
    coll = f"""
WITH cplanted AS (
  SELECT lang,
         CASE WHEN doc_id % 3 = 0 THEN text || ' zyxcol qwvcol'
              ELSE text END AS text
  FROM documents
), {pmi_collocations_sql_ctes("c_", "cplanted", "lang", k=5, min_count=3)}
SELECT grp AS lang, rank, bigram AS term, n_xy AS tf, pmi AS score FROM c_top
"""
    return f"""
SELECT 'stats' AS face, lang, count(*) AS n_docs,
       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens_total,
       round(sum(len(string_split(text, ' '))) * 1.0 / count(*), 4) AS avg_tokens,
       max(n_chars) AS max_chars,
       CAST(NULL AS INT) AS rank, CAST(NULL AS VARCHAR) AS term,
       CAST(NULL AS BIGINT) AS tf, CAST(NULL AS BIGINT) AS df,
       CAST(NULL AS DOUBLE) AS score
FROM documents GROUP BY lang
UNION ALL
SELECT 'distinctive', lang, NULL, NULL, NULL, NULL,
       CAST(rank AS INT), term, tf, df, score
FROM ({dist})
UNION ALL
SELECT 'collocations', lang, NULL, NULL, NULL, NULL,
       CAST(rank AS INT), term, tf, CAST(NULL AS BIGINT) AS df, score
FROM ({coll})
"""


ORACLE_TOKEN_STATS = _oracle_token_stats()


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from schema_drift_detector_spark.functions.text import lang_id

    docs = _t_fan_big(spark, sf_dir, "documents")
    return docs.select("doc_id", "lang", lang_id("text").alias("pred_lang"))


# mirrors functions/text.py STOPWORDS + tie-break (sorted lang order)
ORACLE_LANG_ID = """
WITH scored AS (
  SELECT doc_id, lang,
    len(list_intersect(string_split(lower(text), ' '),
        ['der','die','das','und','ist','nicht','mit','ein','zu','den'])) AS s_de,
    len(list_intersect(string_split(lower(text), ' '),
        ['the','and','of','to','a','in','is','it','that','for'])) AS s_en,
    len(list_intersect(string_split(lower(text), ' '),
        ['el','la','de','que','y','en','un','es','se','no'])) AS s_es,
    len(list_intersect(string_split(lower(text), ' '),
        ['le','la','et','les','des','est','un','une','du','que'])) AS s_fr
  FROM documents
)
SELECT doc_id, lang,
  CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
       WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
       WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
       WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
       ELSE 'fr' END AS pred_lang
FROM scored
"""


def q_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from schema_drift_detector_spark.functions.text import quality_score

    docs = _t_fan_big(spark, sf_dir, "documents")
    return docs.select("doc_id", quality_score("text").alias("quality"))


ORACLE_QUALITY = """
WITH m AS (
  SELECT doc_id,
         len(text) * 1.0 AS n_chars,
         len(string_split(text, ' ')) * 1.0 AS n_toks,
         (len(text) - len(regexp_replace(text, '[.,;:!?]', '', 'g'))) * 1.0 AS n_punct,
         len(list_intersect(string_split(lower(text), ' '),
             ['the','and','of','to','a','in','is','it','that','for'])) * 1.0 AS sw
  FROM documents
)
SELECT doc_id,
  round(
    0.35 * (CASE WHEN n_chars >= 100 AND n_chars <= 10000 THEN 1.0 ELSE 0.5 END)
    + 0.25 * (CASE WHEN n_chars / greatest(n_toks, 1.0) >= 3.0
                    AND n_chars / greatest(n_toks, 1.0) <= 10.0 THEN 1.0 ELSE 0.5 END)
    + 0.2 * (1.0 - least(n_punct / greatest(n_chars, 1.0) * 10, 1.0))
    + 0.2 * least(sw / 10.0, 1.0), 6) AS quality
FROM m
"""


def q_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from schema_drift_detector_spark.functions.text import (
        fingerprint_md5,
        fingerprint_normalized,
    )

    docs = _t_fan_big(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        fingerprint_md5("text").alias("fp_exact"),
        fingerprint_normalized("text").alias("fp_normalized"),
    )


ORACLE_FINGERPRINTS = """
SELECT doc_id, md5(text) AS fp_exact,
       md5(array_to_string(list_sort(string_split(lower(text), ' ')), ' ')) AS fp_normalized
FROM documents
"""


def q_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite training-data prep pipeline: exact dedup (md5 survivor)
    → quality gate → per-(source, lang) corpus stats. One query
    composing the dedup, text-quality and aggregation operators."""
    from schema_drift_detector_spark.functions.text import quality_score, token_count
    from schema_drift_detector_spark.operators.dedup import drop_exact_duplicates

    docs = _t_fan_big(spark, sf_dir, "documents")
    deduped = drop_exact_duplicates(docs, "doc_id", "text")
    kept = deduped.withColumn("q", quality_score("text")).filter(F.col("q") >= 0.5)
    return kept.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count("text")).alias("n_tokens"),
        F.round(F.min("q"), 6).alias("min_quality"),
        F.round(F.max("q"), 6).alias("max_quality"),
    )


ORACLE_CORPUS_PREP = """
WITH dedup AS (
  SELECT * FROM documents
  QUALIFY doc_id = min(doc_id) OVER (PARTITION BY md5(text))
), m AS (
  SELECT source, lang, text,
         len(text) * 1.0 AS n_chars,
         len(string_split(text, ' ')) * 1.0 AS n_toks,
         (len(text) - len(regexp_replace(text, '[.,;:!?]', '', 'g'))) * 1.0 AS n_punct,
         len(list_intersect(string_split(lower(text), ' '),
             ['the','and','of','to','a','in','is','it','that','for'])) * 1.0 AS sw
  FROM dedup
), scored AS (
  SELECT source, lang, n_toks,
    round(
      0.35 * (CASE WHEN n_chars >= 100 AND n_chars <= 10000 THEN 1.0 ELSE 0.5 END)
      + 0.25 * (CASE WHEN n_chars / greatest(n_toks, 1.0) >= 3.0
                      AND n_chars / greatest(n_toks, 1.0) <= 10.0 THEN 1.0 ELSE 0.5 END)
      + 0.2 * (1.0 - least(n_punct / greatest(n_chars, 1.0) * 10, 1.0))
      + 0.2 * least(sw / 10.0, 1.0), 6) AS q
  FROM m
)
SELECT source, lang, count(*) AS n_docs,
       CAST(sum(n_toks) AS BIGINT) AS n_tokens,
       round(min(q), 6) AS min_quality, round(max(q), 6) AS max_quality
FROM scored WHERE q >= 0.5
GROUP BY source, lang
"""


# --------------------------------------------------------------------------
# Similarity search over embeddings
# --------------------------------------------------------------------------

def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from schema_drift_detector_spark.operators.ann import topk_bruteforce

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return topk_bruteforce(emb, queries, k=5)


ORACLE_ANN_TOPK = """
SELECT q.vec_id AS query_id,
       row_number() OVER (PARTITION BY q.vec_id
                          ORDER BY round(list_cosine_similarity(
                                     CAST(c.embedding AS DOUBLE[]),
                                     CAST(q.embedding AS DOUBLE[])), 6) DESC,
                                   c.vec_id ASC) AS rank,
       c.vec_id AS vec_id,
       round(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
                                    CAST(q.embedding AS DOUBLE[])), 6) AS cos_sim
FROM embeddings c CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 5) q
QUALIFY rank <= 5
"""


def q_ann_topk_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC top-k over the SQ8-quantized corpus: fit per-dimension
    min/max on the corpus (one Arrow scan), encode every vector to
    8-bit codes, dequantize, then exact full-precision-query cosine —
    the asymmetric-distance search Faiss/Milvus run over SQ8 indexes.
    The oracle replays fit + encode + decode + cosine in SQL, so the
    quantization ARITHMETIC (floor(x+0.5) grid, clamp-to-edge,
    constant-dim pin) is certified bit-exactly, not just the ranking.
    At 100 TB the codes are the point: 4x smaller corpus vectors in
    memory/shuffle; queries never lose precision."""
    from schema_drift_detector_spark.operators.quantize import fit_sq8, topk_sq8

    emb = _t(spark, sf_dir, "embeddings")
    lo, hi = fit_sq8(emb, dim=64)
    queries = emb.filter(F.col("vec_id") < 5)
    return topk_sq8(emb, queries, lo, hi, k=5)


# fit (per-dim min/max over float64-cast values) + encode
# (floor((x-lo)/span*255+0.5) clamped to [0,255], constant dims pinned
# to code 0) + decode (lo + code/255*span) in the exact operation order
# quantize.py's numpy computes — float32→float64 casts are exact, and
# min/max have no summation-order sensitivity, so lo/hi and every
# dequantized value are bit-identical cross-engine
ORACLE_ANN_TOPK_SQ8 = """
WITH sq8_elems AS (
  SELECT vec_id,
         generate_subscripts(embedding, 1) - 1 AS dim,
         unnest(CAST(embedding AS DOUBLE[])) AS x
  FROM embeddings
),
sq8_rng AS (
  SELECT dim, min(x) AS lo, max(x) AS hi FROM sq8_elems GROUP BY dim
),
sq8_deq AS (
  SELECT e.vec_id,
         list(CASE WHEN r.hi = r.lo THEN r.lo
              ELSE r.lo + (least(greatest(
                     floor((e.x - r.lo) / (r.hi - r.lo) * 255.0 + 0.5),
                     0.0), 255.0) / 255.0) * (r.hi - r.lo)
              END ORDER BY e.dim) AS v
  FROM sq8_elems e JOIN sq8_rng r USING (dim)
  GROUP BY e.vec_id
)
SELECT q.vec_id AS query_id,
       row_number() OVER (PARTITION BY q.vec_id
                          ORDER BY round(list_cosine_similarity(
                                     c.v, CAST(q.embedding AS DOUBLE[])), 6) DESC,
                                   c.vec_id ASC) AS rank,
       c.vec_id AS vec_id,
       round(list_cosine_similarity(c.v, CAST(q.embedding AS DOUBLE[])), 6) AS cos_sim
FROM sq8_deq c CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 5) q
QUALIFY rank <= 5
"""


def q_ann_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC top-k over the PRODUCT-quantized corpus (Faiss PQ shape:
    8 subspaces x 16 codes = 8-byte codes for 64-dim vectors, 32x
    smaller than float32): deterministic md5-picked codebook, per-
    subspace L2-argmin encode, reconstruction cosine. The oracle
    replays codebook pick + slicing + argmin + reconstruction + cosine
    — the whole quantizer — in SQL. The LUT scorer (topk_pq_adc, the
    form that never decodes the corpus) is equality-tested against
    this reconstruction form in tests/test_quantize.py."""
    from schema_drift_detector_spark.operators.quantize import (
        pq_fit_deterministic,
        topk_pq,
    )

    emb = _t(spark, sf_dir, "embeddings")
    cb = pq_fit_deterministic(emb, m=8, ks=16, dim=64)
    queries = emb.filter(F.col("vec_id") < 5)
    return topk_pq(emb, queries, cb, k=5)


# codebook = the 16 md5-smallest corpus vectors (the deterministic_
# centroids pick rule), sliced into 8 contiguous 8-dim subspaces;
# encode = per-subspace (L2 dist ASC, code_id ASC) argmin — Spark
# computes the literal sum((x-c)^2), the same arithmetic list_distance
# orders by; decode = concatenated codebook slices (exact)
ORACLE_ANN_TOPK_PQ = """
WITH pq_picked AS (
  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC, vec_id ASC) - 1
           AS code_id,
         CAST(embedding AS DOUBLE[]) AS cvec
  FROM (SELECT vec_id, embedding FROM embeddings
        ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC, vec_id ASC LIMIT 16) pq_pick
),
pq_sub AS (
  SELECT s.s, p.code_id, p.cvec[s.s*8+1 : s.s*8+8] AS sv
  FROM pq_picked p CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS s) s
),
pq_codes AS (
  SELECT e.vec_id, sub.s, sub.code_id
  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings) e
  CROSS JOIN pq_sub sub
  QUALIFY row_number() OVER (PARTITION BY e.vec_id, sub.s
            ORDER BY list_distance(e.v[sub.s*8+1 : sub.s*8+8], sub.sv) ASC,
                     sub.code_id ASC) = 1
),
pq_deq AS (
  SELECT c.vec_id, flatten(list(sub.sv ORDER BY c.s)) AS v
  FROM pq_codes c JOIN pq_sub sub ON sub.s = c.s AND sub.code_id = c.code_id
  GROUP BY c.vec_id
)
SELECT q.vec_id AS query_id,
       row_number() OVER (PARTITION BY q.vec_id
                          ORDER BY round(list_cosine_similarity(
                                     c.v, CAST(q.embedding AS DOUBLE[])), 6) DESC,
                                   c.vec_id ASC) AS rank,
       c.vec_id AS vec_id,
       round(list_cosine_similarity(c.v, CAST(q.embedding AS DOUBLE[])), 6) AS cos_sim
FROM pq_deq c CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 5) q
QUALIFY rank <= 5
"""


def q_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    from schema_drift_detector_spark.operators.ann import assign_cells, deterministic_centroids

    emb = _t(spark, sf_dir, "embeddings")
    cents = deterministic_centroids(emb, 8)
    return assign_cells(emb, cents).select("vec_id", "centroid_id")


ORACLE_IVF_ASSIGN = """
WITH picked AS (
  SELECT vec_id, embedding
  FROM embeddings
  ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC, vec_id ASC
  LIMIT 8
), cents AS (
  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC, vec_id ASC) - 1
           AS centroid_id,
         embedding AS cvec
  FROM picked
)
SELECT e.vec_id, c.centroid_id
FROM embeddings e CROSS JOIN cents c
QUALIFY row_number() OVER (PARTITION BY e.vec_id
                           ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                                           CAST(c.cvec AS DOUBLE[])) DESC,
                                    c.centroid_id ASC) = 1
"""


def q_ann_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full IVF search path (index build → probe nprobe cells → exact
    cosine within) — the operator users actually run. The oracle is an
    exact DuckDB replay of the probe rule, so approximation error is
    part of the contract, not hidden by it."""
    from schema_drift_detector_spark.operators.ann import (
        assign_cells,
        deterministic_centroids,
        topk_ivf,
    )

    emb = _t(spark, sf_dir, "embeddings")
    cents = deterministic_centroids(emb, 8)
    index = assign_cells(emb, cents)
    queries = emb.filter(F.col("vec_id") < 5)
    return topk_ivf(index, cents, queries, k=5, nprobe=2)


ORACLE_ANN_TOPK_IVF = """
WITH picked AS (
  SELECT vec_id, embedding
  FROM embeddings
  ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC, vec_id ASC
  LIMIT 8
), cents AS (
  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC, vec_id ASC) - 1
           AS centroid_id,
         embedding AS cvec
  FROM picked
), assign AS (
  SELECT e.vec_id, e.embedding, c.centroid_id
  FROM embeddings e CROSS JOIN cents c
  QUALIFY row_number() OVER (PARTITION BY e.vec_id
            ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                            CAST(c.cvec AS DOUBLE[])) DESC,
                     c.centroid_id ASC) = 1
), probes AS (
  SELECT q.vec_id AS query_id, q.embedding AS qvec, c.centroid_id
  FROM (SELECT * FROM embeddings WHERE vec_id < 5) q CROSS JOIN cents c
  QUALIFY row_number() OVER (PARTITION BY q.vec_id
            ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                            CAST(c.cvec AS DOUBLE[])) DESC,
                     c.centroid_id ASC) <= 2
), scored AS (
  SELECT p.query_id, a.vec_id,
         round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                      CAST(p.qvec AS DOUBLE[])), 6) AS cos_sim
  FROM probes p JOIN assign a USING (centroid_id)
)
SELECT query_id,
       row_number() OVER (PARTITION BY query_id
                          ORDER BY cos_sim DESC, vec_id ASC) AS rank,
       vec_id, cos_sim
FROM scored
QUALIFY rank <= 5
"""


def _kmeans_sql_replay(emb: DataFrame, k: int, iters: int) -> DataFrame:
    """Exact SQL-formula replay of the spherical Lloyd loop — the
    independent reference the fused mapInPandas trainer
    (operators/ann.py kmeans_centroids) is attested against. Mirrors
    ORACLE_KMEANS_CENTROIDS term by term: unit-normalize, init = k
    smallest (md5(vec_id), vec_id) rows, per iteration argmax-dot cell
    (ties → lowest centroid_id, the engine's first-max rule), per-cell
    per-dim mean, renormalize. Fixture-scale only (global row_number
    window, interpreted higher-order folds): it IS the oracle formula,
    not the engine. → centroid_id, pos, ref_val (unrounded)."""
    from pyspark.sql import Window

    def unit(col):
        n = F.sqrt(F.aggregate(col, F.lit(0.0), lambda acc, x: acc + x * x))
        return F.transform(col, lambda x: x / n)

    # mirror the engine's vector hygiene: kmeans_centroids excludes
    # null/NaN-ELEMENT vectors from the init pick (clean filter) and
    # from every Lloyd sum (the partials NaN mask), and a zero-norm
    # vector normalizes to NaN there and drops the same way — without
    # this filter a single partially-null fixture vector would poison
    # the replay's cell means while the engine ignores it
    nv = (
        emb.filter(F.col("embedding").isNotNull())
        .filter(~F.exists(F.col("embedding"), lambda x: x.isNull() | F.isnan(x)))
        .filter(
            F.aggregate(
                F.col("embedding").cast("array<double>"),
                F.lit(0.0),
                lambda a, x: a + x * x,
            )
            > 0
        )
        .select("vec_id", unit(F.col("embedding").cast("array<double>")).alias("nv"))
    )
    w = Window.orderBy(F.md5(F.col("vec_id").cast("string")).asc(), F.col("vec_id").asc())
    cents = (
        nv.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select((F.col("__rn") - 1).alias("centroid_id"), F.col("nv").alias("cvec"))
    )
    for _ in range(iters):
        dot = F.aggregate(
            F.zip_with("nv", "cvec", lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x
        )
        ww = Window.partitionBy("vec_id").orderBy(
            F.col("__dot").desc(), F.col("centroid_id").asc()
        )
        assign = (
            nv.crossJoin(F.broadcast(cents))
            .withColumn("__dot", dot)
            .withColumn("__rn", F.row_number().over(ww))
            .filter(F.col("__rn") == 1)
            .select("vec_id", "nv", F.col("centroid_id").alias("cell"))
        )
        means = (
            assign.select("cell", F.posexplode("nv").alias("i", "v"))
            .groupBy("cell", "i")
            .agg(F.avg("v").alias("m"))
        )
        cents = (
            means.groupBy("cell")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("i", "m"))), lambda s: s["m"]
                ).alias("l")
            )
            .select(F.col("cell").alias("centroid_id"), unit(F.col("l")).alias("cvec"))
        )
    return cents.select("centroid_id", F.posexplode("cvec").alias("pos", "ref_val"))


def q_salted_join_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """salted_join result-equivalence on the certified board: the
    per-row-salt + right-side-replication plumbing must produce EXACTLY
    the rows of the plain equi-join it replaces (the salt only changes
    the reducer layout, never the result). The oracle is the plain SQL
    join — any salt-path row loss/duplication hash-mismatches."""
    from schema_drift_detector_spark.operators.skew import salted_join

    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").withColumnRenamed("c_custkey", "o_custkey")
    return salted_join(
        orders.select("o_orderkey", "o_custkey", "o_totalprice"),
        cust.select("o_custkey", "c_name", "c_nationkey"),
        "o_custkey",
        salt_buckets=8,
        how="left",
    ).select(
        "o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("o_totalprice"),
        "c_name", "c_nationkey",
    )


ORACLE_SALTED_JOIN_ORDERS = """
SELECT o.o_orderkey, o.o_custkey, round(o.o_totalprice, 2) AS o_totalprice,
       c.c_name, c.c_nationkey
FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
"""


def q_salted_join_hot_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key-ONLY salted join (r4 verdict #2), detection loop closed
    end-to-end: the certified heavy_hitters pass measures which user_ids
    are hot (phi=0.0008 here — the same OPERATOR the heavy_hitter_users
    entry certifies at phi=0.007; this entry's lower threshold keeps the
    hot set non-empty at every fixture SF), and salted_join salts ONLY
    those keys' rows, replicating only their right-side rows ×buckets —
    cold keys join plainly inside the same single join. Right-side
    shuffle volume is cold + hot×buckets instead of total×buckets
    (task-metric-proven in tests/test_plans.py); this oracle certifies
    the other half of the contract: the rows are EXACTLY the plain
    join's, whatever the measured hot set was."""
    from schema_drift_detector_spark.operators.skew import heavy_hitters, salted_join

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "event_type")
    per_user = (
        _t(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("event_id").alias("first_event_id"),
        )
    )
    # phi=0.0008 (8/10000): below sf0.1's hottest-user share (0.00099)
    # so the hot set is non-empty at every fixture SF; the hot list only
    # shapes the physical layout — the certified RESULT is the plain
    # join at any hot set, which is exactly what the oracle pins
    hot = [r[0] for r in heavy_hitters(ev, "user_id", phi=0.0008).select("user_id").collect()]
    if not hot:
        raise RuntimeError("vacuous fixture: no hot user_id — salting path never exercised")
    return salted_join(
        ev, per_user, "user_id", salt_buckets=8, how="left", hot_keys=hot
    ).select("event_id", "user_id", "event_type", "n_events", "first_event_id")


ORACLE_SALTED_JOIN_HOT_EVENTS = """
WITH per_user AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
         min(event_id) AS first_event_id
  FROM events WHERE user_id IS NOT NULL GROUP BY 1
)
SELECT e.event_id, e.user_id, e.event_type, p.n_events, p.first_event_id
FROM events e LEFT JOIN per_user p ON e.user_id = p.user_id
"""


def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skew-handling family in one entry, tagged by `face`
    ('uniform' = every-row salting on the orders⋈customer join; 'hot' =
    hot-key-only salting on events⋈per_user with the measured heavy-
    hitter set; 'hitters' = the hot-key DETECTION itself — frequent-
    items sketch + broadcast exact recount, the operator that feeds
    the 'hot' face's salting decision; 'cms' (late r7) = a count-min
    sketch over the same key stream — per-user estimates vs exact
    counts, hash-certified with a deliberately tight 2x32 sketch so
    the est >= true invariant AND real collision overcounts are both
    pinned; gated: zero undercounts, >= 1 overcount, >= 1 exact;
    'nullsafe' (late r7) = the <=> join semantics — NULL-planted event
    user_ids joined to per-user counts on eqNullSafe vs DuckDB's
    IS NOT DISTINCT FROM, gated: every NULL-key row pairs with the
    NULL-group stats, which a plain equi-join would drop).
    Merged in r7 under the 50-row
    driver attestation cap to make room for `bm25_topk` (uniform+hot)
    and `zorder_layout` (hitters); merge recipe: tag + null-pad +
    union; series-breaks annotated in BENCH/BASELINE.md r7 notes — the
    per-face series continue via q_salted_join__uniform/__hot/
    __hitters."""
    uni = q_salted_join_orders(spark, sf_dir).select(
        F.lit("uniform").alias("face"),
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        "c_name",
        "c_nationkey",
        F.lit(None).cast("bigint").alias("event_id"),
        F.lit(None).cast("bigint").alias("user_id"),
        F.lit(None).cast("string").alias("event_type"),
        F.lit(None).cast("bigint").alias("n_events"),
        F.lit(None).cast("bigint").alias("first_event_id"),
        F.lit(None).cast("bigint").alias("n_occurrences"),
        F.lit(None).cast("double").alias("share"),
    )
    hot = q_salted_join_hot_events(spark, sf_dir).select(
        F.lit("hot").alias("face"),
        F.lit(None).cast("bigint").alias("o_orderkey"),
        F.lit(None).cast("bigint").alias("o_custkey"),
        F.lit(None).cast("double").alias("o_totalprice"),
        F.lit(None).cast("string").alias("c_name"),
        F.lit(None).cast("int").alias("c_nationkey"),
        "event_id",
        "user_id",
        "event_type",
        "n_events",
        "first_event_id",
        F.lit(None).cast("bigint").alias("n_occurrences"),
        F.lit(None).cast("double").alias("share"),
    )
    hitters = q_heavy_hitter_users(spark, sf_dir).select(
        F.lit("hitters").alias("face"),
        F.lit(None).cast("bigint").alias("o_orderkey"),
        F.lit(None).cast("bigint").alias("o_custkey"),
        F.lit(None).cast("double").alias("o_totalprice"),
        F.lit(None).cast("string").alias("c_name"),
        F.lit(None).cast("int").alias("c_nationkey"),
        F.lit(None).cast("bigint").alias("event_id"),
        "user_id",
        F.lit(None).cast("string").alias("event_type"),
        F.lit(None).cast("bigint").alias("n_events"),
        F.lit(None).cast("bigint").alias("first_event_id"),
        "n_occurrences",
        "share",
        F.lit(None).cast("bigint").alias("cms_est"),
    )
    uni = uni.withColumn("cms_est", F.lit(None).cast("bigint"))
    hot = hot.withColumn("cms_est", F.lit(None).cast("bigint"))

    ns = q_salted_join__nullsafe(spark, sf_dir).localCheckpoint(eager=True)
    nulled = ns.filter(F.col("user_id").isNull())
    nst = nulled.agg(
        F.count(F.lit(1)).alias("n_null_rows"),
        F.count(F.when(F.col("n_events").isNull(), 1)).alias("unmatched"),
    ).first()
    if not (nst.n_null_rows and nst.unmatched == 0):
        raise RuntimeError(
            f"vacuous null-safe join certification: no planted NULL-key rows "
            f"({nst.n_null_rows}) or a NULL row failed to pair with the "
            f"NULL-group stats ({nst.unmatched}) — the <=> semantics never bound"
        )
    nsf = ns.select(
        F.lit("nullsafe").alias("face"),
        F.lit(None).cast("bigint").alias("o_orderkey"),
        F.lit(None).cast("bigint").alias("o_custkey"),
        F.lit(None).cast("double").alias("o_totalprice"),
        F.lit(None).cast("string").alias("c_name"),
        F.lit(None).cast("int").alias("c_nationkey"),
        "event_id",
        "user_id",
        F.lit(None).cast("string").alias("event_type"),
        "n_events",
        F.lit(None).cast("bigint").alias("first_event_id"),
        F.lit(None).cast("bigint").alias("n_occurrences"),
        F.lit(None).cast("double").alias("share"),
        F.lit(None).cast("bigint").alias("cms_est"),
    )

    cms = q_cms_sketch(spark, sf_dir).select(
        F.lit("cms").alias("face"),
        F.lit(None).cast("bigint").alias("o_orderkey"),
        F.lit(None).cast("bigint").alias("o_custkey"),
        F.lit(None).cast("double").alias("o_totalprice"),
        F.lit(None).cast("string").alias("c_name"),
        F.lit(None).cast("int").alias("c_nationkey"),
        F.lit(None).cast("bigint").alias("event_id"),
        "user_id",
        F.lit(None).cast("string").alias("event_type"),
        "n_events",
        F.lit(None).cast("bigint").alias("first_event_id"),
        F.lit(None).cast("bigint").alias("n_occurrences"),
        F.lit(None).cast("double").alias("share"),
        "cms_est",
    ).localCheckpoint(eager=True)
    cst = cms.agg(
        F.count(F.when(F.col("cms_est") < F.col("n_events"), 1)).alias("n_under"),
        F.count(F.when(F.col("cms_est") > F.col("n_events"), 1)).alias("n_over"),
        F.count(F.when(F.col("cms_est") == F.col("n_events"), 1)).alias("n_exact"),
    ).first()
    if not (cst.n_under == 0 and cst.n_over > 0 and cst.n_exact > 0):
        raise RuntimeError(
            f"vacuous CMS certification: undercount (impossible unless the "
            f"sketch is broken), or no collision overcount, or no exact "
            f"estimate at this SF ({cst})"
        )
    return (
        uni.unionByName(hot)
        .unionByName(hitters)
        .unionByName(nsf)
        .unionByName(cms)
    )


# bench face helpers: bare per-face plans (the hot face eagerly
# collects its heavy-hitter set at plan-build time, so a post-hoc
# .filter(face) on the union would pay that for BOTH faces)
q_salted_join__uniform = q_salted_join_orders
q_salted_join__hot = q_salted_join_hot_events


def q_salted_join__hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return q_heavy_hitter_users(spark, sf_dir)


def q_salted_join__nullsafe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 'nullsafe' face (bare plan): the <=> (eqNullSafe) join
    semantics — events with user_id NULL-planted on event_id % 53 == 0
    (events has no natural NULLs) joined to per-user counts computed
    over the SAME planted frame, on user_id <=> user_id. A plain
    equi-join silently drops every NULL-key row; the null-safe join
    pairs them with the NULL-group aggregate — the semantics the gate
    pins (every NULL row matched). Output: (event_id, user_id,
    n_events)."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        F.when(F.col("event_id") % 53 == 0, F.lit(None).cast("bigint"))
        .otherwise(F.col("user_id"))
        .alias("user_id"),
    )
    per_user = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    return ev.alias("l").join(
        per_user.alias("r"),
        F.col("l.user_id").eqNullSafe(F.col("r.user_id")),
        "left",
    ).select("l.event_id", "l.user_id", "r.n_events")


ORACLE_SALTED_JOIN_NULLSAFE = """
WITH ev AS (
  SELECT event_id,
         CASE WHEN event_id % 53 = 0 THEN NULL ELSE user_id END AS user_id
  FROM events
), per_user AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_events FROM ev GROUP BY 1
)
SELECT l.event_id, l.user_id, r.n_events
FROM ev l LEFT JOIN per_user r ON l.user_id IS NOT DISTINCT FROM r.user_id
"""


# CMS parameters for the 'cms' face: chosen so BOTH gate branches bind
# deterministically at the fixture SFs (sf0.001: 15 users -> 14 exact /
# 1 collision overcount; sf0.01: 150 users -> 2 exact / 148 over —
# simulated over the real key sets before pinning)
_CMS_DEPTH, _CMS_WIDTH = 2, 32


def q_cms_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench row + the 'cms' face's bare plan: count-min sketch over
    event user_ids (depth 2 x width 32 — deliberately tight so
    collisions are real), estimates for every distinct user joined
    against the exact counts. Output: (user_id, n_events, cms_est) —
    the est >= true invariant and the collision overcounts are both
    hash-certified; the sketch state is depth*width counters no matter
    how many distinct users exist (the scale story exact counting
    cannot offer)."""
    from schema_drift_detector_spark.functions.cms import cms_build, cms_estimate

    ev = _t_fan_big(spark, sf_dir, "events").select("user_id")
    sk = cms_build(ev, "user_id", depth=_CMS_DEPTH, width=_CMS_WIDTH)
    true = (
        ev.filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    return cms_estimate(true, sk, "user_id", depth=_CMS_DEPTH, width=_CMS_WIDTH)


def _oracle_salted_join_merged() -> str:
    from schema_drift_detector_spark.functions.cms import cms_sql_ctes

    cms = f"""
WITH {cms_sql_ctes("c_", "events", "user_id", _CMS_DEPTH, _CMS_WIDTH)},
c_true AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
           FROM events WHERE user_id IS NOT NULL GROUP BY 1)
SELECT t.user_id, t.n_events, e.cms_est
FROM c_true t JOIN c_est e ON e.key = t.user_id
"""
    return f"""
SELECT 'uniform' AS face, o_orderkey, o_custkey, o_totalprice, c_name, c_nationkey,
       CAST(NULL AS BIGINT) AS event_id, CAST(NULL AS BIGINT) AS user_id,
       CAST(NULL AS VARCHAR) AS event_type, CAST(NULL AS BIGINT) AS n_events,
       CAST(NULL AS BIGINT) AS first_event_id,
       CAST(NULL AS BIGINT) AS n_occurrences, CAST(NULL AS DOUBLE) AS share,
       CAST(NULL AS BIGINT) AS cms_est
FROM ({ORACLE_SALTED_JOIN_ORDERS})
UNION ALL
SELECT 'hot', NULL, NULL, NULL, NULL, NULL,
       event_id, user_id, event_type, n_events, first_event_id, NULL, NULL, NULL
FROM ({ORACLE_SALTED_JOIN_HOT_EVENTS})
UNION ALL
SELECT 'hitters', NULL, NULL, NULL, NULL, NULL,
       NULL, user_id, NULL, NULL, NULL, n_occurrences, share, NULL
FROM ({ORACLE_HEAVY_HITTER_USERS})
UNION ALL
SELECT 'nullsafe', NULL, NULL, NULL, NULL, NULL,
       event_id, user_id, NULL, n_events, NULL, NULL, NULL, NULL
FROM ({ORACLE_SALTED_JOIN_NULLSAFE})
UNION ALL
SELECT 'cms', NULL, NULL, NULL, NULL, NULL,
       NULL, user_id, NULL, n_events, NULL, NULL, NULL, cms_est
FROM ({cms})
"""


# BM25 probe queries over the synthetic corpus vocabulary: four
# in-vocabulary probes, one PARTIAL query (an out-of-vocabulary term
# alongside a real one — certifies that unmatched terms contribute
# nothing rather than NULLing the score), one fully out-of-vocabulary
# query (certifies empty-result handling: absent from the output).
_BM25_QUERIES: list[tuple[str, list[str]]] = [
    ("q_scan", ["fast", "table", "scan"]),
    ("q_cust", ["customer", "order", "join"]),
    ("q_window", ["window", "agg", "sort"]),
    ("q_stream", ["spark", "stream", "batch"]),
    ("q_partial", ["zzznotaword", "merge"]),
    ("q_none", ["qqqnotaword"]),
]
_BM25_INVOCAB = ("q_scan", "q_cust", "q_window", "q_stream")
_BM25_K = 8


def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout clustering on events by (user_id,
    event-time seconds) — the Delta/Iceberg OPTIMIZE ZORDER shape. The
    certified artifacts are the deterministic ones: per-row z-keys
    (min/max-bucketized 16-bit dimensions, bit-interleaved) and the
    coarse zbucket (top 8 bits = the layout's coarse range), replayed
    bit-exactly in DuckDB via the shared zorder_sql/minmax_bucket_sql
    builders. The range-partition boundaries themselves are sampled
    (nondeterministic) and are pinned by plan tests instead
    (tests/test_layout.py). NULL user_ids take bucket 0 (co-located,
    documented) — the events fixture carries none, so every 53rd
    event's user_id is NULLed (planted, mirrored in the oracle) to
    certify the NULL contract non-vacuously (gated)."""
    from schema_drift_detector_spark.operators.layout import (
        minmax_bucket,
        zorder_key,
    )

    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        F.when(F.col("event_id") % 53 == 0, F.lit(None).cast("long"))
        .otherwise(F.col("user_id"))
        .alias("user_id"),
        # NTZ cannot cast straight to long; via timestamp (session tz
        # UTC) — floors, matching the oracle's floor(epoch(ts))
        F.col("ts").cast("timestamp").cast("long").alias("ts_sec"),
    )
    bounds = ev.agg(
        F.min("user_id").alias("mnu"),
        F.max("user_id").alias("mxu"),
        F.min("ts_sec").alias("mnt"),
        F.max("ts_sec").alias("mxt"),
    )
    keyed = ev.join(F.broadcast(bounds)).select(
        "event_id",
        "user_id",
        "ts_sec",
        zorder_key(
            [
                minmax_bucket(F.col("user_id"), F.col("mnu"), F.col("mxu"), 16),
                minmax_bucket(F.col("ts_sec"), F.col("mnt"), F.col("mxt"), 16),
            ],
            16,
        ).alias("z"),
    )
    out = keyed.select(
        "event_id", "user_id", "ts_sec", "z", F.shiftright(F.col("z"), 24).alias("zbucket")
    ).localCheckpoint(eager=True)
    g = out.agg(
        F.countDistinct("zbucket").alias("nb"),
        F.sum(F.col("user_id").isNull().cast("int")).alias("nulls"),
    ).first()
    if g.nb < 2:
        raise RuntimeError("vacuous zorder fixture: single zbucket")
    if not g.nulls:
        raise RuntimeError("vacuous zorder fixture: no NULL user_id rows")
    return out


def _oracle_zorder_layout() -> str:
    """Replay via the SAME builders the operator's SQL twin exposes
    (zorder_sql emits the identical interleave loop; minmax_bucket_sql
    the identical binary64 bucketization)."""
    from schema_drift_detector_spark.operators.layout import (
        minmax_bucket_sql,
        zorder_sql,
    )

    bu = minmax_bucket_sql("user_id", "b.mnu", "b.mxu", 16)
    bt = minmax_bucket_sql("ts_sec", "b.mnt", "b.mxt", 16)
    return f"""
WITH ev AS (
  SELECT event_id,
         CASE WHEN event_id % 53 = 0 THEN NULL ELSE user_id END AS user_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec
  FROM events
),
b AS (
  SELECT min(user_id) AS mnu, max(user_id) AS mxu,
         min(ts_sec) AS mnt, max(ts_sec) AS mxt
  FROM ev
),
bk AS (
  SELECT event_id, user_id, ts_sec, {bu} AS bu, {bt} AS bt
  FROM ev, b
)
SELECT event_id, user_id, ts_sec,
       {zorder_sql(['bu', 'bt'], 16)} AS z,
       {zorder_sql(['bu', 'bt'], 16)} >> 24 AS zbucket
FROM bk
"""


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical top-k retrieval (BM25, Lucene idf) over the documents
    corpus — the text-search counterpart to the ANN entries. The
    oracle replays the full scoring pipeline (vocab-pruned postings,
    tf/df, dl/avgdl saturation, 6-dp-rounded ranking with doc_id
    tie-break) so every score and every rank is hash-checked. The
    no-match probe's absence from the output is part of the certified
    result; non-vacuity gates pin that the in-vocab probes actually
    fill their k and the partial probe still scores."""
    from schema_drift_detector_spark.operators.retrieval import bm25_topk

    docs = _t_fan_big(spark, sf_dir, "documents").select("doc_id", "text")
    queries = spark.createDataFrame(
        _BM25_QUERIES, "query_id string, terms array<string>"
    )
    out = bm25_topk(docs, queries, k=_BM25_K).localCheckpoint(eager=True)
    full = (
        out.filter(F.col("query_id").isin(*_BM25_INVOCAB))
        .groupBy("query_id")
        .agg(F.max("rank").alias("mr"))
        .filter(F.col("mr") == _BM25_K)
        .count()
    )
    if full < len(_BM25_INVOCAB):
        raise RuntimeError(
            f"vacuous fixture: only {full}/{len(_BM25_INVOCAB)} in-vocab"
            f" probes filled k={_BM25_K}"
        )
    if out.filter(F.col("query_id") == "q_partial").limit(1).count() == 0:
        raise RuntimeError(
            "vacuous fixture: partial probe (OOV term + real term) scored nothing"
        )
    return out


def _oracle_bm25_topk() -> str:
    """Exact replay of q_bm25_topk. The probe VALUES list, k, and the
    k1/b saturation constants all interpolate from the SAME constants
    the Spark entry and operator use (_BM25_QUERIES/_BM25_K,
    retrieval.DEFAULT_K1/DEFAULT_B) — editing any of them cannot
    desynchronize the replay (the shared-builder discipline)."""
    from schema_drift_detector_spark.operators.retrieval import DEFAULT_B, DEFAULT_K1

    values = ",\n         ".join(
        "('{}', [{}])".format(qid, ",".join(f"'{t}'" for t in terms))
        for qid, terms in _BM25_QUERIES
    )
    return f"""
WITH q(query_id, terms) AS (
  VALUES {values}
),
qterms AS (
  SELECT query_id, unnest(list_distinct(terms)) AS term FROM q
),
tokenized AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), t -> t <> '') AS toks
  FROM documents
),
dls AS (SELECT doc_id, len(toks) AS dl FROM tokenized),
stats AS (
  SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dls
),
postings AS (
  SELECT t.doc_id, d.dl, u.term
  FROM tokenized t
  JOIN dls d USING (doc_id), unnest(t.toks) AS u(term)
  WHERE d.dl > 0 AND u.term IN (SELECT DISTINCT term FROM qterms)
),
tf AS (
  SELECT doc_id, term, dl, CAST(count(*) AS BIGINT) AS tf
  FROM postings GROUP BY 1, 2, 3
),
dft AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
contrib AS (
  SELECT qt.query_id, tf.doc_id,
         ln(1 + (s.n_docs - dft.df + 0.5) / (dft.df + 0.5))
           * tf.tf * ({DEFAULT_K1} + 1)
           / (tf.tf + {DEFAULT_K1} * (1 - {DEFAULT_B} + {DEFAULT_B} * tf.dl / s.avgdl)) AS c
  FROM tf
  JOIN dft USING (term)
  CROSS JOIN stats s
  JOIN qterms qt USING (term)
),
scored AS (
  SELECT query_id, doc_id, round(sum(c), 6) AS score
  FROM contrib GROUP BY 1, 2
)
SELECT query_id,
       row_number() OVER (PARTITION BY query_id
                          ORDER BY score DESC, doc_id ASC) AS rank,
       doc_id, score
FROM scored
QUALIFY rank <= {_BM25_K}
"""


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic next-fit sequence packing (context packing for
    pretraining): docs sharded by portable id hash, ordered by (hash,
    id) within the shard, appended to a bin until the 90-token cap
    would overflow; oversize docs get flagged solo bins. The oracle
    replays the IDENTICAL fold with a per-shard lockstep recursive CTE
    — certifying shard routing, fold order, every bin boundary, and
    the truncation flags, not just totals. Non-vacuous: asserts both a
    multi-doc bin and >= 1 oversize doc exist at this SF."""
    from schema_drift_detector_spark.functions.text import token_count
    from schema_drift_detector_spark.operators.packing import pack_next_fit

    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", token_count("text").alias("n_tokens"))
    )
    out = pack_next_fit(docs, "doc_id", "n_tokens", cap_tokens=90, n_shards=8)
    agg = out.agg(
        F.max("truncated").alias("any_trunc"),
        (F.count(F.lit(1)) > F.countDistinct("shard", "bin")).alias("any_multi"),
    ).first()
    if not (agg.any_trunc and agg.any_multi):
        raise RuntimeError(
            f"vacuous packing fixture: truncated={agg.any_trunc}, "
            f"multi-doc bins={agg.any_multi}"
        )
    return out


ORACLE_PACK_SEQUENCES = f"""
WITH RECURSIVE t AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         {hash_bucket_sql('CAST(doc_id AS VARCHAR)', salt=':pack')} AS h
  FROM documents WHERE text IS NOT NULL
),
o AS (
  SELECT doc_id, n_tokens, h, CAST(h % 8 AS INTEGER) AS shard,
         row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) AS rn
  FROM t
),
fold AS (
  SELECT shard, rn, doc_id, n_tokens,
         CAST(0 AS BIGINT) AS bin,
         n_tokens > 90 AS truncated,
         -- state AFTER this row: (cur_bin, cur_fill, started)
         CASE WHEN n_tokens > 90 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS cur_bin,
         CASE WHEN n_tokens > 90 THEN CAST(0 AS BIGINT) ELSE n_tokens END AS cur_fill,
         n_tokens <= 90 AS started
  FROM o WHERE rn = 1
  UNION ALL
  SELECT o.shard, o.rn, o.doc_id, o.n_tokens,
         CASE WHEN o.n_tokens > 90
              THEN f.cur_bin + CASE WHEN f.started THEN 1 ELSE 0 END
              WHEN f.started AND f.cur_fill + o.n_tokens > 90
              THEN f.cur_bin + 1
              ELSE f.cur_bin END AS bin,
         o.n_tokens > 90 AS truncated,
         CASE WHEN o.n_tokens > 90
              THEN f.cur_bin + CASE WHEN f.started THEN 1 ELSE 0 END + 1
              WHEN f.started AND f.cur_fill + o.n_tokens > 90
              THEN f.cur_bin + 1
              ELSE f.cur_bin END AS cur_bin,
         CASE WHEN o.n_tokens > 90 THEN CAST(0 AS BIGINT)
              WHEN f.started AND f.cur_fill + o.n_tokens > 90 THEN o.n_tokens
              ELSE f.cur_fill + o.n_tokens END AS cur_fill,
         o.n_tokens <= 90 AS started
  FROM fold f JOIN o ON o.shard = f.shard AND o.rn = f.rn + 1
)
SELECT doc_id, shard, bin, n_tokens, truncated FROM fold
"""


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental cross-epoch dedup (r4 verdict #6): epoch 0 ingests
    the even-doc_id half of the corpus; epoch 1 ingests the odd half
    PLUS exact clones (new ids, same text) of every doc_id%10==0 doc
    already accepted in epoch 0 — the clones must be rejected by the
    PERSISTED fingerprint index, not by anything in epoch 1's own
    batch. The oracle replays both epochs' survivor rules (min-id per
    md5 fingerprint with the null-content sentinel, then
    earlier-epochs-win anti-join) in plain SQL. Non-vacuous by
    construction: at least the clones are cross-epoch rejections
    (asserted). Round 6: the entry certifies the BUCKETED index layout
    (catalog table bucketed on fingerprint, zero index-side Exchange
    per ingest — r5 verdict #3); the parquet layout shares the
    semantics via tests/test_incremental.py equivalence tests."""
    import uuid

    from schema_drift_detector_spark.operators.incremental import ingest_epoch

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    # the +1e6 clone-id offset requires a disjoint id domain; guard it
    # so a larger fixture fails loudly instead of colliding clone ids
    # with real docs (which would corrupt the min-id tie-break AND make
    # the leak check below count real docs as clones)
    # one scan answers the max-id guard AND the clone-count gate input
    # (r8: these were two separate full scans)
    mstats = docs.agg(
        F.max("doc_id").alias("mx"),
        F.coalesce(
            F.sum(F.when(F.col("doc_id") % 10 == 0, 1).otherwise(0)), F.lit(0)
        ).alias("ncl"),
    ).first()
    max_id = mstats["mx"]
    if max_id is None or max_id >= 1_000_000:
        raise RuntimeError(
            f"incremental_dedup fixture assumes doc_id < 1e6 (max={max_id}); "
            f"raise the clone offset for this fixture"
        )
    b0 = docs.filter(F.col("doc_id") % 2 == 0)
    clones = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    b1 = docs.filter(F.col("doc_id") % 2 == 1).unionByName(clones)
    bt = f"fpidx_entry_{uuid.uuid4().hex[:8]}"
    try:
        a0 = ingest_epoch(spark, None, b0, 0, bucket_table=bt, buckets=16)
        a1 = ingest_epoch(spark, None, b1, 1, bucket_table=bt, buckets=16)
        n_clones_in = mstats["ncl"]
        n_clones_accepted = a1.filter(F.col("doc_id") >= 1_000_000).count()
        if n_clones_in == 0 or n_clones_accepted > 0:
            raise RuntimeError(
                f"vacuous incremental dedup: {n_clones_accepted}/{n_clones_in} "
                f"cross-epoch clones leaked through the persisted index"
            )
        return a0.select(
            "doc_id", F.lit(0).cast("int").alias("ingest_epoch")
        ).unionByName(
            a1.select("doc_id", F.lit(1).cast("int").alias("ingest_epoch"))
        )
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {bt}")


ORACLE_INCREMENTAL_DEDUP = """
WITH b0 AS (
  SELECT doc_id, coalesce(md5(text), '__null_content__') AS fp
  FROM documents WHERE doc_id % 2 = 0
),
b1 AS (
  SELECT doc_id, coalesce(md5(text), '__null_content__') AS fp FROM (
    SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
  )
),
a0 AS (SELECT fp, min(doc_id) AS doc_id FROM b0 GROUP BY 1),
s1 AS (SELECT fp, min(doc_id) AS doc_id FROM b1 GROUP BY 1),
a1 AS (SELECT s1.fp, s1.doc_id FROM s1
       WHERE NOT EXISTS (SELECT 1 FROM a0 WHERE a0.fp = s1.fp))
SELECT doc_id, CAST(0 AS INTEGER) AS ingest_epoch FROM a0
UNION ALL
SELECT doc_id, CAST(1 AS INTEGER) AS ingest_epoch FROM a1
"""


def q_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-epoch NEAR-dup ingest: epoch 0 ingests the even-doc_id
    half; epoch 1 ingests the odd half plus NEAR clones (original text
    + a 3-char suffix, new ids) of every doc_id%10==0 doc accepted in
    epoch 0 — the clones share no exact fingerprint with history, so
    only the PERSISTED MinHash signature index can reject them. The
    oracle replays both epochs end-to-end in SQL: per-epoch signatures
    (suffix-parameterized md5-affine parts), within-batch recursive
    cluster closure with min-id survivors, then the cross-epoch banded
    candidate + estimate >= 0.6 drop. Non-vacuous: asserts >= 1
    cross-epoch rejection (asserted via the clone id range)."""
    import tempfile

    from schema_drift_detector_spark.operators.incremental import ingest_epoch_neardup

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    max_id = docs.agg(F.max("doc_id")).first()[0]
    if max_id is None or max_id >= 1_000_000:
        raise RuntimeError(
            f"incremental_neardup fixture assumes doc_id < 1e6 (max={max_id})"
        )
    b0 = docs.filter(F.col("doc_id") % 2 == 0)
    clones = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" qq")).alias("text"),
    )
    b1 = docs.filter(F.col("doc_id") % 2 == 1).unionByName(clones)
    idx = tempfile.mkdtemp(prefix="ndidx_entry_")
    a0 = ingest_epoch_neardup(spark, idx, b0, 0, threshold=0.6)
    a1 = ingest_epoch_neardup(spark, idx, b1, 1, threshold=0.6)
    n_clones_accepted = a1.filter(F.col("doc_id") >= 1_000_000).count()
    n_clones = clones.count()
    if n_clones == 0 or n_clones_accepted >= n_clones:
        raise RuntimeError(
            f"vacuous near-dup ingest: {n_clones_accepted}/{n_clones} clones "
            f"accepted — the persisted signature index rejected nothing"
        )
    return a0.select("doc_id", F.lit(0).cast("int").alias("ingest_epoch")).unionByName(
        a1.select("doc_id", F.lit(1).cast("int").alias("ingest_epoch"))
    )


def _oracle_incremental_neardup() -> str:
    p0 = _minhash_oracle_parts_sfx("b0", "0")
    p1 = _minhash_oracle_parts_sfx("b1", "1")
    est, band_eq = p0["est"], p0["band_eq"]  # fragments over a/b aliases

    def closure(sfx: str) -> str:
        return f"""pairs{sfx} AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sig{sfx} a JOIN sig{sfx} b ON a.doc_id < b.doc_id
  WHERE ({band_eq}) AND ({est}) / 64.0 >= 0.6
),
edges{sfx} AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs{sfx}
  UNION SELECT doc_b, doc_a FROM pairs{sfx}
),
reach{sfx}(doc, r) AS (
  SELECT a, a FROM edges{sfx}
  UNION
  SELECT e.a, reach{sfx}.r FROM edges{sfx} e JOIN reach{sfx} ON reach{sfx}.doc = e.b
),
drops{sfx} AS (
  SELECT doc FROM (SELECT doc, min(r) AS cluster FROM reach{sfx} GROUP BY doc)
  WHERE doc <> cluster
)"""

    return f"""
WITH RECURSIVE
b0 AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
b1 AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text || ' qq' AS text
  FROM documents WHERE doc_id % 10 = 0
),
{p0['ctes']},
{p1['ctes']},
{closure('0')},
{closure('1')},
surv0 AS (
  SELECT doc_id FROM b0 WHERE doc_id NOT IN (SELECT doc FROM drops0)
),
surv1pre AS (
  SELECT doc_id FROM b1 WHERE doc_id NOT IN (SELECT doc FROM drops1)
),
cross_drops AS (
  SELECT DISTINCT a.doc_id
  FROM sig1 a JOIN sig0 b
    ON ({band_eq})
  WHERE a.doc_id IN (SELECT doc_id FROM surv1pre)
    AND b.doc_id IN (SELECT doc_id FROM surv0)
    AND ({est}) / 64.0 >= 0.6
)
SELECT doc_id, CAST(0 AS INTEGER) AS ingest_epoch FROM surv0
UNION ALL
SELECT doc_id, CAST(1 AS INTEGER) AS ingest_epoch FROM surv1pre
WHERE doc_id NOT IN (SELECT doc_id FROM cross_drops)
"""


def q_stream_ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingestion dedup with UNBOUNDED lookback (foreachBatch
    + the persisted fingerprint index; each micro-batch is an ingest
    epoch): three deterministic single-file micro-batches where batch 1
    carries exact clones of batch-0 content and batch 2 carries clones
    of BOTH earlier batches' content — every clone must be rejected by
    the parquet-persisted index, not streaming state (state survives
    any watermark horizon; this is the 'ever ingested' dedup the
    pre-training corpus needs). The oracle replays the three-epoch
    survivor cascade in SQL. Non-vacuous: asserts every clone rejected
    and every original accepted."""
    import os
    import shutil
    import tempfile

    from schema_drift_detector_spark.streaming.epochs import stream_ingest_dedup

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    max_id = docs.agg(F.max("doc_id")).first()[0]
    if max_id is None or max_id >= 1_000_000:
        raise RuntimeError(f"fixture assumes doc_id < 1e6 (max={max_id})")
    base = tempfile.mkdtemp(prefix="stream_ingest_")
    batches = [
        docs.filter(F.col("doc_id") % 3 == 0),
        docs.filter(F.col("doc_id") % 3 == 1).unionByName(
            docs.filter(F.col("doc_id") % 12 == 0).select(
                (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
            )
        ),
        docs.filter(F.col("doc_id") % 3 == 2).unionByName(
            docs.filter((F.col("doc_id") % 12 == 6) | (F.col("doc_id") % 12 == 4))
            .select((F.col("doc_id") + 2_000_000).alias("doc_id"), "text")
        ),
    ]
    for i, b in enumerate(batches):
        b.coalesce(1).write.mode("overwrite").parquet(f"{base}/src/b{i}")
        t = 1_000_000 + 100 * i  # mtime order defines micro-batch order
        for root, _, files in os.walk(f"{base}/src/b{i}"):
            for fn in files:
                os.utime(os.path.join(root, fn), (t, t))
    out, idx, ckpt = f"{base}/out", f"{base}/idx", f"{base}/ckpt"
    shutil.rmtree(out, ignore_errors=True)
    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{base}/src/b*")
    )
    q = stream_ingest_dedup(stream, idx, out, checkpoint_dir=ckpt)
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError("stream_ingest_dedup did not finish within 300s")
    kept = spark.read.parquet(out).select(
        "doc_id", F.col("batch_id").cast("int").alias("batch_id")
    )
    n_clones_kept = kept.filter(F.col("doc_id") >= 1_000_000).count()
    if n_clones_kept > 0 or kept.count() == 0:
        raise RuntimeError(
            f"vacuous/broken stream ingest: {n_clones_kept} clones leaked"
        )
    return kept


# three-epoch survivor cascade: within-batch min-id per fingerprint,
# then earlier-accepted-epochs-win; mirrors ORACLE_INCREMENTAL_DEDUP
# extended to the streaming fixture's batch split. Clones share text
# with originals, so only cross-epoch rejection removes them. Natural
# text dups inside `documents` are handled identically by both engines.
ORACLE_STREAM_INGEST_DEDUP = """
WITH b0 AS (
  SELECT doc_id, coalesce(md5(text), '__null_content__') AS fp
  FROM documents WHERE doc_id % 3 = 0
),
b1 AS (
  SELECT doc_id, coalesce(md5(text), '__null_content__') AS fp FROM (
    SELECT doc_id, text FROM documents WHERE doc_id % 3 = 1
    UNION ALL
    SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 12 = 0
  )
),
b2 AS (
  SELECT doc_id, coalesce(md5(text), '__null_content__') AS fp FROM (
    SELECT doc_id, text FROM documents WHERE doc_id % 3 = 2
    UNION ALL
    SELECT doc_id + 2000000, text FROM documents
    WHERE doc_id % 12 = 6 OR doc_id % 12 = 4
  )
),
a0 AS (SELECT fp, min(doc_id) AS doc_id FROM b0 GROUP BY 1),
s1 AS (SELECT fp, min(doc_id) AS doc_id FROM b1 GROUP BY 1),
a1 AS (SELECT s1.fp, s1.doc_id FROM s1
       WHERE NOT EXISTS (SELECT 1 FROM a0 WHERE a0.fp = s1.fp)),
s2 AS (SELECT fp, min(doc_id) AS doc_id FROM b2 GROUP BY 1),
a2 AS (SELECT s2.fp, s2.doc_id FROM s2
       WHERE NOT EXISTS (SELECT 1 FROM a0 WHERE a0.fp = s2.fp)
         AND NOT EXISTS (SELECT 1 FROM a1 WHERE a1.fp = s2.fp))
SELECT doc_id, CAST(0 AS INTEGER) AS batch_id FROM a0
UNION ALL SELECT doc_id, CAST(1 AS INTEGER) FROM a1
UNION ALL SELECT doc_id, CAST(2 AS INTEGER) FROM a2
"""


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (r4 verdict #5): flag corpus docs
    sharing any normalized 8-word-gram with a held-out eval set. The
    eval set is derived deterministically from the same documents table
    (a 4% hash sample, texts truncated to their first 200 chars — the
    'benchmark quotes a prefix of a crawled page' shape), so the oracle
    can re-derive it bit-for-bit: DuckDB recomputes tokenization,
    gram windows, the 64-bit gram_hash64 fold (HUGEINT arithmetic over
    per-token portable-hash60s), the eval gram set,
    and the per-doc distinct-hit counts. Every sampled doc overlaps
    itself, so the result is non-vacuous by construction (asserted)."""
    from schema_drift_detector_spark.operators.decontam import contamination_hits, eval_gram_hashes
    from schema_drift_detector_spark.operators.sampling import hash_bucket

    docs = _t_fan_big(spark, sf_dir, "documents")
    eval_df = docs.filter(hash_bucket("doc_id", salt=":eval") < 40_000).select(
        F.substring("text", 1, 200).alias("text")
    )
    hits = contamination_hits(
        docs, eval_gram_hashes(eval_df, "text", n=8), "doc_id", "text", n=8
    )
    n = hits.count()
    if n == 0:
        raise RuntimeError("vacuous decontamination: no contaminated doc flagged")
    return hits.select("doc_id", F.col("n_hit_grams").cast("bigint").alias("n_hit_grams"))


def _oracle_decontaminate() -> str:
    # gram identity = gram_hash64 (uint64 polynomial fold over
    # per-token portable-hash60s, HUGEINT-replayed) — the SQL fragments
    # come from functions.text so they cannot desynchronize from the
    # engine's Arrow path
    from schema_drift_detector_spark.functions.text import (
        gram_hash64_sql,
        tokhash_list_sql,
    )

    gh = gram_hash64_sql("h", "CAST(i AS INT)", 8)
    return f"""
WITH tok AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS t
  FROM documents
),
eval_tok AS (
  SELECT list_filter(string_split_regex(lower(substr(text, 1, 200)), '[^a-z0-9]+'),
                     x -> x <> '') AS t
  FROM documents
  WHERE {hash_bucket_sql('CAST(doc_id AS VARCHAR)', salt=':eval')} < 40000
),
eval_th AS (SELECT {tokhash_list_sql('t')} AS h FROM eval_tok WHERE len(t) >= 8),
doc_th AS (SELECT doc_id, {tokhash_list_sql('t')} AS h FROM tok WHERE len(t) >= 8),
eval_grams AS (
  SELECT DISTINCT {gh} AS gh
  FROM eval_th, UNNEST(generate_series(1, len(h) - 7)) AS u(i)
),
doc_grams AS (
  SELECT DISTINCT doc_id, {gh} AS gh
  FROM doc_th, UNNEST(generate_series(1, len(h) - 7)) AS u(i)
)
SELECT d.doc_id, CAST(count(*) AS BIGINT) AS n_hit_grams
FROM doc_grams d JOIN eval_grams e ON d.gh = e.gh
GROUP BY 1
"""


ORACLE_DECONTAMINATE = _oracle_decontaminate()


def q_kmeans_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spherical k-means trainer certified via the tolerance-contract
    pattern (like quantile_drift_spans): the engine's fused
    assign+partial-sum mapInPandas trainer runs 2 Lloyd iterations
    (k=8) and each resulting centroid component is attested within
    eps=1e-9 of an exact SQL-formula replay of the same deterministic
    algorithm (md5-sample init, lowest-cell argmax tie-break, per-cell
    mean, renormalize). DuckDB recomputes the replay independently, so
    the hash certifies init pick, every assignment round, the partial-
    sum merge, and renormalization. eps context: FP summation-order
    noise is ~1e-14; a single wrong assignment moves a component by
    ~1/cell_count ≈ 2e-2 — the gate sits 5 orders of magnitude from
    both."""
    from schema_drift_detector_spark.operators.ann import kmeans_centroids

    emb = _t(spark, sf_dir, "embeddings")
    k, iters, eps = 8, 2, 1e-9
    eng = kmeans_centroids(emb, k, iters=iters).select(
        "centroid_id", F.posexplode("centroid_vec").alias("pos", "ev")
    )
    ref = _kmeans_sql_replay(emb, k, iters)
    return eng.join(ref, ["centroid_id", "pos"]).select(
        "centroid_id",
        "pos",
        F.round("ref_val", 5).alias("ref_val"),
        (F.abs(F.col("ev") - F.col("ref_val")) <= eps).alias("engine_within_eps"),
    )


_KMEANS_ORACLE_CTES = """nv AS (
  SELECT vec_id,
         list_transform(CAST(embedding AS DOUBLE[]),
           x -> x / sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
                                            CAST(embedding AS DOUBLE[])))) AS nv
  FROM embeddings
  WHERE embedding IS NOT NULL
    AND NOT list_contains(list_transform(embedding, x -> x IS NULL OR isnan(x)), true)
    AND list_inner_product(CAST(embedding AS DOUBLE[]),
                           CAST(embedding AS DOUBLE[])) > 0
),
c0 AS (
  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC, vec_id ASC) - 1
           AS centroid_id,
         nv AS cvec
  FROM nv
  ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC, vec_id ASC
  LIMIT 8
),
a1 AS (
  SELECT v.vec_id, v.nv, c.centroid_id AS cell
  FROM nv v CROSS JOIN c0 c
  QUALIFY row_number() OVER (PARTITION BY v.vec_id
            ORDER BY list_inner_product(v.nv, c.cvec) DESC, c.centroid_id ASC) = 1
),
m1 AS (
  SELECT cell, i, avg(val) AS m
  FROM (SELECT cell, unnest(nv) AS val, generate_subscripts(nv, 1) AS i FROM a1)
  GROUP BY cell, i
),
c1 AS (
  SELECT cell AS centroid_id,
         list_transform(l, x -> x / sqrt(list_inner_product(l, l))) AS cvec
  FROM (SELECT cell, list(m ORDER BY i) AS l FROM m1 GROUP BY cell)
),
a2 AS (
  SELECT v.vec_id, v.nv, c.centroid_id AS cell
  FROM nv v CROSS JOIN c1 c
  QUALIFY row_number() OVER (PARTITION BY v.vec_id
            ORDER BY list_inner_product(v.nv, c.cvec) DESC, c.centroid_id ASC) = 1
),
m2 AS (
  SELECT cell, i, avg(val) AS m
  FROM (SELECT cell, unnest(nv) AS val, generate_subscripts(nv, 1) AS i FROM a2)
  GROUP BY cell, i
),
c2 AS (
  SELECT cell AS centroid_id,
         list_transform(l, x -> x / sqrt(list_inner_product(l, l))) AS cvec
  FROM (SELECT cell, list(m ORDER BY i) AS l FROM m2 GROUP BY cell)
)"""

# the 2-iteration Lloyd replay CTEs (ending in c2: centroid_id, cvec)
# are shared by the trainer certification and the IVF-over-kmeans
# composition oracle so both certify the same arithmetic
ORACLE_KMEANS_CENTROIDS = f"""
WITH {_KMEANS_ORACLE_CTES}
SELECT centroid_id,
       generate_subscripts(cvec, 1) - 1 AS pos,
       round(unnest(cvec), 5) AS ref_val,
       TRUE AS engine_within_eps
FROM c2
"""


def q_ann_topk_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF search over TRAINED cells — the composition the kmeans
    trainer exists for (cells from 2 Lloyd iterations instead of the
    raw deterministic sample; tighter cells → better probe recall at
    the same nprobe). Certifies kmeans_centroids → assign_cells →
    topk_ivf end-to-end: the oracle re-derives the trained centroids
    with the shared Lloyd-replay CTEs and replays the probe rule on
    top. Closes the r3-verdict integration-gap pattern (an operator
    certified alone but consumed by nothing) for the ANN family."""
    from schema_drift_detector_spark.operators.ann import (
        assign_cells,
        kmeans_centroids,
        topk_ivf,
    )

    emb = _t(spark, sf_dir, "embeddings")
    cents = kmeans_centroids(emb, 8, iters=2)
    index = assign_cells(emb, cents)
    queries = emb.filter(F.col("vec_id") < 5)
    return topk_ivf(index, cents, queries, k=5, nprobe=2)


ORACLE_ANN_TOPK_IVF_KMEANS = f"""
WITH {_KMEANS_ORACLE_CTES},
assign AS (
  SELECT e.vec_id, e.embedding, c.centroid_id
  FROM embeddings e CROSS JOIN c2 c
  QUALIFY row_number() OVER (PARTITION BY e.vec_id
            ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                            c.cvec) DESC,
                     c.centroid_id ASC) = 1
),
probes AS (
  SELECT q.vec_id AS query_id, q.embedding AS qvec, c.centroid_id
  FROM (SELECT * FROM embeddings WHERE vec_id < 5) q CROSS JOIN c2 c
  QUALIFY row_number() OVER (PARTITION BY q.vec_id
            ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                            c.cvec) DESC,
                     c.centroid_id ASC) <= 2
),
scored AS (
  SELECT p.query_id, a.vec_id,
         round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                      CAST(p.qvec AS DOUBLE[])), 6) AS cos_sim
  FROM probes p JOIN assign a USING (centroid_id)
)
SELECT query_id,
       row_number() OVER (PARTITION BY query_id
                          ORDER BY cos_sim DESC, vec_id ASC) AS rank,
       vec_id, cos_sim
FROM scored
QUALIFY rank <= 5
"""


def q_semantic_near_dups_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-shaped semantic near-dup: IVF cells bucket the corpus
    with nprobe=2 multi-assignment, and only same-cell pairs are
    cosine-verified. The oracle replays assignment + within-cell pairs,
    so the candidate rule itself is certified — recall vs exact
    all-pairs is measured in tests (0.93 at this SF, nprobe=2), not
    silently assumed. The entry uses the md5-picked DETERMINISTIC
    centroids (bit-identical in both engines) rather than the trained
    ones: trained centroids agree cross-engine only to ~1e-5 (the
    FP-order caveat the kmeans oracle's tolerance contract absorbs),
    and a top-2 rank comparison through drifting centroids would be
    certification-fragile at cell boundaries (review r5 #1). The
    trainer→assignment composition is certified by ann_topk_ivf_kmeans;
    production callers pass kmeans_centroids output for better cells.
    Non-vacuous: asserts pairs exist."""
    from schema_drift_detector_spark.operators.ann import deterministic_centroids
    from schema_drift_detector_spark.operators.dedup import semantic_near_duplicates_ivf

    emb = _t(spark, sf_dir, "embeddings")
    cents = deterministic_centroids(emb, 8).select(
        "centroid_id", F.col("centroid_vec")
    )
    pairs = semantic_near_duplicates_ivf(emb, cents, threshold=0.4, nprobe=2)
    out = pairs.select("doc_a", "doc_b", "cos_sim")
    if out.limit(1).count() == 0:
        raise RuntimeError("vacuous semantic near-dup fixture: no pair >= 0.4")
    return out


ORACLE_SEMANTIC_NEAR_DUPS_IVF = """
WITH cents AS (
  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC, vec_id ASC) - 1
           AS centroid_id,
         embedding AS cvec
  FROM embeddings
  ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC, vec_id ASC
  LIMIT 8
),
massign AS (
  SELECT e.vec_id, e.embedding, c.centroid_id AS cell
  FROM embeddings e CROSS JOIN cents c
  WHERE e.embedding IS NOT NULL
  QUALIFY row_number() OVER (PARTITION BY e.vec_id
            ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                            CAST(c.cvec AS DOUBLE[])) DESC,
                     c.centroid_id ASC) <= 2
)
SELECT DISTINCT a.vec_id AS doc_a, b.vec_id AS doc_b,
       round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                    CAST(b.embedding AS DOUBLE[])), 6) AS cos_sim
FROM massign a JOIN massign b
  ON a.cell = b.cell AND a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                   CAST(b.embedding AS DOUBLE[])), 6) >= 0.4
"""


def q_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane-LSH embedding near-dup (the scale path: only
    signature-equal docs are candidates). Oracle replicates the plane
    signatures bit-for-bit via shared seeded-numpy literals."""
    from schema_drift_detector_spark.operators.dedup import embedding_near_duplicates

    emb = _t(spark, sf_dir, "embeddings")
    return embedding_near_duplicates(
        emb, "vec_id", "embedding", threshold=0.3, n_planes=8, seed=42, dim=64
    )


def _oracle_embedding_near_dups() -> str:
    """Same planes as embedding_near_duplicates(seed=42, n_planes=8,
    dim=64); sign(dot(normalized, p)) == sign(dot(raw, p)), so DuckDB
    computes signatures on the raw embedding."""
    import numpy as np

    planes = np.random.default_rng(42).standard_normal((8, 64))
    sig_terms = " || ".join(
        "(CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), "
        f"[{', '.join(f'{x!r}' for x in p.tolist())}]) > 0 "
        "THEN '1' ELSE '0' END)"
        for p in planes
    )
    return f"""
WITH sig AS (
  SELECT vec_id, embedding, {sig_terms} AS s
  FROM embeddings
)
SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
       round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                    CAST(b.embedding AS DOUBLE[])), 6) AS cos_sim
FROM sig a JOIN sig b ON a.s = b.s AND a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                   CAST(b.embedding AS DOUBLE[])), 6) >= 0.3
"""


# --------------------------------------------------------------------------
# Non-SQL-expressible ops → rows-only checks
# --------------------------------------------------------------------------

def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH in the md5-affine hash mode: the DuckDB oracle
    recomputes the identical 64-long signatures, band buckets, and
    signature-overlap estimates — full hash-equality certification of
    the LSH scale path (not just row counts)."""
    from schema_drift_detector_spark.operators.dedup import minhash_near_duplicates

    docs = _t(spark, sf_dir, "documents")
    return minhash_near_duplicates(
        docs, "doc_id", "text", n=5, k=64, bands=16, threshold=0.6, hash_fn="md5"
    )


def _minhash_oracle_parts_sfx(table: str, sfx: str) -> dict:
    """Suffix-parameterized md5-affine MinHash SQL parts, so two epochs'
    signature CTEs can coexist in one WITH clause (cross-epoch near-dup
    oracle): dict(ctes, sig='sig<sfx>', band_eq, est) — band_eq/est are
    join-condition fragments over aliases a/b of any sig table."""
    from schema_drift_detector_spark.operators.dedup import (
        MERSENNE31,
        minhash_permutation_params,
    )

    params = minhash_permutation_params(64)
    mins = ",\n         ".join(
        f"min(({a} * h31 + {b}) % {MERSENNE31}) AS m{i}" for i, (a, b) in enumerate(params)
    )
    band_eq = "\n    OR ".join(
        "(" + " AND ".join(f"a.m{4 * j + r} = b.m{4 * j + r}" for r in range(4)) + ")"
        for j in range(16)
    )
    est = " + ".join(f"(CASE WHEN a.m{i} = b.m{i} THEN 1 ELSE 0 END)" for i in range(64))
    ctes = f"""sh{sfx} AS (
  SELECT DISTINCT doc_id, substr(text, CAST(i AS INT), 5) AS s
  FROM {table}, unnest(generate_series(1, greatest(len(text) - 4, 1))) t(i)
), hashed{sfx} AS (
  SELECT doc_id, {portable_hash60_sql('s')} % {MERSENNE31} AS h31
  FROM sh{sfx}
), sig{sfx} AS (
  SELECT doc_id, {mins}
  FROM hashed{sfx} GROUP BY doc_id
)"""
    return {"ctes": ctes, "sig": f"sig{sfx}", "band_eq": band_eq, "est": est}


def _minhash_oracle_parts(table: str = "documents") -> tuple[str, str]:
    """(ctes, pair_select) — the md5-affine signature CTEs and the
    banded candidate-pair SELECT, shared by the pair oracle, the
    connected-components oracle, and the composed-pipeline oracle
    (which runs them over a derived CTE instead of the raw table) so
    all certify the same arithmetic."""
    p = _minhash_oracle_parts_sfx(table, "")
    pair_select = f"""SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       ({p['est']}) / 64.0 AS est_jaccard
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE ({p['band_eq']})
  AND ({p['est']}) / 64.0 >= 0.6"""
    return p["ctes"], pair_select


def _oracle_minhash_lsh() -> str:
    ctes, pair_select = _minhash_oracle_parts()
    return f"\nWITH {ctes}\n{pair_select}\n"


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering: MinHash-LSH pairs → connected components
    (hash-min label propagation) → (doc, cluster=min member). The oracle
    recomputes the identical pairs (shared SQL parts) and closes them
    with a recursive CTE — certifying the iterative BSP propagation
    against an exact transitive closure."""
    from schema_drift_detector_spark.operators.dedup import (
        connected_components,
        minhash_near_duplicates,
    )

    docs = _t_fan_big(spark, sf_dir, "documents")
    pairs = minhash_near_duplicates(
        docs, "doc_id", "text", n=5, k=64, bands=16, threshold=0.6, hash_fn="md5"
    )
    return connected_components(pairs)


def q_corpus_neardup_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full near-dup dedup pipeline as a user runs it: LSH pairs →
    connected components → drop every non-canonical member (doc !=
    cluster rep) via left_anti — returns the surviving corpus. Certifies
    the composition, not just the stages."""
    from schema_drift_detector_spark.operators.dedup import (
        connected_components,
        minhash_near_duplicates,
    )

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_near_duplicates(
        docs, "doc_id", "text", n=5, k=64, bands=16, threshold=0.6, hash_fn="md5"
    )
    drops = connected_components(pairs).filter(F.col("doc") != F.col("cluster"))
    return docs.join(
        drops.select(F.col("doc").alias("doc_id")), "doc_id", "left_anti"
    ).select("doc_id", F.length("text").alias("text_len"))


def _oracle_corpus_neardup_drop() -> str:
    ctes, pair_select = _minhash_oracle_parts()
    return f"""
WITH RECURSIVE {ctes},
pairs AS ({pair_select}),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
reach(doc, r) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.a, reach.r FROM edges e JOIN reach ON reach.doc = e.b
),
cl AS (SELECT doc, min(r) AS cluster FROM reach GROUP BY doc),
drops AS (SELECT doc FROM cl WHERE doc <> cluster)
SELECT d.doc_id, CAST(length(d.text) AS INT) AS text_len
FROM documents d LEFT JOIN drops ON d.doc_id = drops.doc
WHERE drops.doc IS NULL
"""


def q_corpus_prep_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED training-data prep job (r3 verdict #4): exact dedup
    → per-source quota cap → near-dup drop (MinHash-LSH + connected
    components) → leakage-free train/validation split. Every stage
    BINDS on this fixture: deterministic 20% clones (doc_id 'dup-'+id,
    identical text) make exact dedup drop real rows; the 20-doc cap
    binds on every 25-doc source; the LSH graph drops non-canonical
    members; the split labels all survivors. Certifies the stages'
    COMPOSITION — in particular that the per-purpose salts (:clone,
    :quota, :split) keep the three hash decisions independent — against
    a single DuckDB replay of the whole chain."""
    from schema_drift_detector_spark.operators.dedup import (
        connected_components,
        drop_exact_duplicates,
        minhash_near_duplicates,
    )
    from schema_drift_detector_spark.operators.sampling import (
        cap_per_group,
        sample_by_hash,
        split_by_hash,
    )

    # null doc_ids are excluded UP FRONT (a null key cannot be cloned,
    # capped, clustered, or split deterministically) so the engine and
    # the oracle share one explicit contract instead of relying on
    # cap_per_group's passthrough vs the SQL replay's WHERE to agree
    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id").isNotNull())
        .withColumn("doc_id", F.col("doc_id").cast("string"))
    )
    clones = sample_by_hash(docs, "doc_id", 0.2, salt=":clone").withColumn(
        "doc_id", F.concat(F.lit("dup-"), F.col("doc_id"))
    )
    base = docs.unionByName(clones)
    exact = drop_exact_duplicates(base, "doc_id", "text")
    # NOT checkpointed (r8 measurement): materializing capped before the
    # MinHash pass serializes what the lazy recompute overlaps — 2.8 s
    # checkpointed vs 2.2 s plain at sf0.1
    capped = cap_per_group(exact, "source", "doc_id", 20)
    pairs = minhash_near_duplicates(
        capped, "doc_id", "text", n=5, k=64, bands=16, threshold=0.6, hash_fn="md5"
    )
    drops = connected_components(pairs).filter(F.col("doc") != F.col("cluster"))
    surv = capped.join(
        drops.select(F.col("doc").alias("doc_id")), "doc_id", "left_anti"
    )
    out = split_by_hash(surv, "doc_id", [0.8], labels=("train", "validation"))
    return out.select("doc_id", "source", "split")


def _oracle_corpus_prep_full() -> str:
    ctes, pair_select = _minhash_oracle_parts(table="capped")
    return f"""
WITH RECURSIVE base AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, text, lang, source, n_chars
  FROM documents
  WHERE doc_id IS NOT NULL
  UNION ALL
  SELECT 'dup-' || CAST(doc_id AS VARCHAR) AS doc_id, text, lang, source, n_chars
  FROM documents
  WHERE doc_id IS NOT NULL
    AND {hash_bucket_sql('CAST(doc_id AS VARCHAR)', salt=':clone')} < 200000
),
exact AS (
  SELECT * FROM base
  QUALIFY doc_id = min(doc_id) OVER (PARTITION BY md5(text))
),
capped AS (
  SELECT * FROM exact
  WHERE doc_id IS NOT NULL
  QUALIFY row_number() OVER (
    PARTITION BY source
    ORDER BY {hash_bucket_sql('doc_id', salt=':quota')} ASC,
             doc_id ASC
  ) <= 20
),
{ctes},
pairs AS ({pair_select}),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
reach(doc, r) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.a, reach.r FROM edges e JOIN reach ON reach.doc = e.b
),
cl AS (SELECT doc, min(r) AS cluster FROM reach GROUP BY doc),
drops AS (SELECT doc FROM cl WHERE doc <> cluster)
SELECT c.doc_id, c.source,
       CASE WHEN {hash_bucket_sql('c.doc_id', salt=':split')} < 800000
            THEN 'train' ELSE 'validation' END AS split
FROM capped c LEFT JOIN drops ON c.doc_id = drops.doc
WHERE drops.doc IS NULL
"""


def _oracle_dedup_clusters() -> str:
    ctes, pair_select = _minhash_oracle_parts()
    return f"""
WITH RECURSIVE {ctes},
pairs AS ({pair_select}),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
reach(doc, r) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.a, reach.r FROM edges e JOIN reach ON reach.doc = e.b
)
SELECT doc, min(r) AS cluster FROM reach GROUP BY doc
"""


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash chunk-LSH in md5 mode — oracle recomputes the identical
    64 sign bits, chunk buckets, and hamming distances."""
    from schema_drift_detector_spark.operators.dedup import simhash_near_duplicates

    docs = _t_fan_big(spark, sf_dir, "documents")
    return simhash_near_duplicates(
        docs, "doc_id", "text", max_hamming=8, chunks=3, hash_fn="md5"
    )


def _oracle_simhash() -> str:
    # packed 60-bit signature: per-bit majority → CASE term carrying the
    # bit's place value; chunk buckets are 15-bit shift/mask fields and
    # hamming is bit_count(xor) — identical arithmetic to
    # operators/dedup.py::simhash_signature60 / simhash_near_duplicates
    sig = " + ".join(
        f"(CASE WHEN sum(CASE WHEN ((h >> {b}) & 1) = 1 THEN 1 ELSE -1 END) > 0 "
        f"THEN (CAST(1 AS BIGINT) << {b}) ELSE 0 END)"
        for b in range(60)
    )
    chunk_eq = " OR ".join(
        f"((a.sig >> {20 * j}) & 1048575) = ((b.sig >> {20 * j}) & 1048575)"
        for j in range(3)
    )
    return f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
), hashed AS (
  SELECT doc_id, {portable_hash60_sql('t')} AS h
  FROM tok
), sigs AS (
  SELECT doc_id, {sig} AS sig
  FROM hashed GROUP BY doc_id
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming_distance
FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
WHERE ({chunk_eq})
  AND bit_count(xor(a.sig, b.sig)) <= 8
"""


def q_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints, fully hash-certified: the oracle
    recomputes the code-point Rabin–Karp rolling hashes and
    sliding-window minima in SQL (list_reduce/list_transform), matching
    the Arrow-vectorized numpy path value-for-value."""
    from schema_drift_detector_spark.functions.text import winnowing_fingerprint_arrow

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.explode(winnowing_fingerprint_arrow("text", n=8, window=4)).alias("fp"),
    )


ORACLE_WINNOWING = """
WITH pos AS (
  SELECT doc_id, text, unnest(generate_series(1, greatest(len(text) - 7, 1))) AS p
  FROM documents
), h AS (
  SELECT doc_id, p,
    list_reduce(
      list_transform(generate_series(CAST(p AS INT), CAST(least(p + 7, len(text)) AS INT)),
                     j -> unicode(substr(text, j, 1))),
      (acc, x) -> (acc * 131 + x) % 1000003) AS hv,
    count(*) OVER (PARTITION BY doc_id) AS L
  FROM pos
), wm AS (
  SELECT doc_id, p, L,
    min(hv) OVER (PARTITION BY doc_id ORDER BY p
                  ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin
  FROM h
)
SELECT DISTINCT doc_id, CAST(wmin AS INT) AS fp
FROM wm WHERE p <= greatest(L - 3, 1)
"""


# artifacts live next to this file (committed fixtures) — located via
# __file__ like the sys.path bootstrap above, robust to driver cwd and
# to checkouts outside /root/repo
_ARTIFACTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".entry_artifacts")
_SPAN_VAL_DIR = f"{_ARTIFACTS}/span_validation"


def _write_once(df: DataFrame, path: str) -> None:
    """Persist a DETERMINISTIC frame only if absent. The artifacts under
    .entry_artifacts/ are committed to git so the DuckDB oracles can
    read them regardless of whether the paired Spark query has run yet
    in this process (and on a fresh checkout). Content is a pure
    function of SynthConfig — bump the directory name if the config
    ever changes."""
    import os

    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        df.write.mode("overwrite").parquet(path)


def _span_val_tables(spark: SparkSession) -> tuple[DataFrame, DataFrame]:
    """Synthesize the interleaved documents + asset catalog, persisted to
    parquet so the DuckDB oracles recompute from the same bytes."""
    from schema_drift_detector_spark.sources.synth import (
        SynthConfig,
        synth_asset_catalog,
        synth_documents,
    )

    cfg = SynthConfig(n_docs=3_200, n_partitions=8, n_assets=4_000)
    _write_once(synth_documents(spark, cfg, epoch=0), f"{_SPAN_VAL_DIR}/docs")
    _write_once(synth_asset_catalog(spark, cfg), f"{_SPAN_VAL_DIR}/catalog")
    return (
        spark.read.parquet(f"{_SPAN_VAL_DIR}/docs"),
        spark.read.parquet(f"{_SPAN_VAL_DIR}/catalog"),
    )


def q_span_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interleaved-document constraint verdicts on the synthetic table
    (BASELINE.json input_hint shape) — uniqueness + referential
    integrity per partition."""
    from schema_drift_detector_spark.operators.constraints import (
        check_referential_integrity,
        check_uniqueness,
    )

    docs, catalog = _span_val_tables(spark)
    uq_v, _ = check_uniqueness(docs, run_id="entry")
    ri_v, _ = check_referential_integrity(docs, catalog, run_id="entry")
    return uq_v.unionByName(ri_v).select(
        "partition_id", "constraint", "passed", "severity", "summary"
    )


ORACLE_SPAN_VALIDATION = f"""
WITH docs AS (
  SELECT * FROM read_parquet('{_SPAN_VAL_DIR}/docs/*.parquet')
), cat AS (
  SELECT DISTINCT media_ref FROM read_parquet('{_SPAN_VAL_DIR}/catalog/*.parquet')
), dups AS (
  SELECT doc_id FROM docs GROUP BY doc_id HAVING count(*) > 1
), uq AS (
  SELECT d.partition_id,
         CAST(sum(CASE WHEN u.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dup_rows,
         count(DISTINCT u.doc_id) AS n_dup_keys
  FROM docs d LEFT JOIN dups u ON d.doc_id = u.doc_id
  GROUP BY 1
), refs AS (
  SELECT partition_id, s.media_ref AS media_ref
  FROM (SELECT partition_id, unnest(spans) AS s FROM docs)
  WHERE s.media_ref IS NOT NULL
), ri AS (
  SELECT r.partition_id,
         count(*) AS n_refs,
         CAST(sum(CASE WHEN c.media_ref IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dangling
  FROM refs r LEFT JOIN cat c ON r.media_ref = c.media_ref
  GROUP BY 1
)
SELECT partition_id, 'uniqueness' AS "constraint",
       n_dup_rows = 0 AS passed,
       CASE WHEN n_dup_rows = 0 THEN 'info' ELSE 'high' END AS severity,
       CASE WHEN n_dup_rows = 0 THEN 'uniqueness ok'
            ELSE printf('%d duplicate rows across %d keys', n_dup_rows, n_dup_keys)
       END AS summary
FROM uq
UNION ALL
SELECT partition_id, 'referential_integrity' AS "constraint",
       n_dangling = 0 AS passed,
       CASE WHEN n_dangling = 0 THEN 'info' ELSE 'high' END AS severity,
       CASE WHEN n_dangling = 0 THEN 'referential integrity ok'
            ELSE printf('%d dangling media_refs of %d', n_dangling, n_refs)
       END AS summary
FROM ri
"""


def q_span_validation_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The huge-catalog RI path: Bloom pre-filter (no false negatives)
    resolves most refs without any join; only 'maybe' rows reach the
    exact anti-join. Hash-checked against the SAME SQL oracle as the
    plain-join path — the fpp sizes the residual join, never the
    answer."""
    from schema_drift_detector_spark.operators.constraints import (
        check_referential_integrity,
        check_uniqueness,
    )

    docs, catalog = _span_val_tables(spark)
    uq_v, _ = check_uniqueness(docs, run_id="entry")
    ri_v, _ = check_referential_integrity(docs, catalog, run_id="entry", bloom_catalog=True)
    return uq_v.unionByName(ri_v).select(
        "partition_id", "constraint", "passed", "severity", "summary"
    )


def q_stream_span_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming on the certified board: the SAME interleaved
    docs flow through readStream → foreachBatch(stream_validate) →
    parquet sink, and the sink's uniqueness/RI verdicts are hash-checked
    against the SAME SQL oracle as the batch path — streaming/batch
    semantic parity enforced by the driver, not just by pytest."""
    import shutil

    from schema_drift_detector_spark.streaming.epochs import stream_validate

    docs, catalog = _span_val_tables(spark)
    out = f"{_ARTIFACTS}/stream_span_validation"
    shutil.rmtree(out, ignore_errors=True)
    stream = spark.readStream.schema(docs.schema).parquet(f"{_SPAN_VAL_DIR}/docs")
    q = stream_validate(stream, catalog, out, trigger_available_now=True)
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError("stream_span_validation did not finish within 300s")
    return (
        spark.read.parquet(f"{out}/verdicts")
        .select("partition_id", "constraint", "passed", "severity", "summary")
    )


def q_stream_running_profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator on the certified board:
    running per-partition profiles via applyInPandasWithState, fed one
    parquet file per micro-batch (maxFilesPerTrigger=1) so every
    partition's state provably folds ACROSS batches (the entry refuses
    to answer if only one update per partition was emitted). The final
    lifetime profile per partition is hash-checked against the exact
    batch SQL aggregation over the same persisted bytes."""
    import shutil

    from pyspark.sql import Window

    from schema_drift_detector_spark.streaming.stateful import running_partition_profiles

    docs, _ = _span_val_tables(spark)
    out = f"{_ARTIFACTS}/stream_running_profiles"
    shutil.rmtree(out, ignore_errors=True)
    shutil.rmtree(f"{out}_ckpt", ignore_errors=True)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{_SPAN_VAL_DIR}/docs")
    )

    def sink(batch_df, batch_id):
        batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(out)

    q = (
        running_partition_profiles(stream)
        .writeStream.outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", f"{out}_ckpt")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError("stream_running_profiles did not finish within 300s")
    rows = spark.read.parquet(out)
    # the invariant is PER PARTITION: every partition must have emitted
    # >1 update, or its state never folded across batches and the
    # certification would be vacuous for it (a global row-count check
    # passes even when one file holds all of a partition's rows)
    min_updates = (
        rows.groupBy("partition_id").count().agg(F.min("count")).first()[0]
    )
    if min_updates is None or min_updates <= 1:
        raise RuntimeError(
            "state never folded across micro-batches — expected >1 update per partition"
        )
    w = Window.partitionBy("partition_id").orderBy(F.col("batch_id").desc())
    return (
        rows.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("partition_id", "n_docs", "n_spans", "text_null_ratio", "offset_max")
    )


ORACLE_STREAM_RUNNING_PROFILES = f"""
WITH docs AS (SELECT * FROM read_parquet('{_SPAN_VAL_DIR}/docs/*.parquet')),
d AS (SELECT partition_id, CAST(count(*) AS BIGINT) AS n_docs FROM docs GROUP BY 1),
sp AS (SELECT partition_id, unnest(spans) AS s FROM docs),
a AS (
  SELECT partition_id,
         CAST(count(*) AS BIGINT) AS n_spans,
         count(*) FILTER (s.kind = 'text') AS n_text,
         count(*) FILTER (s.kind = 'text' AND s.text IS NULL) AS n_text_null,
         CAST(max(s."offset") AS BIGINT) AS offset_max
  FROM sp GROUP BY 1
)
SELECT d.partition_id, d.n_docs, coalesce(a.n_spans, 0) AS n_spans,
       CASE WHEN a.n_text > 0 THEN a.n_text_null / a.n_text END AS text_null_ratio,
       a.offset_max
FROM d LEFT JOIN a ON d.partition_id = a.partition_id
"""


def _stream_events_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared streaming-replay source of every streaming entry: the
    events table written once as a 4-way random split, streamed one
    file per trigger. Watermarks require TIMESTAMP; the parquet column
    reads as TIMESTAMP_NTZ — the cast is value-preserving under the
    UTC session timezone (session.py pins it)."""
    ev = _t(spark, sf_dir, "events")
    tag = os.path.basename(sf_dir.rstrip("/"))
    src = f"{_ARTIFACTS}/stream_windows/events4_{tag}"
    _write_once(ev.repartition(4), src)
    return (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )


def _stream_events_source_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-TIME-ORDERED streaming replay: the events table split into
    4 ts-quartile files whose mtimes are forced ascending (the file
    stream source processes oldest-mtime first), so event time arrives
    monotonically up to quartile width. Required by the left-outer join
    face: with the random 4-way split, a matching row can arrive AFTER
    the watermark already passed its window — the left row would have
    emitted a null-pad and the true pair would be lost (nondeterminism,
    not just loss; see stream_time_bounded_join's left_outer
    contract)."""
    import glob
    import shutil

    ev = _t(spark, sf_dir, "events")
    tag = os.path.basename(sf_dir.rstrip("/"))
    src = f"{_ARTIFACTS}/stream_windows/events4_ordered_{tag}"
    if not os.path.exists(os.path.join(src, "_DONE")):
        shutil.rmtree(src, ignore_errors=True)
        os.makedirs(src, exist_ok=True)
        qt = ev.withColumn(
            "__q",
            F.ntile(4).over(Window.orderBy("ts", "event_id")),
        )
        for k in range(1, 5):
            tmp = f"{src}_tmp"
            qt.filter(F.col("__q") == k).drop("__q").coalesce(1).write.mode(
                "overwrite"
            ).parquet(tmp)
            part = glob.glob(f"{tmp}/part-*.parquet")[0]
            dst = f"{src}/q{k}.parquet"
            shutil.move(part, dst)
            os.utime(dst, (1_000_000 + 100 * k,) * 2)
            shutil.rmtree(tmp)
        with open(os.path.join(src, "_DONE"), "w") as fh:
            fh.write("ok")
    return (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )


def _stream_out_dir(spark: SparkSession, sf_dir: str, out_suffix: str) -> str:
    """Fresh per-run output + checkpoint location for a streaming
    entry."""
    import shutil

    tag = os.path.basename(sf_dir.rstrip("/"))
    out = f"{_ARTIFACTS}/stream_windows/out_{out_suffix}_{tag}"
    shutil.rmtree(out, ignore_errors=True)
    shutil.rmtree(f"{out}_ckpt", ignore_errors=True)
    return out


def _run_complete_stream(
    spark: SparkSession, sf_dir: str, agg_fn, out_suffix: str
) -> DataFrame:
    """Shared protocol of the three windowed-streaming entries: stream
    the events table in 4 micro-batches (maxFilesPerTrigger=1 over a
    4-way random split), run ``agg_fn(stream)`` under complete output
    mode into a batch-id-tagged parquet sink, require >1 micro-batch
    (so cross-batch state folding is actually exercised), and return
    the FINAL batch — which must equal the batch-mode answer exactly
    (append mode would hold back windows inside the watermark horizon
    forever on a finite stream)."""
    out = _stream_out_dir(spark, sf_dir, out_suffix)
    agg = agg_fn(_stream_events_source(spark, sf_dir))

    def sink(batch_df, batch_id):
        batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(out)

    q = (
        agg.writeStream.outputMode("complete")
        .foreachBatch(sink)
        .option("checkpointLocation", f"{out}_ckpt")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError(f"stream {out_suffix} did not finish within 300s")
    rows = spark.read.parquet(out)
    last = rows.agg(F.max("batch_id")).first()[0]
    if last is None or last < 1:
        raise RuntimeError("expected >1 micro-batch — window state never folded")
    return rows.filter(F.col("batch_id") == last).select(
        F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
        "event_type",
        F.col("n_events").cast("long").alias("n_events"),
        F.round("min_value", 6).alias("min_value"),
        F.round("max_value", 6).alias("max_value"),
    )


def q_stream_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked windowed aggregation on the certified board:
    certifies incremental window state across micro-batches against
    plain SQL day-window counts (protocol: _run_complete_stream)."""
    from schema_drift_detector_spark.streaming.epochs import windowed_event_counts

    return _run_complete_stream(
        spark,
        sf_dir,
        lambda s: windowed_event_counts(s, window="1 day", watermark="2 days"),
        "tumbling",
    )


ORACLE_STREAM_WINDOWED_COUNTS = """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d %H:%M:%S') AS win_start,
       event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       round(min(value), 6) AS min_value,
       round(max(value), 6) AS max_value
FROM events
GROUP BY 1, 2
"""


def q_stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLIDING (overlapping) windowed streaming aggregation — the cell
    the tumbling entry above cannot cover: window=2 days, slide=1 day,
    so EVERY event feeds exactly two concurrently-open windows and the
    state store holds overlapping window rows across micro-batches.
    Same complete-mode final-batch protocol; the oracle replays the
    overlap by emitting each event into both of its slide-aligned
    window starts (floor_day(ts) and floor_day(ts) − 1 day)."""
    from schema_drift_detector_spark.streaming.epochs import windowed_event_counts

    return _run_complete_stream(
        spark,
        sf_dir,
        lambda s: windowed_event_counts(
            s, window="2 days", slide="1 day", watermark="2 days"
        ),
        "sliding",
    )


ORACLE_STREAM_SLIDING_COUNTS = """
WITH ex AS (
  SELECT date_trunc('day', ts) AS win_start, event_type, value FROM events
  UNION ALL
  SELECT date_trunc('day', ts) - INTERVAL 1 DAY, event_type, value FROM events
)
SELECT strftime(win_start, '%Y-%m-%d %H:%M:%S') AS win_start,
       event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       round(min(value), 6) AS min_value,
       round(max(value), 6) AS max_value
FROM ex
GROUP BY 1, 2
"""


def q_stream_session_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SESSION-window (dynamic gap) streaming aggregation — the
    windowing cell tumbling/sliding cannot express: window extent is
    data-driven, and with maxFilesPerTrigger=1 over randomly-split
    files the state store must MERGE sessions that arrive in separate
    micro-batches (an hour-gap session's events land across all 4
    files). Same complete-mode final-batch protocol; the oracle is the
    gaps-and-islands SQL replay (new session iff the in-group time gap
    exceeds 1 hour — an event exactly at the gap boundary JOINS, pinned
    empirically)."""
    from schema_drift_detector_spark.streaming.epochs import session_event_counts

    # 60-day watermark: must exceed the table's full time span — the
    # session MERGE path drops/fragments late arrivals even in complete
    # mode (see session_event_counts's WATERMARK WARNING; measured here:
    # a 2-day watermark yielded 1238 fragmented sessions vs 626 true)
    return _run_complete_stream(
        spark,
        sf_dir,
        lambda s: session_event_counts(s, gap="1 hour", watermark="60 days"),
        "session",
    )


ORACLE_STREAM_SESSION_COUNTS = """
WITH o AS (
  SELECT event_type, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w > INTERVAL 1 HOUR THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY event_type ORDER BY ts)
), s AS (
  SELECT event_type, ts, value,
         sum(new_s) OVER (PARTITION BY event_type ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM o
)
SELECT strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS win_start,
       event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       round(min(value), 6) AS min_value,
       round(max(value), 6) AS max_value
FROM s
GROUP BY event_type, sid
"""


_STREAM_DD_DIR = f"{_ARTIFACTS}/stream_dedup_wm"
# watermark-delay minutes and the per-batch fixture rows (minute offsets
# are relative to a +1-day base — a row AT epoch 0 would sit on Spark's
# INITIAL watermark and be dropped as late before any data arrives).
# Semantics pinned empirically on Spark 4.1 dropDuplicatesWithinWatermark
# and mirrored in the oracle: a row is late iff ts < wm(start of its
# batch); state is matched during a batch even when already expired, and
# evicted at batch END using that batch's own start-of-batch watermark —
# so a kept row from batch b' blocks duplicates in batch b iff
# ts' + delay >= wm(during batch b-1). No fixture row sits on an
# eviction/lateness boundary, so the contract is rounding-free.
_STREAM_DD_DELAY_MIN = 10
_STREAM_DD_BASE_MIN = 1440
_STREAM_DD_BATCHES = [
    # batch 0 (wm = initial 0): all first occurrences -> kept
    [("A", "ta", 0), ("B", "tb", 5), ("C", "tc", 30)],
    # batch 1 (wm = 30-10 = 20): A2 dup of A — A's state EXPIRED
    # (0+10 < 20) but not yet evicted -> still dropped; C2 dup of live C
    # -> dropped; L (ts 12 < wm 20) -> late-dropped; D new -> kept
    [("A2", "ta", 21), ("C2", "tc", 31), ("L", "tb", 12), ("D", "td", 35)],
    # batch 2 (wm = 35-10 = 25): A was evicted at end of batch 1
    # (10 < 20) and A2 never created state -> A3 KEPT (re-admission);
    # C3 dup of still-live C (40 >= 20) -> dropped; E new -> kept
    [("C3", "tc", 36), ("A3", "ta", 45), ("E", "te", 26)],
]


def q_stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-bounded streaming dedup (r3 verdict #5) on the
    certified board: stream_dedup_exact (md5 fingerprint +
    dropDuplicatesWithinWatermark) fed 3 deterministic single-file
    micro-batches containing out-of-order rows, a sub-watermark LATE
    row, duplicates of live state, a duplicate of expired-but-unevicted
    state, and a post-eviction re-admission. The oracle replays the
    batch/watermark timeline in plain SQL over the same persisted batch
    files — certifying lateness filtering, state lifetime, and eviction
    order, not just row counts."""
    import os
    import shutil

    from schema_drift_detector_spark.streaming.epochs import stream_dedup_exact

    for i, rows in enumerate(_STREAM_DD_BATCHES):
        df = spark.createDataFrame(rows, "doc_id string, text string, mins int")
        _write_once(
            df.select(
                "doc_id",
                "text",
                F.timestamp_seconds(
                    (F.col("mins") + _STREAM_DD_BASE_MIN) * 60
                ).alias("ingest_ts"),
            ).coalesce(1),
            f"{_STREAM_DD_DIR}/src/b{i}",
        )
    # mtime ORDER defines batch order for the file source — force it on
    # every run (a fresh git checkout stamps all files with checkout
    # time, which would scramble the sequence)
    for i in range(len(_STREAM_DD_BATCHES)):
        t = 1_000_000 + 100 * i
        d = f"{_STREAM_DD_DIR}/src/b{i}"
        for root, _, files in os.walk(d):
            for fn in files:
                os.utime(os.path.join(root, fn), (t, t))
    out, ckpt = f"{_STREAM_DD_DIR}/out", f"{_STREAM_DD_DIR}/ckpt"
    shutil.rmtree(out, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    stream = (
        spark.readStream.schema("doc_id string, text string, ingest_ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{_STREAM_DD_DIR}/src/b*")
    )
    dd = stream_dedup_exact(
        stream,
        ts_col="ingest_ts",
        content_col="text",
        watermark=f"{_STREAM_DD_DELAY_MIN} minutes",
    )

    def sink(batch_df, batch_id):
        batch_df.withColumn("batch_id", F.lit(batch_id).cast("int")).write.mode(
            "append"
        ).parquet(out)

    q = (
        dd.writeStream.outputMode("append")
        .foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError("stream_dedup_watermark did not finish within 300s")
    kept = spark.read.parquet(out)
    n_kept = kept.count()
    n_in = sum(len(b) for b in _STREAM_DD_BATCHES)
    if n_kept == 0 or n_kept >= n_in:
        # every row kept => no dedup/lateness decision ever fired and
        # the hash would certify nothing
        raise RuntimeError(f"vacuous stream dedup: {n_kept}/{n_in} rows kept")
    return kept.select(
        "doc_id",
        "batch_id",
        (F.unix_timestamp("ingest_ts") / 60).cast("bigint").alias("ts_mins"),
    )


def _oracle_stream_dedup_watermark() -> str:
    d = _STREAM_DD_DELAY_MIN
    return f"""
WITH b0 AS (SELECT doc_id, text, ingest_ts
            FROM read_parquet('{_STREAM_DD_DIR}/src/b0/*.parquet')),
b1 AS (SELECT doc_id, text, ingest_ts
       FROM read_parquet('{_STREAM_DD_DIR}/src/b1/*.parquet')),
b2 AS (SELECT doc_id, text, ingest_ts
       FROM read_parquet('{_STREAM_DD_DIR}/src/b2/*.parquet')),
wm1 AS (SELECT max(ingest_ts) - INTERVAL {d} MINUTE AS wm FROM b0),
wm2 AS (SELECT max(ingest_ts) - INTERVAL {d} MINUTE AS wm
        FROM (SELECT ingest_ts FROM b0 UNION ALL SELECT ingest_ts FROM b1)),
-- batch 0: initial watermark is epoch 0, far below the +1-day fixture
-- base -> nothing late, no prior state -> all kept
k0 AS (SELECT doc_id, text, ingest_ts, 0 AS batch_id FROM b0),
-- batch 1: late iff ts < wm1; batch-0 state survived its end-of-batch-0
-- eviction (watermark DURING batch 0 was epoch 0), so every kept batch-0
-- row still blocks duplicates here even when already expired
k1 AS (
  SELECT r.doc_id, r.text, r.ingest_ts, 1 AS batch_id
  FROM b1 r, wm1
  WHERE r.ingest_ts >= wm1.wm
    AND NOT EXISTS (SELECT 1 FROM k0 s WHERE s.text = r.text)
),
-- batch 2: late iff ts < wm2; state from batches 0/1 survives the
-- end-of-batch-1 eviction iff its expiry (ts + delay) >= wm1
k2 AS (
  SELECT r.doc_id, r.text, r.ingest_ts, 2 AS batch_id
  FROM b2 r, wm2
  WHERE r.ingest_ts >= wm2.wm
    AND NOT EXISTS (
      SELECT 1
      FROM (SELECT text, ingest_ts FROM k0
            UNION ALL SELECT text, ingest_ts FROM k1) s, wm1
      WHERE s.text = r.text
        AND s.ingest_ts + INTERVAL {d} MINUTE >= wm1.wm
    )
)
SELECT doc_id, batch_id, CAST(epoch(ingest_ts) / 60 AS BIGINT) AS ts_mins
FROM (SELECT * FROM k0 UNION ALL SELECT * FROM k1 UNION ALL SELECT * FROM k2)
"""


def q_quantile_drift_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Digest-derived per-partition quantiles under a tolerance
    contract (hll_rollup pattern): for each partition/epoch/probability
    the engine emits the EXACT interpolated quantile (Spark percentile
    — same (n-1)p rank-interpolation definition as DuckDB
    quantile_cont) plus a boolean attesting the t-digest's quantile
    lands within eps=2.0 of it (measured worst digest error on this
    fixture: 0.57 across p∈{.1,.25,.5,.75,.9} on the 0–60 offset range,
    so the gate has >3x margin and the input is deterministic). DuckDB
    recomputes the exact quantiles and the contract expects every
    attestation TRUE — certifying digest build, serialization, and
    quantile inversion, which raw KS numbers (engine-specific) cannot."""
    import pandas as pd

    from schema_drift_detector_spark.functions import sketch
    from schema_drift_detector_spark.plans.run import baseline_tdigest
    from schema_drift_detector_spark.sources.synth import SynthConfig, synth_documents

    cfg = SynthConfig(n_docs=3_200, n_partitions=8, n_assets=4_000)
    _write_once(synth_documents(spark, cfg, epoch=0), f"{_QD_DIR}/e0")
    _write_once(synth_documents(spark, cfg, epoch=2), f"{_QD_DIR}/e2")
    probs = [0.1, 0.25, 0.5, 0.75, 0.9]
    eps = 2.0

    def one_epoch(path: str, epoch: int) -> DataFrame:
        docs = spark.read.parquet(path)
        td = baseline_tdigest(docs)  # partition_id, tdigest, n — 8 rows

        def qeval(batches):
            for b in batches:
                pids, ps, dqs = [], [], []
                for pid, blob in zip(b["partition_id"], b["tdigest"]):
                    for p in probs:
                        pids.append(int(pid))
                        ps.append(float(p))
                        dqs.append(sketch.quantile(bytes(blob), p))
                yield pd.DataFrame({"partition_id": pids, "prob": ps, "dq": dqs})

        dq = td.mapInPandas(qeval, "partition_id int, prob double, dq double")
        exact = (
            docs.select("partition_id", F.explode("spans.offset").alias("off"))
            .groupBy("partition_id")
            .agg(F.percentile("off", F.array(*[F.lit(p) for p in probs])).alias("qs"))
            .select(
                "partition_id",
                F.posexplode("qs").alias("pi", "exact_q"),
            )
            .select(
                "partition_id",
                F.element_at(F.array(*[F.lit(p) for p in probs]), F.col("pi") + 1).alias("prob"),
                "exact_q",
            )
        )
        return dq.join(exact, ["partition_id", "prob"]).select(
            F.lit(epoch).alias("epoch"),
            "partition_id",
            "prob",
            F.round("exact_q", 6).alias("exact_q"),
            (F.abs(F.col("dq") - F.col("exact_q")) <= eps).alias("digest_within_eps"),
        )

    return one_epoch(f"{_QD_DIR}/e0", 0).unionByName(one_epoch(f"{_QD_DIR}/e2", 2))


_MEDIA_DIR = f"{_ARTIFACTS}/media"


def q_media_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing certified end-to-end: synthetic opaque blobs
    (binary column) decoded via Arrow mapInPandas — header fields and
    payload byte-mean. The oracle re-parses the same persisted BLOBs in
    SQL (hex slicing), so schema, batch iteration, and byte math are all
    hash-checked, not just row counts."""
    from schema_drift_detector_spark.operators.multimodal import decode_media, synth_media
    from schema_drift_detector_spark.sources.synth import SynthConfig

    _write_once(synth_media(spark, SynthConfig(), n=200), f"{_MEDIA_DIR}/media")
    media = spark.read.parquet(f"{_MEDIA_DIR}/media")
    return decode_media(media).select(
        "media_ref", "width", "height", "n_frames",
        F.round("mean_byte", 6).alias("mean_byte"), "decoder",
    )


ORACLE_MEDIA_DECODE = f"""
WITH m AS (
  SELECT media_ref, hex(content) AS hx, octet_length(content) - 10 AS n,
         substr(hex(content), 21) AS bodyhex
  FROM read_parquet('{_MEDIA_DIR}/media/*.parquet')
)
SELECT media_ref,
  CAST('0x' || substr(hx, 9, 4) AS INT) AS width,
  CAST('0x' || substr(hx, 13, 4) AS INT) AS height,
  CAST('0x' || substr(hx, 17, 4) AS INT) AS n_frames,
  round(list_aggregate(
          list_transform(range(1, n + 1),
                         i -> CAST('0x' || substr(bodyhex, 2 * i - 1, 2) AS INT)),
          'sum') * 1.0 / n, 6) AS mean_byte,
  'sdxm' AS decoder
FROM m
"""


def q_media_byte_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-level feature extraction (size + Shannon entropy over a
    16-bin byte histogram) — Arrow numpy inside mapInPandas, oracle
    recomputes from the same BLOBs via hex parsing."""
    from schema_drift_detector_spark.operators.multimodal import (
        extract_byte_features,
        synth_media,
    )
    from schema_drift_detector_spark.sources.synth import SynthConfig

    _write_once(synth_media(spark, SynthConfig(), n=200), f"{_MEDIA_DIR}/media")
    media = spark.read.parquet(f"{_MEDIA_DIR}/media")
    return extract_byte_features(media).select(
        "media_ref", "size_bytes", F.round("entropy", 6).alias("entropy")
    )


ORACLE_MEDIA_BYTE_FEATURES = f"""
WITH m AS (
  SELECT media_ref, octet_length(content) AS sz, hex(content) AS hx
  FROM read_parquet('{_MEDIA_DIR}/media/*.parquet')
), bytes AS (
  SELECT media_ref, sz,
         unnest(list_transform(range(1, sz + 1),
                               i -> CAST('0x' || substr(hx, 2 * i - 1, 2) AS INT)))
           AS byte
  FROM m
), hist AS (
  SELECT media_ref, sz, byte >> 4 AS bin, count(*) AS c
  FROM bytes GROUP BY 1, 2, 3
)
SELECT media_ref, CAST(sz AS BIGINT) AS size_bytes,
       round(-sum((c * 1.0 / sz) * log2(c * 1.0 / sz)), 6) AS entropy
FROM hist GROUP BY media_ref, sz
"""


def q_media_frame_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling (every 2nd frame, deterministic checksum) — the
    one-row-to-many mapInPandas fan-out, hash-certified. The fixture
    deliberately includes undecodable blobs (every 13th asset: bad
    magic / truncated / empty body) so the sentinel contract
    (frame_index -1, null checksum) is certified too, not just the
    happy path."""
    from schema_drift_detector_spark.operators.multimodal import sample_frames, synth_media
    from schema_drift_detector_spark.sources.synth import SynthConfig

    _write_once(
        synth_media(spark, SynthConfig(), n=200, corrupt_every=13),
        f"{_MEDIA_DIR}/media_c13",
    )
    media = spark.read.parquet(f"{_MEDIA_DIR}/media_c13")
    return sample_frames(media, every_n=2)


ORACLE_MEDIA_FRAMES = f"""
WITH raw AS (
  SELECT media_ref, octet_length(content) AS len, hex(content) AS hx
  FROM read_parquet('{_MEDIA_DIR}/media_c13/*.parquet')
), m AS (
  -- mirror the engine's decode guards exactly: bad/short magic or a
  -- null blob decodes to fr=0, which routes the row to the sentinel arm
  SELECT media_ref,
         CASE WHEN len >= 10 AND substr(hx, 1, 8) = '5344584D'
              THEN CAST('0x' || substr(hx, 17, 4) AS INT) ELSE 0 END AS fr,
         coalesce(len, 0) - 10 AS n,
         substr(hx, 21) AS bodyhex
  FROM raw
), f AS (
  -- n >= fr mirrors the engine: a header claiming more frames than
  -- payload bytes (chunk would be 0) is undecodable → sentinel arm
  SELECT media_ref, bodyhex, fr, n, n // fr AS chunk,
         unnest(range(0, fr, 2)) AS i
  FROM m WHERE fr > 0 AND n >= fr
)
SELECT media_ref, CAST(i AS INT) AS frame_index,
  CAST(list_aggregate(
         list_transform(range(i * chunk + 1, (i + 1) * chunk + 1),
                        j -> CAST('0x' || substr(bodyhex, 2 * j - 1, 2) AS INT)),
         'sum') AS BIGINT) AS frame_checksum
FROM f
UNION ALL
-- undecodable/empty blobs: the engine emits a sentinel row
-- (frame_index -1, null checksum) instead of vanishing silently
SELECT media_ref, CAST(-1 AS INT) AS frame_index,
       CAST(NULL AS BIGINT) AS frame_checksum
FROM m WHERE NOT (fr > 0 AND n >= fr)
"""


_QD_DIR = f"{_ARTIFACTS}/quantile_drift"


def q_quantile_drift_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pass/fail face of the t-digest quantile-drift check, oracle-backed:
    on ≤~60 distinct integer offsets the digest is near-lossless, so the
    sketch-KS verdict must equal DuckDB's EXACT two-sample KS verdict
    (margins are wide: failing partitions sit at ks≈0.15-0.19, passing
    ones ≤0.045, threshold 0.1). The numeric sketch summaries stay in
    the rows-only quantile_drift_spans entry."""
    from schema_drift_detector_spark.operators.constraints import check_quantile_drift
    from schema_drift_detector_spark.plans.run import baseline_tdigest
    from schema_drift_detector_spark.sources.synth import SynthConfig, synth_documents

    cfg = SynthConfig(n_docs=3_200, n_partitions=8, n_assets=4_000)
    _write_once(synth_documents(spark, cfg, epoch=0), f"{_QD_DIR}/e0")
    _write_once(synth_documents(spark, cfg, epoch=2), f"{_QD_DIR}/e2")
    e0 = spark.read.parquet(f"{_QD_DIR}/e0")
    e2 = spark.read.parquet(f"{_QD_DIR}/e2")
    return check_quantile_drift(
        baseline_tdigest(e0), baseline_tdigest(e2), "entry", 2
    ).select("partition_id", "constraint", "passed", "severity")


ORACLE_QUANTILE_DRIFT_VERDICTS = f"""
WITH s0 AS (
  SELECT partition_id, s."offset" AS off
  FROM (SELECT partition_id, unnest(spans) AS s FROM read_parquet('{_QD_DIR}/e0/*.parquet'))
), s2 AS (
  SELECT partition_id, s."offset" AS off
  FROM (SELECT partition_id, unnest(spans) AS s FROM read_parquet('{_QD_DIR}/e2/*.parquet'))
), b AS (SELECT partition_id, off, count(*) c FROM s0 GROUP BY 1, 2),
c AS (SELECT partition_id, off, count(*) c FROM s2 GROUP BY 1, 2),
sup AS (SELECT partition_id, off FROM b UNION SELECT partition_id, off FROM c),
j AS (
  SELECT sup.partition_id, sup.off, coalesce(b.c, 0) bc, coalesce(c.c, 0) cc
  FROM sup
  LEFT JOIN b ON b.partition_id = sup.partition_id AND b.off = sup.off
  LEFT JOIN c ON c.partition_id = sup.partition_id AND c.off = sup.off
), cdfs AS (
  SELECT partition_id,
    sum(bc) OVER (PARTITION BY partition_id ORDER BY off) * 1.0
      / sum(bc) OVER (PARTITION BY partition_id) AS bcdf,
    sum(cc) OVER (PARTITION BY partition_id ORDER BY off) * 1.0
      / sum(cc) OVER (PARTITION BY partition_id) AS ccdf
  FROM j
)
SELECT partition_id, 'quantile_drift' AS "constraint",
       max(abs(bcdf - ccdf)) <= 0.1 AS passed,
       CASE WHEN max(abs(bcdf - ccdf)) <= 0.1 THEN 'info' ELSE 'high' END AS severity
FROM cdfs GROUP BY partition_id
"""


ORACLE_QUANTILE_DRIFT_SPANS = f"""
WITH offs AS (
  SELECT 0 AS epoch, partition_id, s."offset" AS off
  FROM (SELECT partition_id, unnest(spans) AS s FROM read_parquet('{_QD_DIR}/e0/*.parquet'))
  UNION ALL
  SELECT 2, partition_id, s."offset" AS off
  FROM (SELECT partition_id, unnest(spans) AS s FROM read_parquet('{_QD_DIR}/e2/*.parquet'))
), q AS (
  SELECT epoch, partition_id,
         quantile_cont(off, 0.1)  AS p10, quantile_cont(off, 0.25) AS p25,
         quantile_cont(off, 0.5)  AS p50, quantile_cont(off, 0.75) AS p75,
         quantile_cont(off, 0.9)  AS p90
  FROM offs GROUP BY 1, 2
), u AS (
  SELECT epoch, partition_id, CAST(0.1 AS DOUBLE) AS prob, p10 AS exact_q FROM q
  UNION ALL SELECT epoch, partition_id, CAST(0.25 AS DOUBLE), p25 FROM q
  UNION ALL SELECT epoch, partition_id, CAST(0.5 AS DOUBLE), p50 FROM q
  UNION ALL SELECT epoch, partition_id, CAST(0.75 AS DOUBLE), p75 FROM q
  UNION ALL SELECT epoch, partition_id, CAST(0.9 AS DOUBLE), p90 FROM q
)
-- the t-digest attestation must hold on every row (tolerance contract;
-- eps has >3x margin over the measured worst digest error, so TRUE is
-- the exact expected value, not a hope)
SELECT epoch, partition_id, prob, round(exact_q, 6) AS exact_q,
       TRUE AS digest_within_eps
FROM u
"""


def q_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup: per-partition HLL sketches, merged to
    table level WITHOUT rescanning data (hll_union_agg). The raw
    estimate is engine-specific, so the oracle contract is (a) exact
    n_rows, (b) exact distinct count, (c) a tolerance gate: the merged
    estimate must land within 5% of exact (HLL lgk=12 rse≈1.6%, so 5%
    is a >3-sigma accuracy bound — and the input is deterministic)."""
    from schema_drift_detector_spark.operators.profile import merge_hll, profile_columns

    docs, _ = _span_val_tables(spark)
    prof = profile_columns(docs)
    merged = merge_hll(prof, ["column"]).select(
        "column", "n_rows", F.col("distinct_merged").cast("long").alias("est")
    )
    exact = docs.select(
        F.explode(
            F.array(
                F.struct(F.lit("doc_id").alias("column"), F.col("doc_id").cast("string").alias("v")),
                F.struct(F.lit("quality").alias("column"), F.col("quality").cast("string").alias("v")),
            )
        ).alias("e")
    ).groupBy(F.col("e.column").alias("column")).agg(
        F.count_distinct("e.v").alias("distinct_exact")
    )
    return merged.join(exact, "column").select(
        "column",
        "n_rows",
        "distinct_exact",
        (
            F.abs(F.col("est") / F.col("distinct_exact") - 1.0) <= 0.05
        ).alias("est_within_5pct"),
    )


ORACLE_HLL_ROLLUP = f"""
WITH docs AS (SELECT * FROM read_parquet('{_SPAN_VAL_DIR}/docs/*.parquet')),
u AS (
  SELECT 'doc_id' AS "column", count(*) AS n_rows,
         count(DISTINCT doc_id) AS distinct_exact FROM docs
  UNION ALL
  SELECT 'quality', count(*), count(DISTINCT quality) FROM docs
)
SELECT "column", n_rows, distinct_exact, TRUE AS est_within_5pct FROM u
"""


def q_span_kind_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from schema_drift_detector_spark.operators.profile import profile_spans

    docs, _ = _span_val_tables(spark)
    prof = profile_spans(docs)
    return prof.select(
        "partition_id",
        "n_spans",
        F.round("text_null_ratio", 6).alias("text_null_ratio"),
        "offset_min",
        "offset_max",
    )


ORACLE_SPAN_KIND_HISTOGRAM = f"""
WITH docs AS (
  SELECT * FROM read_parquet('{_SPAN_VAL_DIR}/docs/*.parquet')
), sp AS (
  SELECT partition_id, unnest(spans) AS s FROM docs
)
SELECT partition_id,
       count(*) AS n_spans,
       round(sum(CASE WHEN s.kind = 'text' AND s.text IS NULL THEN 1 ELSE 0 END) * 1.0
             / nullif(sum(CASE WHEN s.kind = 'text' THEN 1 ELSE 0 END), 0), 6)
         AS text_null_ratio,
       min(s."offset") AS offset_min,
       max(s."offset") AS offset_max
FROM sp GROUP BY partition_id
"""


# --------------------------------------------------------------------------
# Merged board entries (round 6)
#
# The driver attests at most 50 entries per round; the round-5 board held
# 58, so 8 certified operators rotated out of the driver file two rounds
# running (r5 verdict, Next round #1). These entries MERGE pairs/triples
# whose results compose naturally — a tag column for union-shaped merges,
# a key join for wide merges — so every registered operator fits under
# the cap and gets a driver-attested row each round. The per-variant
# q_* functions stay as module-level helpers: bench.py keeps benching
# the lean variants (time-series continuity), and the merged entries
# reuse them so certification semantics are unchanged.
# --------------------------------------------------------------------------


def q_jaccard_pairs_merged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard, both certified faces in one entry: the
    full all-pairs verification path (threshold 0.5) and the
    deterministic 1/10-sample bench variant (threshold 0.2), tagged by
    `variant`."""
    full = q_jaccard_pairs(spark, sf_dir).select(F.lit("full").alias("variant"), "*")
    samp = q_jaccard_pairs_sample(spark, sf_dir).select(
        F.lit("sample10").alias("variant"), "*"
    )
    return full.unionByName(samp)


ORACLE_JACCARD_MERGED = f"""
SELECT 'full' AS variant, * FROM ({ORACLE_JACCARD}) j_full
UNION ALL
SELECT 'sample10' AS variant, * FROM ({ORACLE_JACCARD_SAMPLE}) j_samp
"""


# normalize-face plants, defined ONCE and rendered into the oracle by
# _sql_str so the Spark literal and the SQL literal cannot drift:
# decomposed accents + NBSP + Turkish İ + Greek final-sigma word (NFC +
# casing rules), C0 controls incl. NUL + tab (strip/map rules), double
# spaces + CRLF + edge whitespace (collapse/trim rules)
_NORM_PLANT_NFC = "\nCafe\u0301 \u00a0 NAI\u0308VE \u0130STANBUL \u03a1\u0397\u0393\u0391\u03a3"
_NORM_PLANT_CTRL = "\nbell\x07s and\ttabs\x00end"
_NORM_PLANT_WS = "  double  spaces \r\n crlf line "

# e2e-pipeline unicode-clone plants: the %10 original gets the COMPOSED
# suffix, its clone the DECOMPOSED+NBSP+double-space one \u2014 byte-unequal
# strings that normalize to the SAME text, so exact dedup catches the
# clone pair ONLY if the normalize stage is live (the binding gate for
# composing normalization ahead of dedup)
_E2E_NFC_RAW = " na\u00efve caf\u00e9"
_E2E_NFC_CLONE = " nai\u0308ve\u00a0 cafe\u0301"


def _sql_str(s: str) -> str:
    """Render a Python string as a DuckDB expression — printable-ASCII
    runs as quoted literals, everything else (controls, quotes,
    non-ASCII) as chr(n) — so plant constants embed safely in oracle
    SQL regardless of content."""
    parts: list[str] = []
    run: list[str] = []

    def flush():
        if run:
            parts.append("'" + "".join(run) + "'")
            run.clear()

    for ch in s:
        if " " <= ch <= "~" and ch != "'":
            run.append(ch)
        else:
            flush()
            parts.append(f"chr({ord(ch)})")
    flush()
    return " || ".join(parts) if parts else "''"


def q_text_doc_features__normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 'normalize' face (bare plan): Unicode normalization
    (functions/normalize.py — strip controls, NFC, space mapping,
    collapse, line-edge trim, pinned-casing lowercase) over planted
    fixtures that make each rule family bind; the md5 of the normalized
    text hash-checks every composed codepoint and collapsed run."""
    from schema_drift_detector_spark.functions.normalize import normalize_text_arrow

    d = F.col("doc_id")
    docs = _t_fan_big(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(d % 97 == 3, F.lit(None).cast("string"))
        .otherwise(
            F.concat(
                F.col("text"),
                F.when(d % 11 == 0, F.lit(_NORM_PLANT_NFC)).otherwise(F.lit("")),
                F.when(d % 13 == 0, F.lit(_NORM_PLANT_CTRL)).otherwise(F.lit("")),
                F.when(d % 17 == 0, F.lit(_NORM_PLANT_WS)).otherwise(F.lit("")),
            )
        )
        .alias("text"),
    )
    out = docs.select(
        "doc_id",
        F.col("text").alias("__raw"),
        normalize_text_arrow("text", lowercase=True).alias("__norm"),
    )
    return out.select(
        "doc_id",
        F.md5(F.coalesce(F.col("__norm"), F.lit(""))).alias("cleaned_fp"),
        F.length("__raw").alias("n_chars_raw"),
        F.length("__norm").alias("n_chars_norm"),
    )


def _oracle_tdf_normalize() -> str:
    from schema_drift_detector_spark.functions.normalize import normalize_sql

    return f"""
WITH norm_fixture AS (
  SELECT doc_id,
         CASE WHEN doc_id % 97 = 3 THEN NULL
              ELSE text
                || CASE WHEN doc_id % 11 = 0 THEN {_sql_str(_NORM_PLANT_NFC)} ELSE '' END
                || CASE WHEN doc_id % 13 = 0 THEN {_sql_str(_NORM_PLANT_CTRL)} ELSE '' END
                || CASE WHEN doc_id % 17 = 0 THEN {_sql_str(_NORM_PLANT_WS)} ELSE '' END
         END AS t
  FROM documents
),
normed AS (
  SELECT doc_id, t, {normalize_sql('t', lowercase=True)} AS n FROM norm_fixture
)
SELECT doc_id,
       md5(coalesce(n, '')) AS cleaned_fp,
       CAST(length(t) AS INT) AS n_chars_raw,
       CAST(length(n) AS INT) AS n_chars_norm
FROM normed
"""


# the 'url' face's governance config + planted fixture (documents has
# no URL column; the CASE below is mirrored verbatim in _URL_CASE_SQL):
# %7==0 exercises the exact-domain rule THROUGH the www+case
# canonicalization, %7==1 the subdomain-suffix rule, %7==2 the soft
# keyword threshold (score 4 >= 3), %7==3 the hard keyword, %7==4 a
# PASS with a positive sub-threshold score (score 2 — the threshold
# actually binds), %7==5 a schemeless pass, %7==6 a clean pass;
# doc_id%97==3 plants NULL urls (the no-attribution contract).
_URL_BLOCK = ["evil-ads.example", "spam.example"]
_URL_HARD = ["/xxx"]
_URL_SOFT = {"bonus": 1, "casino": 2, "free": 1}
_URL_TH = 3
_URL_BASES = [
    "https://www.Evil-Ads.example/landing/",
    "https://tracker.evil-ads.example/px/",
    "https://news.site.example/free-casino-bonus-",
    "https://shop.example.io/xxx/",
    "https://free.example/free-",
    "docs.example.org/guide/",
    "https://mirror.example.com/pub/",
]
_URL_CASE_SQL = (
    "CASE WHEN doc_id % 97 = 3 THEN NULL ELSE CASE doc_id % 7 "
    + " ".join(f"WHEN {i} THEN '{b}'" for i, b in enumerate(_URL_BASES))
    + " END || CAST(doc_id AS VARCHAR) END"
)


def q_text_doc_features__url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 'url' face (bare plan): RefinedWeb-style URL governance —
    canonical host extraction (lowercase, www-strip), the
    domain-blocklist (exact + subdomain suffix), hard-keyword, and
    weighted soft-keyword rules over planted URLs; verdict + soft
    score + host are the certified artifacts. Pure codegen scan, zero
    shuffle."""
    from schema_drift_detector_spark.functions.urlmeta import (
        url_host,
        url_soft_score,
        url_verdict,
    )

    d = F.col("doc_id")
    base = F.element_at(
        F.array(*[F.lit(b) for b in _URL_BASES]), (d % 7 + 1).cast("int")
    )
    docs = _t_fan(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(d % 97 == 3, F.lit(None).cast("string"))
        .otherwise(F.concat(base, d.cast("string")))
        .alias("url"),
    )
    return docs.select(
        "doc_id",
        url_host("url").alias("url_host"),
        url_verdict("url", _URL_BLOCK, _URL_HARD, _URL_SOFT, _URL_TH).alias(
            "url_verdict"
        ),
        url_soft_score("url", _URL_SOFT).alias("url_score"),
    )


def q_text_doc_features__features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 'features' face (bare plan — bench-timed directly; this was
    the whole entry through r7-early): per-document text-analysis
    features in ONE scan: language ID, composite quality score, exact +
    normalized fingerprints, and the Gopher-style repetition signals
    (r6: frac_dup_tokens / top_bigram_frac / dup_5gram_frac —
    functions.text.repetition_features, one exact vectorized Arrow
    pass, no shuffle). Merges the former lang_id / quality_scores /
    fingerprints entries — the wide single-select is also the plan a
    100 TB pipeline wants (one pass, no joins)."""
    from schema_drift_detector_spark.functions.text import (
        fingerprint_md5,
        fingerprint_normalized,
        lang_id,
        quality_score,
        repetition_features,
    )

    docs = _t_fan(spark, sf_dir, "documents")
    rep = repetition_features("text")
    return docs.select(
        "doc_id",
        "lang",
        lang_id("text").alias("pred_lang"),
        quality_score("text").alias("quality"),
        fingerprint_md5("text").alias("fp_exact"),
        fingerprint_normalized("text").alias("fp_normalized"),
        F.round(rep["frac_dup_tokens"], 6).alias("frac_dup_tokens"),
        F.round(rep["top_bigram_frac"], 6).alias("top_bigram_frac"),
        F.round(rep["dup_5gram_frac"], 6).alias("dup_5gram_frac"),
    )


# C4 face fixture plants (the corpus is single-line, unpunctuated —
# without planting, every line/page rule would certify vacuously):
# %3 -> three proper sentences (page passes); %6 -> no-punct short line
# (line rule); %10 -> punctuated 4-word line (word-count rule);
# %15 -> 'lorem ipsum' (page rule on otherwise-kept pages, e.g. 15/45);
# %14 -> '{' (page rule, e.g. 42); %97(+3) -> NULL passthrough.
_C4_SENTENCES = (
    "\nPlanted sentence number one is long enough."
    "\nPlanted sentence number two is also long enough!"
    "\nPlanted sentence number three rounds out the page?"
)


def q_text_doc_features__c4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 'c4' face (bare plan): C4 line-level cleaning + page rules
    (operators/cleaning.py) over the planted fixture; the md5 of the
    reconstructed cleaned text hash-checks every kept-line boundary."""
    from schema_drift_detector_spark.operators.cleaning import clean_lines_c4

    d = F.col("doc_id")
    docs = _t_fan_big(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(d % 97 == 3, F.lit(None).cast("string"))
        .otherwise(
            F.concat(
                F.col("text"),
                F.when(d % 3 == 0, F.lit(_C4_SENTENCES)).otherwise(F.lit("")),
                F.when(d % 6 == 0, F.lit("\nshort line")).otherwise(F.lit("")),
                F.when(d % 10 == 0, F.lit("\nFour words only here.")).otherwise(
                    F.lit("")
                ),
                F.when(d % 15 == 0, F.lit(" lorem ipsum")).otherwise(F.lit("")),
                F.when(d % 14 == 0, F.lit(" {")).otherwise(F.lit("")),
            )
        )
        .alias("text"),
    )
    out = clean_lines_c4(docs)
    return out.select(
        "doc_id",
        F.md5(F.coalesce(F.col("text"), F.lit(""))).alias("cleaned_fp"),
        "n_lines",
        "n_kept_lines",
        "keep",
    )


def q_text_doc_features__gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 'gopher' face (bare plan): Gopher §A1.1 document-quality
    rules (operators/cleaning.py) with per-rule evidence. Plants make
    every rule bind (%21 all-bullet page, %37 two-char words, %41
    digit-only words, %23 ellipsis line, %27 '#' run, %31 duplicated
    lines, %97(+3) NULL). min_stopword_hits=1 because the synthetic
    vocabulary carries exactly one Gopher stopword ('the') — the
    operator default stays at the paper's 2."""
    from schema_drift_detector_spark.operators.cleaning import gopher_quality_filter

    d = F.col("doc_id")
    bullet_doc = "\n".join(["- planted bullet line item"] * 9)
    aa_doc = " ".join(["aa"] * 60)
    num_doc = " ".join(["1234"] * 60)
    docs = _t_fan(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(d % 97 == 3, F.lit(None).cast("string"))
        .when(d % 21 == 0, F.lit(bullet_doc))
        .when(d % 37 == 0, F.lit(aa_doc))
        .when(d % 41 == 0, F.lit(num_doc))
        .otherwise(
            F.concat(
                F.col("text"),
                F.when(d % 23 == 0, F.lit("\nand so the text trails off...")).otherwise(
                    F.lit("")
                ),
                F.when(d % 27 == 0, F.lit(" ############")).otherwise(F.lit("")),
                F.when(
                    d % 31 == 0, F.lit("\nrepeat me\nrepeat me\nrepeat me")
                ).otherwise(F.lit("")),
            )
        )
        .alias("text"),
    )
    return gopher_quality_filter(docs, min_stopword_hits=1)


from schema_drift_detector_spark.operators.cleaning import (
    GOPHER_RULE_COLS as _GOPHER_RULE_COLS,
)


def q_text_doc_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-analysis certifications in one entry, tagged by `face`:
    'features' (the ≤r7-early single-face frame: lang-ID, quality,
    fingerprints, repetition signals), 'c4' (r7: C4 line/page cleaning
    over a planted multi-line fixture, cleaned text md5-replayed) and
    'gopher' (r7: Gopher §A1.1 quality rules with per-rule evidence,
    every rule planted to bind). Merge recipe: tag + null-pad + union;
    series-break annotated in BENCH/BASELINE.md (the 'features' face
    sub-timing continues the old series). Gates: C4 must produce keeps,
    drops, AND a page dropped by the lorem/brace rules despite enough
    kept lines; every Gopher rule must fail somewhere and keeps must
    exist."""
    def _pad_tail(df: DataFrame, face: str, cols: dict[str, str]) -> DataFrame:
        # ONE (name, type) schema list for all three faces — a face
        # provides the columns named in `cols`, everything else pads NULL
        sel = [F.lit(face).alias("face"), "doc_id"]
        for name, typ in [
            ("lang", "string"),
            ("pred_lang", "string"),
            ("quality", "double"),
            ("fp_exact", "string"),
            ("fp_normalized", "string"),
            ("frac_dup_tokens", "double"),
            ("top_bigram_frac", "double"),
            ("dup_5gram_frac", "double"),
            ("cleaned_fp", "string"),
            ("n_lines", "int"),
            ("n_kept_lines", "int"),
            ("n_words", "int"),
            ("mean_word_len", "double"),
            ("n_chars_raw", "int"),
            ("n_chars_norm", "int"),
            *[(c, "boolean") for c in _GOPHER_RULE_COLS],
            ("keep", "boolean"),
            ("url_host", "string"),
            ("url_verdict", "string"),
            ("url_score", "int"),
        ]:
            sel.append(
                F.col(name) if name in cols else F.lit(None).cast(typ).alias(name)
            )
        return df.select(*sel)

    feats = _pad_tail(
        q_text_doc_features__features(spark, sf_dir),
        "features",
        dict.fromkeys(
            [
                "lang",
                "pred_lang",
                "quality",
                "fp_exact",
                "fp_normalized",
                "frac_dup_tokens",
                "top_bigram_frac",
                "dup_5gram_frac",
            ]
        ),
    )

    # the four fixture faces share no lineage: checkpoint them
    # CONCURRENTLY, then run all four gate aggregations concurrently
    # (r8, guide §2.6 — serial materialization only serialized idle
    # capacity; measured ~3.5 s → ~2.3 s for the whole entry at sf0.1)
    c4, gopher, norm, url = _ckpt_parallel(
        q_text_doc_features__c4(spark, sf_dir),
        q_text_doc_features__gopher(spark, sf_dir),
        q_text_doc_features__normalize(spark, sf_dir),
        q_text_doc_features__url(spark, sf_dir),
    )
    shrunk = F.col("n_chars_norm") < F.col("n_chars_raw")
    d = F.col("doc_id")
    c4_gates, gg, ng, ug = _first_parallel(
        c4.agg(
            F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("keeps"),
            F.sum(F.when(~F.col("keep"), 1).otherwise(0)).alias("drops"),
            F.sum(
                F.when(~F.col("keep") & (F.col("n_kept_lines") >= 3), 1).otherwise(0)
            ).alias("page_rule_drops"),
            F.sum(
                F.when(F.col("n_lines") - F.col("n_kept_lines") >= 2, 1).otherwise(0)
            ).alias("line_rule_hits"),
        ),
        gopher.agg(
            F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("keeps"),
            *[
                F.sum(F.when(~F.col(c), 1).otherwise(0)).alias(c)
                for c in _GOPHER_RULE_COLS
            ],
        ),
        # normalize face (r7): every plant family must SHRINK at least
        # one document (NFC composes, controls strip, whitespace
        # collapses) — length-based so the gate binds on the unicode
        # machinery itself, not on the lowercasing that touches nearly
        # every doc
        norm.agg(
            F.sum(F.when((d % 11 == 0) & shrunk, 1).otherwise(0)).alias("nfc_shrunk"),
            F.sum(F.when((d % 13 == 0) & shrunk, 1).otherwise(0)).alias("ctrl_shrunk"),
            F.sum(F.when((d % 17 == 0) & shrunk, 1).otherwise(0)).alias("ws_shrunk"),
            F.sum(F.when(d % 97 == 3, 1).otherwise(0)).alias("nulls"),
        ),
        # url face (late r7): every rule branch must fire — exact-domain
        # through www+case canonicalization, subdomain suffix, hard kw,
        # soft kw AT threshold, a pass with a positive sub-threshold
        # score (the threshold binds), and NULL urls scoring NULL
        url.agg(
        F.sum(F.when((d % 7 == 0) & (F.col("url_verdict") == "domain"), 1).otherwise(0)).alias("dom_exact"),
        F.sum(F.when((d % 7 == 1) & (F.col("url_verdict") == "domain"), 1).otherwise(0)).alias("dom_suffix"),
        F.sum(F.when(F.col("url_verdict") == "hard_kw", 1).otherwise(0)).alias("hard"),
        F.sum(F.when(F.col("url_verdict") == "soft_kw", 1).otherwise(0)).alias("soft"),
        F.sum(
            F.when(
                F.col("url_verdict").isNull()
                & F.col("url_host").isNotNull()
                & (F.col("url_score") > 0),
                1,
            ).otherwise(0)
        ).alias("pass_scored"),
        F.sum(F.when((d % 97 == 3) & F.col("url_score").isNull(), 1).otherwise(0)).alias("nulls"),
        F.sum(F.when((d % 97 == 3) & F.col("url_score").isNotNull(), 1).otherwise(0)).alias("bad_nulls"),
        ),
    )
    for g in ("keeps", "drops", "page_rule_drops", "line_rule_hits"):
        if not c4_gates[g]:
            raise RuntimeError(f"vacuous C4 fixture: gate {g} is zero")
    for g in ("keeps", *_GOPHER_RULE_COLS):
        if not gg[g]:
            raise RuntimeError(f"vacuous Gopher fixture: gate {g} is zero")
    for g in ("nfc_shrunk", "ctrl_shrunk", "ws_shrunk", "nulls"):
        if not ng[g]:
            raise RuntimeError(f"vacuous normalize fixture: gate {g} is zero")
    for g in ("dom_exact", "dom_suffix", "hard", "soft", "pass_scored", "nulls"):
        if not ug[g]:
            raise RuntimeError(f"vacuous url fixture: gate {g} is zero ({ug})")
    if ug.bad_nulls:
        raise RuntimeError(f"url face: NULL urls produced scores ({ug})")

    c4_face = _pad_tail(
        c4, "c4", dict.fromkeys(["cleaned_fp", "n_lines", "n_kept_lines", "keep"])
    )
    gopher_face = _pad_tail(
        gopher,
        "gopher",
        dict.fromkeys(["n_words", "mean_word_len", *_GOPHER_RULE_COLS, "keep"]),
    )
    norm_face = _pad_tail(
        norm, "normalize", dict.fromkeys(["cleaned_fp", "n_chars_raw", "n_chars_norm"])
    )
    url_face = _pad_tail(
        url, "url", dict.fromkeys(["url_host", "url_verdict", "url_score"])
    )

    return (
        feats.unionByName(c4_face)
        .unionByName(gopher_face)
        .unionByName(norm_face)
        .unionByName(url_face)
    )


# repetition replay: bigram max-multiplicity and 5-gram distinct counts
# via unnest+group (linear, not the O(distinct·n) list_filter form);
# docs below the gram floor fall out of the LEFT JOINs and coalesce to
# the engine's 0.0 faces
ORACLE_TEXT_DOC_FEATURES = f"""
WITH tok AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents WHERE text IS NOT NULL
),
big AS (
  SELECT doc_id, max(cnt) AS maxbig FROM (
    SELECT doc_id, bgx, count(*) AS cnt
    FROM tok, unnest(list_transform(generate_series(1, len(t) - 1),
                     i -> t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1])) AS u(bgx)
    GROUP BY doc_id, bgx) GROUP BY doc_id
),
g5 AS (
  SELECT doc_id, count(DISTINCT gx) AS d5, count(*) AS occ5
  FROM tok, unnest(list_transform(generate_series(1, len(t) - 4),
                   i -> array_to_string(t[CAST(i AS INT):CAST(i AS INT) + 4], ' '))) AS u(gx)
  GROUP BY doc_id
),
rep AS (
  SELECT tok.doc_id,
         round((len(t) - len(list_distinct(t))) / len(t), 6) AS frac_dup_tokens,
         CASE WHEN len(t) < 2 THEN 0.0
              ELSE round(coalesce(b.maxbig, 0) / (len(t) - 1), 6) END AS top_bigram_frac,
         CASE WHEN len(t) < 5 THEN 0.0
              ELSE round((g.occ5 - g.d5) / g.occ5, 6) END AS dup_5gram_frac
  FROM tok LEFT JOIN big b USING (doc_id) LEFT JOIN g5 g USING (doc_id)
)
SELECT l.doc_id, l.lang, l.pred_lang, q.quality, f.fp_exact, f.fp_normalized,
       r.frac_dup_tokens, r.top_bigram_frac, r.dup_5gram_frac
FROM ({ORACLE_LANG_ID}) l
JOIN ({ORACLE_QUALITY}) q USING (doc_id)
JOIN ({ORACLE_FINGERPRINTS}) f USING (doc_id)
LEFT JOIN rep r USING (doc_id)
"""


# exact replay of q_text_doc_features__c4: the planted fixture, the
# line keep rule (terminal punct + >=5 words), the page rules, and the
# md5 of the reconstructed cleaned text
ORACLE_TDF_C4 = """
WITH fixture AS (
  SELECT doc_id,
         CASE WHEN doc_id % 97 = 3 THEN NULL
              ELSE text
                || CASE WHEN doc_id % 3 = 0 THEN
                     chr(10) || 'Planted sentence number one is long enough.'
                     || chr(10) || 'Planted sentence number two is also long enough!'
                     || chr(10) || 'Planted sentence number three rounds out the page?'
                   ELSE '' END
                || CASE WHEN doc_id % 6 = 0 THEN chr(10) || 'short line' ELSE '' END
                || CASE WHEN doc_id % 10 = 0 THEN chr(10) || 'Four words only here.' ELSE '' END
                || CASE WHEN doc_id % 15 = 0 THEN ' lorem ipsum' ELSE '' END
                || CASE WHEN doc_id % 14 = 0 THEN ' {' ELSE '' END
         END AS t
  FROM documents
),
ln AS (
  SELECT doc_id, t, string_split(t, chr(10)) AS lines,
         list_filter(string_split(t, chr(10)),
                     l -> regexp_matches(l, '[.!?"]$')
                          AND len(list_filter(string_split(l, ' '), w -> w <> '')) >= 5
         ) AS kept
  FROM fixture
),
dec AS (
  SELECT doc_id, lines, kept,
         (t IS NOT NULL AND len(kept) >= 3
          AND NOT contains(lower(t), 'lorem ipsum')
          AND NOT contains(t, '{')) AS keep
  FROM ln
)
SELECT doc_id,
       md5(coalesce(CASE WHEN keep THEN array_to_string(kept, chr(10)) END, ''))
         AS cleaned_fp,
       coalesce(len(lines), 0) AS n_lines,
       coalesce(len(kept), 0) AS n_kept_lines,
       coalesce(keep, false) AS keep
FROM dec
"""


# exact replay of q_text_doc_features__gopher: the planted fixture +
# the shared gopher_metrics_ctes builder (ONE definition with the e2e
# pipeline oracle; min_stopword_hits=1 as in the entry)
def _oracle_tdf_gopher() -> str:
    from schema_drift_detector_spark.operators.cleaning import gopher_metrics_ctes

    return f"""
WITH fixture AS (
  SELECT doc_id,
    CASE WHEN doc_id % 97 = 3 THEN NULL
         WHEN doc_id % 21 = 0 THEN
           '- planted bullet line item' || repeat(chr(10) || '- planted bullet line item', 8)
         WHEN doc_id % 37 = 0 THEN 'aa' || repeat(' aa', 59)
         WHEN doc_id % 41 = 0 THEN '1234' || repeat(' 1234', 59)
         ELSE text
           || CASE WHEN doc_id % 23 = 0 THEN chr(10) || 'and so the text trails off...' ELSE '' END
           || CASE WHEN doc_id % 27 = 0 THEN ' ############' ELSE '' END
           || CASE WHEN doc_id % 31 = 0 THEN
                chr(10) || 'repeat me' || chr(10) || 'repeat me' || chr(10) || 'repeat me'
              ELSE '' END
    END AS text
  FROM documents
),
{gopher_metrics_ctes('g', 'fixture', min_stopword_hits=1)}
SELECT doc_id, nw AS n_words, round(mean_wl, 6) AS mean_word_len,
       ok_word_count, ok_mean_word_len, ok_symbol_ratio, ok_bullet_lines,
       ok_ellipsis_lines, ok_alpha_words, ok_stopwords, ok_dup_lines, keep
FROM ggq
"""

_TDF_GOPHER_OK_SQL = ", ".join(_GOPHER_RULE_COLS)


def _oracle_text_doc_features_merged() -> str:
    chars_nulls = "CAST(NULL AS INT) AS n_chars_raw, CAST(NULL AS INT) AS n_chars_norm"
    nulls_c4g = f"""CAST(NULL AS VARCHAR) AS cleaned_fp, CAST(NULL AS INT) AS n_lines,
       CAST(NULL AS INT) AS n_kept_lines, CAST(NULL AS INT) AS n_words,
       CAST(NULL AS DOUBLE) AS mean_word_len, {chars_nulls},
       CAST(NULL AS BOOLEAN) AS ok_word_count, CAST(NULL AS BOOLEAN) AS ok_mean_word_len,
       CAST(NULL AS BOOLEAN) AS ok_symbol_ratio, CAST(NULL AS BOOLEAN) AS ok_bullet_lines,
       CAST(NULL AS BOOLEAN) AS ok_ellipsis_lines, CAST(NULL AS BOOLEAN) AS ok_alpha_words,
       CAST(NULL AS BOOLEAN) AS ok_stopwords, CAST(NULL AS BOOLEAN) AS ok_dup_lines,
       CAST(NULL AS BOOLEAN) AS keep"""
    feat_nulls = """CAST(NULL AS VARCHAR) AS lang, CAST(NULL AS VARCHAR) AS pred_lang,
       CAST(NULL AS DOUBLE) AS quality, CAST(NULL AS VARCHAR) AS fp_exact,
       CAST(NULL AS VARCHAR) AS fp_normalized, CAST(NULL AS DOUBLE) AS frac_dup_tokens,
       CAST(NULL AS DOUBLE) AS top_bigram_frac, CAST(NULL AS DOUBLE) AS dup_5gram_frac"""
    gopher_bool_nulls = """CAST(NULL AS BOOLEAN) AS ok_word_count, CAST(NULL AS BOOLEAN) AS ok_mean_word_len,
       CAST(NULL AS BOOLEAN) AS ok_symbol_ratio, CAST(NULL AS BOOLEAN) AS ok_bullet_lines,
       CAST(NULL AS BOOLEAN) AS ok_ellipsis_lines, CAST(NULL AS BOOLEAN) AS ok_alpha_words,
       CAST(NULL AS BOOLEAN) AS ok_stopwords, CAST(NULL AS BOOLEAN) AS ok_dup_lines"""
    url_nulls = (
        "CAST(NULL AS VARCHAR) AS url_host, CAST(NULL AS VARCHAR) AS url_verdict, "
        "CAST(NULL AS INT) AS url_score"
    )
    from schema_drift_detector_spark.functions.urlmeta import (
        url_host_sql,
        url_soft_score_sql,
        url_verdict_sql,
    )

    url_branch = f"""
WITH u AS (SELECT doc_id, {_URL_CASE_SQL} AS url FROM documents)
SELECT doc_id,
       {url_host_sql("url")} AS url_host,
       {url_verdict_sql("url", _URL_BLOCK, _URL_HARD, _URL_SOFT, _URL_TH)} AS url_verdict,
       {url_soft_score_sql("url", _URL_SOFT)} AS url_score
FROM u
"""
    return f"""
SELECT 'features' AS face, doc_id, lang, pred_lang, quality, fp_exact, fp_normalized,
       frac_dup_tokens, top_bigram_frac, dup_5gram_frac,
       {nulls_c4g}, {url_nulls}
FROM ({ORACLE_TEXT_DOC_FEATURES})
UNION ALL
SELECT 'c4' AS face, doc_id, {feat_nulls},
       cleaned_fp, n_lines, n_kept_lines,
       CAST(NULL AS INT) AS n_words, CAST(NULL AS DOUBLE) AS mean_word_len,
       {chars_nulls},
       {gopher_bool_nulls},
       keep, {url_nulls}
FROM ({ORACLE_TDF_C4})
UNION ALL
SELECT 'gopher' AS face, doc_id, {feat_nulls},
       CAST(NULL AS VARCHAR) AS cleaned_fp, CAST(NULL AS INT) AS n_lines,
       CAST(NULL AS INT) AS n_kept_lines,
       n_words, mean_word_len, {chars_nulls}, {_TDF_GOPHER_OK_SQL}, keep, {url_nulls}
FROM ({_oracle_tdf_gopher()})
UNION ALL
SELECT 'normalize' AS face, doc_id, {feat_nulls},
       cleaned_fp, CAST(NULL AS INT) AS n_lines, CAST(NULL AS INT) AS n_kept_lines,
       CAST(NULL AS INT) AS n_words, CAST(NULL AS DOUBLE) AS mean_word_len,
       n_chars_raw, n_chars_norm,
       {gopher_bool_nulls},
       CAST(NULL AS BOOLEAN) AS keep, {url_nulls}
FROM ({_oracle_tdf_normalize()})
UNION ALL
SELECT 'url' AS face, doc_id, {feat_nulls},
       {nulls_c4g},
       url_host, url_verdict, url_score
FROM ({url_branch})
"""


def q_ann_topk_methods(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANN/IVF surface in one entry, tagged by `method`: exact
    brute-force cosine top-k, IVF over deterministic seed cells, IVF
    over TRAINED k-means cells (the full trainer→assign→probe
    composition), and (r6) the raw cell ASSIGNMENT face (every vector's
    nearest centroid — the IVF index-build step, formerly its own
    entry), and (r7) the SQ8 and PQ faces — asymmetric search over the
    scalar-quantized / product-quantized corpus, both quantizers'
    arithmetic certified bit-exactly. Each face keeps its exact DuckDB
    replay."""
    brute = q_ann_topk(spark, sf_dir).select(F.lit("brute").alias("method"), "*")
    ivf = q_ann_topk_ivf(spark, sf_dir).select(F.lit("ivf").alias("method"), "*")
    ivf_km = q_ann_topk_ivf_kmeans(spark, sf_dir).select(
        F.lit("ivf_kmeans").alias("method"), "*"
    )
    sq8 = q_ann_topk_sq8(spark, sf_dir).select(F.lit("sq8").alias("method"), "*")
    pq = q_ann_topk_pq(spark, sf_dir).select(F.lit("pq").alias("method"), "*")
    topk = (
        brute.unionByName(ivf).unionByName(ivf_km).unionByName(sq8).unionByName(pq)
    )
    assign = q_ivf_assign(spark, sf_dir)
    cid_type = dict(assign.dtypes)["centroid_id"]
    topk = topk.withColumn("centroid_id", F.lit(None).cast(cid_type))
    qid_t = dict(topk.dtypes)["query_id"]
    rank_t = dict(topk.dtypes)["rank"]
    assign_face = assign.select(
        F.lit("assign").alias("method"),
        F.lit(None).cast(qid_t).alias("query_id"),
        F.lit(None).cast(rank_t).alias("rank"),
        "vec_id",
        F.lit(None).cast("double").alias("cos_sim"),
        "centroid_id",
    )
    return topk.unionByName(assign_face)


def _oracle_ann_topk_methods() -> str:
    return f"""
SELECT 'brute' AS method, a_brute.*, CAST(NULL AS INT) AS centroid_id
FROM ({ORACLE_ANN_TOPK}) a_brute
UNION ALL
SELECT 'ivf' AS method, a_ivf.*, CAST(NULL AS INT) AS centroid_id
FROM ({ORACLE_ANN_TOPK_IVF}) a_ivf
UNION ALL
SELECT 'ivf_kmeans' AS method, a_km.*, CAST(NULL AS INT) AS centroid_id
FROM ({ORACLE_ANN_TOPK_IVF_KMEANS}) a_km
UNION ALL
SELECT 'sq8' AS method, a_sq8.*, CAST(NULL AS INT) AS centroid_id
FROM ({ORACLE_ANN_TOPK_SQ8}) a_sq8
UNION ALL
SELECT 'pq' AS method, a_pq.*, CAST(NULL AS INT) AS centroid_id
FROM ({ORACLE_ANN_TOPK_PQ}) a_pq
UNION ALL
SELECT 'assign' AS method, CAST(NULL AS BIGINT) AS query_id,
       CAST(NULL AS INT) AS rank, vec_id, CAST(NULL AS DOUBLE) AS cos_sim,
       CAST(centroid_id AS INT) AS centroid_id
FROM ({ORACLE_IVF_ASSIGN}) a_asgn
"""


def q_stream_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All three windowed streaming aggregation shapes in one entry,
    tagged by `mode`: tumbling (1-day windows), sliding (2-day windows,
    1-day slide — every event in exactly two concurrently-open
    windows), and session (1-hour dynamic gap — cross-micro-batch
    session MERGES in the state store, r6). Each face runs its own
    complete-mode stream; the final micro-batch must equal the batch
    answer."""
    tumb = q_stream_windowed_counts(spark, sf_dir).select(
        F.lit("tumbling").alias("mode"), "*"
    )
    slid = q_stream_sliding_counts(spark, sf_dir).select(
        F.lit("sliding").alias("mode"), "*"
    )
    sess = q_stream_session_counts(spark, sf_dir).select(
        F.lit("session").alias("mode"), "*"
    )
    return tumb.unionByName(slid).unionByName(sess)


ORACLE_STREAM_WINDOW_COUNTS = f"""
SELECT 'tumbling' AS mode, * FROM ({ORACLE_STREAM_WINDOWED_COUNTS}) w_tumb
UNION ALL
SELECT 'sliding' AS mode, * FROM ({ORACLE_STREAM_SLIDING_COUNTS}) w_slid
UNION ALL
SELECT 'session' AS mode, * FROM ({ORACLE_STREAM_SESSION_COUNTS}) w_sess
"""


def q_span_validation_merged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniqueness + referential-integrity verdicts through BOTH RI
    physical paths, tagged by `ri_path`: the plain broadcast/shuffle
    anti-join and the Bloom pre-filter path (no false negatives; fpp
    sizes the residual join, never the answer). Both must produce the
    identical verdict rows."""
    plain = q_span_validation(spark, sf_dir).select(F.lit("join").alias("ri_path"), "*")
    bloom = q_span_validation_bloom(spark, sf_dir).select(
        F.lit("bloom").alias("ri_path"), "*"
    )
    return plain.unionByName(bloom)


def _oracle_span_validation_merged() -> str:
    return f"""
SELECT 'join' AS ri_path, * FROM ({ORACLE_SPAN_VALIDATION}) sv_join
UNION ALL
SELECT 'bloom' AS ri_path, * FROM ({ORACLE_SPAN_VALIDATION}) sv_bloom
"""


def q_quantile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full quantile-drift surface in one entry: per-(epoch,
    partition, prob) exact interpolated quantiles with the t-digest
    within-eps attestation (tolerance contract), joined with the
    per-partition sketch-KS pass/fail verdict. Certifies digest build,
    serialization, quantile inversion AND the drift decision in one
    hash."""
    spans = q_quantile_drift_spans(spark, sf_dir)
    verdicts = q_quantile_drift_verdicts(spark, sf_dir).select(
        "partition_id", "constraint", "passed", "severity"
    )
    return spans.join(verdicts, "partition_id").select(
        "epoch",
        "partition_id",
        "prob",
        "exact_q",
        "digest_within_eps",
        "constraint",
        "passed",
        "severity",
    )


ORACLE_QUANTILE_DRIFT = f"""
SELECT sp.epoch, sp.partition_id, sp.prob, sp.exact_q, sp.digest_within_eps,
       vd."constraint", vd.passed, vd.severity
FROM ({ORACLE_QUANTILE_DRIFT_SPANS}) sp
JOIN ({ORACLE_QUANTILE_DRIFT_VERDICTS}) vd USING (partition_id)
"""


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full multimodal surface in one entry, tagged by ``face``:
    'features' = decode + byte-level features joined wide per asset
    (header fields, byte-mean, size, entropy — clean fixture);
    'frames' = the one-to-many frame-sample fan-out with its corrupt
    fixture (every 13th asset undecodable → sentinel rows certified).
    Merges the former media_decode / media_byte_features /
    media_frame_checksums entries (r5 verdict #1 board-cap merges)."""
    decoded = q_media_decode(spark, sf_dir)
    feats = q_media_byte_features(spark, sf_dir)
    wide = decoded.join(feats, "media_ref").select(
        F.lit("features").alias("face"),
        "media_ref", "width", "height", "n_frames", "mean_byte", "decoder",
        "size_bytes", "entropy",
        F.lit(None).cast("int").alias("frame_index"),
        F.lit(None).cast("bigint").alias("frame_checksum"),
    )
    frames = q_media_frame_checksums(spark, sf_dir).select(
        F.lit("frames").alias("face"),
        "media_ref",
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("int").alias("n_frames"),
        F.lit(None).cast("double").alias("mean_byte"),
        F.lit(None).cast("string").alias("decoder"),
        F.lit(None).cast("bigint").alias("size_bytes"),
        F.lit(None).cast("double").alias("entropy"),
        "frame_index", "frame_checksum",
    )
    return wide.unionByName(frames)


ORACLE_MEDIA_FEATURES = f"""
SELECT 'features' AS face, d.media_ref, d.width, d.height, d.n_frames,
       d.mean_byte, d.decoder, b.size_bytes, b.entropy,
       CAST(NULL AS INT) AS frame_index, CAST(NULL AS BIGINT) AS frame_checksum
FROM ({ORACLE_MEDIA_DECODE}) d
JOIN ({ORACLE_MEDIA_BYTE_FEATURES}) b USING (media_ref)
UNION ALL
SELECT 'frames' AS face, media_ref, CAST(NULL AS INT), CAST(NULL AS INT),
       CAST(NULL AS INT), CAST(NULL AS DOUBLE), CAST(NULL AS VARCHAR),
       CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE), frame_index, frame_checksum
FROM ({ORACLE_MEDIA_FRAMES}) fr
"""


# --------------------------------------------------------------------------
# Substring-level dedup (round 6 — r5 verdict Next round #2)
# --------------------------------------------------------------------------

# 17 space-separated tokens planted as a shared footer on every 7th doc
# (leading space joins it to the text with no double-space): its
# interior 8-grams recur across ~1/7 of the corpus, far above min_df,
# while each doc's body grams stay unique — exactly the
# unique-doc-with-duplicated-boilerplate shape document-granular dedup
# cannot catch.
_SUBSTR_FOOTER = (
    " this document is provided as is without warranty of any kind"
    " express or implied including merchantability"
)


def q_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both substring-granular strip passes in one entry, tagged by
    `face`:

    'cross' — substring-level exact dedup: boilerplate word 8-grams
    (document frequency >= 4) detected corpus-wide and stripped from
    every document. The oracle replays gram hashing (gram_hash64: the
    64-bit polynomial fold over per-token portable-hash60s,
    HUGEINT-replayed), the df threshold, run coverage, and the md5 of
    the RECONSTRUCTED cleaned text — so token order and every removal
    boundary are hash-checked, not just counts.

    'intra' — r7: intra-document repetition strip (the removal half of
    the Gopher repetition hygiene pass): tokens covered by a non-first
    occurrence of an 8-gram already seen earlier in the SAME document
    are removed, one copy surviving. Fixture plants self-repetition
    (every 13th doc re-appends its own first 10 tokens twice) so the
    strip binds non-vacuously; the oracle replays first-occurrence
    detection (min(pos) per (doc, gram)) + run coverage + the
    reconstructed-text md5.

    Fixture note: every 97th(+3) doc gets NULL text on BOTH faces — the
    fixtures carry no nulls, so without this injection the
    null-passthrough contract (row kept, n_tokens 0, md5('')
    fingerprint) would be certified vacuously.
    """
    # one compute per face: checkpoint the stripped frames (a bare
    # filter+count would replay the whole two-gram-pass DAG; measured
    # ~2× the entry cost at sf0.1) — CONCURRENTLY, the faces share no
    # lineage (r8, guide §2.6) — then run both non-vacuity gates
    # concurrently over the checkpoint blocks.
    cross, intra = _ckpt_parallel(
        q_substring_dedup__cross(spark, sf_dir),
        q_substring_dedup__intra(spark, sf_dir),
    )
    g_cross, g_intra = _first_parallel(
        cross.filter(F.col("n_removed") > 0).limit(1).select(F.lit(1).alias("x")),
        intra.filter(F.col("n_removed") > 0).limit(1).select(F.lit(1).alias("x")),
    )
    if g_cross is None:
        raise RuntimeError(
            "vacuous fixture: no boilerplate stripped — footer grams never hit min_df"
        )
    if g_intra is None:
        raise RuntimeError(
            "vacuous fixture: no intra-doc repetition stripped — planted"
            " self-repeats never produced duplicate grams"
        )
    return cross.unionByName(intra)


def q_substring_dedup__cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 'cross' face PLAN of q_substring_dedup, un-checkpointed and
    un-gated — bench.py times q_<name>__<face> helpers directly because
    the merged entry eagerly checkpoints both faces before returning,
    so a post-hoc .filter(face) would price the whole union (review
    catch, r7). broadcast_hits stays False — AQE already broadcasts the
    measured hit side here, and forcing it adds an eager extra
    evaluation of the hit DAG (measured 6.0 s vs 3.5 s at sf0.1)."""
    from schema_drift_detector_spark.operators.substring import substring_dedup

    docs = _t_fan_big(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(F.col("doc_id") % 97 == 3, F.lit(None).cast("string"))
        .when(
            F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(_SUBSTR_FOOTER))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return substring_dedup(docs, n=8, min_df=4, materialize_grams=True).select(
        F.lit("cross").alias("face"),
        "doc_id",
        "n_tokens",
        "n_removed",
        F.md5(F.coalesce(F.col("text"), F.lit(""))).alias("cleaned_fp"),
    )


def q_substring_dedup__intra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 'intra' face PLAN of q_substring_dedup (see __cross)."""
    from schema_drift_detector_spark.operators.substring import strip_repeated_runs

    head10 = F.array_join(F.slice(F.split(F.col("text"), " "), 1, 10), " ")
    idocs = _t_fan_big(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(F.col("doc_id") % 97 == 3, F.lit(None).cast("string"))
        .when(
            F.col("doc_id") % 13 == 0,
            F.concat_ws(" ", F.col("text"), head10, head10),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return strip_repeated_runs(idocs, n=8).select(
        F.lit("intra").alias("face"),
        "doc_id",
        "n_tokens",
        "n_removed",
        F.md5(F.coalesce(F.col("text"), F.lit(""))).alias("cleaned_fp"),
    )


def _intra_strip_ctes(sfx: str, src: str, n: int = 8) -> str:
    """THE SQL replay of operators.substring.strip_repeated_runs —
    gram extraction, first-occurrence detection (min(pos) per
    (doc, gram), the SQL twin of pd.duplicated(keep='first')),
    non-first run coverage, and the kept-token rejoin — as a CTE block
    with every name prefixed by ``sfx``, reading (doc_id, text) from
    CTE ``src``. ONE definition shared by the standalone 'intra' face
    and the e2e pipeline oracle, so the two replays cannot
    desynchronize (review catch, r7). Consumers read ``{sfx}agg``
    (doc_id, n_tokens, n_removed, kept) via LEFT JOIN — docs with no
    tokens (NULL text) have no row there."""
    from schema_drift_detector_spark.functions.text import (
        gram_hash64_sql,
        tokhash_list_sql,
    )

    gh = gram_hash64_sql("h", "CAST(i AS INT)", n)
    return f"""
{sfx}tok AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM {src}
), {sfx}th AS (
  SELECT doc_id, t, {tokhash_list_sql('t')} AS h FROM {sfx}tok WHERE len(t) >= {n}
), {sfx}grams AS (
  SELECT doc_id, CAST(i AS INT) AS pos, {gh} AS gh
  FROM {sfx}th, unnest(generate_series(1, len(t) - {n - 1})) s(i)
), {sfx}first AS (
  SELECT doc_id, gh, min(pos) AS fpos FROM {sfx}grams GROUP BY doc_id, gh
), {sfx}rep AS (
  -- non-first occurrences: the SQL twin of pd.duplicated(keep='first')
  SELECT g.doc_id, g.pos FROM {sfx}grams g
  JOIN {sfx}first f ON f.doc_id = g.doc_id AND f.gh = g.gh AND g.pos > f.fpos
), {sfx}toks AS (
  SELECT doc_id, CAST(i AS INT) AS pos, t[CAST(i AS INT)] AS token, len(t) AS n
  FROM {sfx}tok, unnest(generate_series(1, len(t))) s(i)
), {sfx}cov AS (
  SELECT DISTINCT tk.doc_id, tk.pos
  FROM {sfx}toks tk JOIN {sfx}rep r
    ON r.doc_id = tk.doc_id AND tk.pos BETWEEN r.pos AND r.pos + {n - 1}
), {sfx}agg AS (
  SELECT tk.doc_id, max(tk.n) AS n_tokens, count(c.pos) AS n_removed,
         coalesce(string_agg(tk.token, ' ' ORDER BY tk.pos)
                  FILTER (WHERE c.pos IS NULL), '') AS kept
  FROM {sfx}toks tk LEFT JOIN {sfx}cov c ON c.doc_id = tk.doc_id AND c.pos = tk.pos
  GROUP BY tk.doc_id
)"""


def _oracle_substring_dedup() -> str:
    """Two faces, one replay each: 'cross' re-derives the corpus-wide
    boilerplate df threshold + coverage strip; 'intra' re-derives
    first-occurrence gram detection + coverage strip over the
    self-repetition fixture (the shared _intra_strip_ctes block)."""
    from schema_drift_detector_spark.functions.text import gram_hash64_sql

    gh = gram_hash64_sql("h", "CAST(i AS INT)", 8)
    intra = f"""
WITH idocs AS (
  SELECT doc_id,
         CASE WHEN doc_id % 97 = 3 THEN NULL
              WHEN doc_id % 13 = 0 THEN text || ' ' || rep || ' ' || rep
              ELSE text END AS text
  FROM (SELECT doc_id, text,
               array_to_string(string_split(text, ' ')[1:10], ' ') AS rep
        FROM documents)
), {_intra_strip_ctes('i', 'idocs')}
SELECT d.doc_id,
       CAST(coalesce(a.n_tokens, 0) AS INT) AS n_tokens,
       CAST(coalesce(a.n_removed, 0) AS INT) AS n_removed,
       md5(coalesce(a.kept, '')) AS cleaned_fp
FROM idocs d LEFT JOIN iagg a USING (doc_id)
"""
    cross = _oracle_substring_cross(gh)
    return f"""
SELECT 'cross' AS face, doc_id, n_tokens, n_removed, cleaned_fp FROM ({cross})
UNION ALL
SELECT 'intra' AS face, doc_id, n_tokens, n_removed, cleaned_fp FROM ({intra})
"""


def _oracle_substring_cross(gh: str) -> str:
    from schema_drift_detector_spark.functions.text import tokhash_list_sql

    return f"""
WITH docs AS (
  SELECT doc_id,
         CASE WHEN doc_id % 97 = 3 THEN NULL
              WHEN doc_id % 7 = 0 THEN text || '{_SUBSTR_FOOTER}'
              ELSE text END AS text
  FROM documents
), tok AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM docs
), th AS (
  SELECT doc_id, t, {tokhash_list_sql('t')} AS h FROM tok WHERE len(t) >= 8
), grams AS (
  -- 1-based starts; gram identity = the engine's 64-bit polynomial
  -- fold over per-token portable-hash60s (functions.text.gram_hash64)
  SELECT doc_id, CAST(i AS INT) AS pos, {gh} AS gh
  FROM th, unnest(generate_series(1, len(t) - 7)) s(i)
), boiler AS (
  SELECT gh FROM (SELECT gh, count(DISTINCT doc_id) AS df FROM grams GROUP BY 1)
  WHERE df >= 4
), hits AS (
  SELECT DISTINCT g.doc_id, g.pos FROM grams g JOIN boiler USING (gh)
), toks AS (
  SELECT doc_id, CAST(i AS INT) AS pos, t[CAST(i AS INT)] AS token, len(t) AS n_tokens
  FROM tok, unnest(generate_series(1, len(t))) s(i)
), cov AS (
  SELECT DISTINCT tk.doc_id, tk.pos
  FROM toks tk JOIN hits h
    ON h.doc_id = tk.doc_id AND tk.pos BETWEEN h.pos AND h.pos + 7
)
, agg AS (
  SELECT tk.doc_id,
         max(tk.n_tokens) AS n_tokens,
         count(c.pos) AS n_removed,
         coalesce(string_agg(tk.token, ' ' ORDER BY tk.pos) FILTER (WHERE c.pos IS NULL), '')
           AS kept
  FROM toks tk LEFT JOIN cov c ON c.doc_id = tk.doc_id AND c.pos = tk.pos
  GROUP BY tk.doc_id
)
-- drive from docs, not toks: a NULL-text doc has no token rows
-- (unnest over a NULL split yields nothing) but the engine keeps it —
-- n_tokens 0, nothing removed, md5('') fingerprint
SELECT d.doc_id,
       CAST(coalesce(a.n_tokens, 0) AS INT) AS n_tokens,
       CAST(coalesce(a.n_removed, 0) AS INT) AS n_removed,
       md5(coalesce(a.kept, '')) AS cleaned_fp
FROM docs d LEFT JOIN agg a USING (doc_id)
"""


ORACLE_SUBSTRING_DEDUP = _oracle_substring_dedup()


def q_corpus_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED LLM-corpus pipeline end-to-end (r6 verdict #4), the
    full hygiene chain a pretraining data job actually runs, certified
    as ONE DuckDB replay:

      URL governance (crawl-record drop) → Unicode normalization →
      Gopher quality filter → exact dedup → substring (boilerplate)
      strip → intra-doc repetition strip → PII redaction → benchmark
      decontamination → MinHash near-dup drop → CCNet LM-perplexity
      tiering (drop 'tail') → per-source token-budget mixing →
      context chunking → next-fit packing

    The URL stage (late r7) runs FIRST, before cloning, on planted
    URLs (%23 domain-blocklisted, %29 soft-keyword-blocked, rest
    pass — both drop branches gated to fire), so every downstream
    stage sees only governed crawl records — the RefinedWeb ordering.

    Every stage BINDS (gated): the normalize stage (r7) appends a
    COMPOSED unicode suffix to each %10 original and the DECOMPOSED+
    NBSP+double-space spelling of the same suffix to its clone —
    byte-unequal texts that normalize identical, so the clone pair
    reaches exact dedup as a duplicate ONLY if normalization ran
    (gate: ≥1 clone survives the quality filter AND zero clones
    survive exact dedup); the quality filter drops low-word-count
    docs (0 < n_filtered < n_base); planted clones (doc_id+1e6, %10) make
    exact dedup drop rows; the planted footer (%7) reaches min_df so
    the cross-doc substring pass strips; planted self-repeats (%13:
    the doc's own first 10 tokens appended twice) make the intra pass
    strip; planted e-mails (%11) redact; a 4% eval-prefix sample
    contaminates (those docs drop); LSH finds near-dup survivors to
    drop; the LM tier stage (bigram stupid-backoff counted from the
    ':lmT' 10% hash subset OF THE SURVIVORS) drops the 'tail'
    perplexity third; the 400-token budget truncates every source;
    multi-chunk docs and multi-chunk bins exist. The untested surface
    this certifies is the COMPOSITION: cross-doc cleaning changes the
    gram identities the intra pass sees, both strips change what
    decontamination and MinHash see, the redacted+stripped text is
    what the LM counts and scores (so its tiers shift with every
    upstream stage), and the post-clean token counts
    feed the budget — the oracle replays the exact chain, so any
    stage reading stale upstream text would hash-mismatch. Output:
    the packed-chunk manifest (chunk_uid, shard, bin, n_tokens,
    truncated, chunk_fp) — chunk_fp pins final text content,
    bin/shard pin the pack fold.

    Scale shape: each stage is the already-certified operator at its
    certified plan (one md5 shuffle; two gram passes; one ZERO-shuffle
    Arrow intra pass; codegen regexps; broadcast eval grams; banded
    LSH — never all-pairs; one window; zero-shuffle chunk explode;
    two-column pack fold; the LM stage's model tables broadcast, its
    only wide exchange the per-doc mean). The composition adds ONE
    extra join (chunk_fp back onto the pack manifest, key
    co-partitioned).

    The stage list, each stage's operator call and the materialization
    rule are ``plans/corpus.py``'s, the same composition
    ``examples/corpus_prep_job.py`` ships; this entry adds only the
    planted fixtures, the clone family and the binding gates."""
    from schema_drift_detector_spark.operators.sampling import hash_bucket

    head10 = F.array_join(F.slice(F.split(F.col("text"), " "), 1, 10), " ")
    scan = _t(spark, sf_dir, "documents")
    small = corpus.small_input(scan)
    # fan-out scan (r8): the whole head of the pipeline — URL verdict,
    # clone fixture, Arrow normalization, Gopher metrics — is a
    # zero-shuffle chain inheriting the scan's parallelism, which is
    # 1-2 tasks on the small compressed input (see _t_fan)
    if small:
        scan = scan.repartition(spark.sparkContext.defaultParallelism)
    raw = scan.select(
        "doc_id",
        "source",
        F.concat(
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(F.col("text"), F.lit(_SUBSTR_FOOTER)),
            ).otherwise(F.col("text")),
            F.when(
                F.col("doc_id") % 11 == 0,
                F.concat(
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.org now"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 13 == 0,
                F.concat(F.lit(" "), head10, F.lit(" "), head10),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    # Planted URLs: %23 hits the domain blocklist, %29 the soft-keyword
    # threshold, the rest pass. The eval set is a 4% hash sample of the
    # redacted corpus cut to 200 characters, so those docs contaminate.
    d = F.col("doc_id")
    url_expr = F.concat(
        F.when(d % 23 == 0, F.lit("https://www.Evil-Ads.example/e/"))
        .when(d % 29 == 0, F.lit("https://news.site.example/free-casino-bonus/"))
        .otherwise(F.lit("https://docs.example.org/d/")),
        d.cast("string"),
    )
    url = corpus.UrlRules(url_expr, _URL_BLOCK, _URL_HARD, _URL_SOFT, _URL_TH)
    steps = corpus.stages(
        small=small,
        min_stopword_hits=1,  # the synthetic vocabulary has one Gopher stopword
        mix=400,
        chunk_tokens=24,
        stride=12,
        pack_cap=40,
        shards=8,
        url=url,
        eval_docs=lambda red: red.filter(
            hash_bucket("doc_id", salt=":eval") < 40_000
        ).select(F.substring("text", 1, 200).alias("text")),
    )
    # ONE scan answers three former jobs (r8: the URL-verdict histogram,
    # the max-doc_id fixture guard, and n_base) — the per-verdict rows
    # carry max(doc_id) and the clone-source count, so the survivor row
    # (__uv NULL) yields max_id, n_raw, and n_clones without re-scanning
    # (guide §1.2: remove passes before tuning anything else)
    uvrows = {
        r["__uv"]: r
        for r in raw.groupBy(url.verdict().alias("__uv"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max("doc_id").alias("mx"),
            F.sum(F.when(F.col("doc_id") % 10 == 0, 1).otherwise(0)).alias("ncl"),
        )
        .collect()
    }
    uvc = {k: r["n"] for k, r in uvrows.items()}
    if not (uvc.get("domain", 0) and uvc.get("soft_kw", 0) and uvc.get(None, 0)):
        raise RuntimeError(
            f"vacuous URL stage: a verdict branch never fired or nothing "
            f"survived ({uvc})"
        )
    # URL governance runs BEFORE cloning (the RefinedWeb crawl-record
    # ordering), so a clone family shares one URL fate and the
    # exact-dedup gates below stay well-defined
    raw = corpus.run(raw, steps[:1])

    max_id = uvrows[None]["mx"]
    if max_id is None or max_id >= 1_000_000:
        raise RuntimeError(
            f"corpus_pipeline_e2e fixture assumes doc_id < 1e6 (max={max_id})"
        )
    clones = raw.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        "source",
        F.concat(F.col("text"), F.lit(_E2E_NFC_CLONE)).alias("text"),
    )
    base = raw.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 10 == 0, F.concat(F.col("text"), F.lit(_E2E_NFC_RAW))
        ).otherwise(F.col("text")),
    ).unionByName(clones)
    # n_base = survivors + their %10 clones — same number base.count()
    # computed, derived from the one scan above
    n_base = uvrows[None]["n"] + uvrows[None]["ncl"]

    # per-doc strip/redact flags RIDE THROUGH the rest of the chain so
    # the binding gates below certify that a stripped doc SURVIVED to
    # the budgeted output (a stage that strips only docs that later drop
    # would be vacuous w.r.t. the certified manifest — review catch);
    # a doc was redacted iff its text hash changed across the PII stage
    ride = {
        "substring_strip": lambda df: df.withColumn(
            "__cross_stripped", F.col("n_removed") > 0
        ),
        "intra_strip": lambda df: df.withColumn(
            "__intra_stripped", F.col("n_removed") > 0
        ).withColumn("__pre_pii", F.xxhash64("text")),
        "pii_redact": lambda df: df.withColumn(
            "__was_redacted", F.xxhash64("text") != F.col("__pre_pii")
        ).drop("__pre_pii"),
    }
    seen: dict[str, DataFrame] = {}

    def tap(name: str, df: DataFrame) -> DataFrame:
        seen[name] = df = ride.get(name, lambda x: x)(df)
        return df

    packed = corpus.run(base, steps[1:], tap)

    def n_and_clones(df: DataFrame) -> DataFrame:
        # coalesce: sum over an EMPTY frame is NULL — keep the gate's
        # diagnostic RuntimeError reachable instead of a TypeError
        return df.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.sum(F.when(F.col("doc_id") >= 1_000_000, 1).otherwise(0)), F.lit(0)
            ).alias("ncl"),
        )

    # the gate jobs read checkpoint blocks only — run them concurrently
    # (r8, guide §2.6). Normalize-stage gate: clones are byte-unequal to
    # their originals until normalization, so "clones entered dedup AND
    # none survived it" certifies the stage actually unified them.
    fs, es, stage, r_decon, r_surv, r_lmkept, r_chunk = _first_parallel(
        n_and_clones(seen["quality_filter"]),
        n_and_clones(seen["substring_strip"]),
        seen["token_budget"].agg(
            F.count(F.lit(1)).alias("n_budgeted"),
            F.max(F.col("__was_redacted").cast("int")).alias("any_redact"),
            F.max(F.col("__cross_stripped").cast("int")).alias("any_cross"),
            F.max(F.col("__intra_stripped").cast("int")).alias("any_intra"),
        ),
        seen["decontaminate"].agg(F.count(F.lit(1)).alias("n")),
        seen["neardup_drop"].agg(F.count(F.lit(1)).alias("n")),
        seen["lm_tier_drop"].agg(F.count(F.lit(1)).alias("n")),
        seen["chunk"].filter(F.col("chunk_index") >= 1).select("chunk_index"),
    )
    n_filtered, n_clone_filtered = fs["n"], fs["ncl"]
    n_exact, n_clone_exact = es["n"], es["ncl"]
    n_decon, n_surv, n_lmkept = r_decon["n"], r_surv["n"], r_lmkept["n"]
    binding = {
        "normalize_unify": n_clone_filtered > 0 and n_clone_exact == 0,
        "quality_filter": 0 < n_filtered < n_base,
        "exact_dedup": n_exact < n_filtered,
        "substring_strip": bool(stage.any_cross),
        "intra_strip": bool(stage.any_intra),
        "pii_redact": bool(stage.any_redact),
        "decontaminate": n_decon < n_exact,
        "neardup_drop": n_surv < n_decon,
        "lm_tier_drop": 0 < n_lmkept < n_surv,
        "token_budget": stage.n_budgeted < n_lmkept,
        "chunking": r_chunk is not None,  # a multi-chunk doc survived
    }
    dead = [k for k, ok in binding.items() if not ok]
    if dead:
        raise RuntimeError(f"vacuous pipeline stage(s): {dead}")

    chunk_fp = seen["chunk"].select(
        corpus.chunk_uid().alias("chunk_uid"), F.md5("chunk_text").alias("chunk_fp")
    )
    out = packed.join(chunk_fp, "chunk_uid").select(
        "chunk_uid",
        "shard",
        "bin",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        "truncated",
        "chunk_fp",
    ).localCheckpoint(eager=True)
    multi = (
        out.groupBy("shard", "bin").count().filter(F.col("count") >= 2).limit(1).count()
    )
    if not multi:
        raise RuntimeError("vacuous pipeline packing: no multi-chunk bin")
    return out


def q_corpus_prep_merged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both corpus-prep certifications in one entry, tagged by `face`:
    'stats' = exact dedup → quality gate → per-(source, lang) corpus
    stats; 'full' = the composed prep job (clones → exact dedup →
    quota → near-dup drop → split, every stage binding). Merged under
    the 50-row driver attestation cap (r6); each face keeps its exact
    DuckDB replay."""
    stats = q_corpus_prep(spark, sf_dir).select(
        F.lit("stats").alias("face"),
        "source",
        "lang",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        "min_quality",
        "max_quality",
        F.lit(None).cast("string").alias("doc_id"),
        F.lit(None).cast("string").alias("split"),
    )
    full = q_corpus_prep_full(spark, sf_dir).select(
        F.lit("full").alias("face"),
        "source",
        F.lit(None).cast("string").alias("lang"),
        F.lit(None).cast("bigint").alias("n_docs"),
        F.lit(None).cast("bigint").alias("n_tokens"),
        F.lit(None).cast("double").alias("min_quality"),
        F.lit(None).cast("double").alias("max_quality"),
        "doc_id",
        "split",
    )
    return stats.unionByName(full)


def _oracle_corpus_pipeline_e2e() -> str:
    """ONE DuckDB replay of the whole corpus pipeline — every stage's
    SQL comes from the same builders its standalone certification uses
    (gram_hash64_sql / tokhash_list_sql / pii_redact_sql /
    _minhash_oracle_parts / the pack lockstep fold), re-based on the
    previous stage's CTE instead of the raw table, so the composition
    cannot desynchronize from the per-operator replays."""
    from schema_drift_detector_spark.functions.pii import pii_redact_sql
    from schema_drift_detector_spark.functions.text import (
        gram_hash64_sql,
        tokhash_list_sql,
    )

    from schema_drift_detector_spark.operators.sampling import hash_bucket_sql

    from schema_drift_detector_spark.operators.cleaning import gopher_metrics_ctes

    from schema_drift_detector_spark.functions.normalize import normalize_sql

    gh = gram_hash64_sql("h", "CAST(i AS INT)", 8)
    mh_ctes, mh_pairs = _minhash_oracle_parts(table="decon")
    gq_ctes = gopher_metrics_ctes("q", "normed", min_stopword_hits=1)
    from schema_drift_detector_spark.operators.quality_lm import lm_ppl_sql_ctes

    lm_ctes = lm_ppl_sql_ctes("lm", "surv")
    from schema_drift_detector_spark.functions.urlmeta import url_verdict_sql

    e2e_url = (
        "CASE WHEN doc_id % 23 = 0 THEN 'https://www.Evil-Ads.example/e/' "
        "WHEN doc_id % 29 = 0 THEN 'https://news.site.example/free-casino-bonus/' "
        "ELSE 'https://docs.example.org/d/' END || CAST(doc_id AS VARCHAR)"
    )
    url_pred = (
        f"({url_verdict_sql(e2e_url, _URL_BLOCK, _URL_HARD, _URL_SOFT, _URL_TH)})"
        " IS NULL"
    )
    return f"""
WITH RECURSIVE raw AS (
  -- stage -1: URL governance (shared url_verdict_sql builder) — the
  -- crawl-record drop applied before any text stage
  SELECT doc_id, source,
         (CASE WHEN doc_id % 7 = 0 THEN text || '{_SUBSTR_FOOTER}' ELSE text END)
         || (CASE WHEN doc_id % 11 = 0
                  THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.org now'
                  ELSE '' END)
         || (CASE WHEN doc_id % 13 = 0 THEN ' ' || rep || ' ' || rep
                  ELSE '' END) AS text
  FROM (SELECT doc_id, source, text,
               array_to_string(string_split(text, ' ')[1:10], ' ') AS rep
        FROM documents)
  WHERE {url_pred}
),
base AS (
  SELECT doc_id, source,
         text || CASE WHEN doc_id % 10 = 0 THEN {_sql_str(_E2E_NFC_RAW)}
                      ELSE '' END AS text
  FROM raw
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, source,
         text || {_sql_str(_E2E_NFC_CLONE)} AS text
  FROM raw WHERE doc_id % 10 = 0
),
normed AS MATERIALIZED (
  -- stage 0: Unicode normalization (shared builder with the engine's
  -- Arrow pass — tests/test_normalize pins the parity)
  SELECT doc_id, source, {normalize_sql('text')} AS text FROM base
),
{gq_ctes},
filt AS (
  SELECT b.* FROM normed b JOIN qgq USING (doc_id) WHERE qgq.keep
),
exact AS MATERIALIZED (
  SELECT * FROM filt QUALIFY doc_id = min(doc_id) OVER (PARTITION BY md5(text))
),
stok AS (SELECT doc_id, source, text, string_split(text, ' ') AS t FROM exact),
sth AS (SELECT doc_id, t, {tokhash_list_sql('t')} AS h FROM stok WHERE len(t) >= 8),
sgrams AS (
  SELECT doc_id, CAST(i AS INT) AS pos, {gh} AS gh
  FROM sth, unnest(generate_series(1, len(t) - 7)) s(i)
),
boiler AS (
  SELECT gh FROM (SELECT gh, count(DISTINCT doc_id) AS df FROM sgrams GROUP BY 1)
  WHERE df >= 4
),
shits AS (SELECT DISTINCT g.doc_id, g.pos FROM sgrams g JOIN boiler USING (gh)),
stoks AS (
  SELECT doc_id, CAST(i AS INT) AS pos, t[CAST(i AS INT)] AS token
  FROM stok, unnest(generate_series(1, len(t))) s(i)
),
scov AS (
  SELECT DISTINCT tk.doc_id, tk.pos
  FROM stoks tk JOIN shits hh ON hh.doc_id = tk.doc_id
   AND tk.pos BETWEEN hh.pos AND hh.pos + 7
),
sagg AS (
  SELECT tk.doc_id,
         coalesce(string_agg(tk.token, ' ' ORDER BY tk.pos)
                  FILTER (WHERE c.pos IS NULL), '') AS kept
  FROM stoks tk LEFT JOIN scov c ON c.doc_id = tk.doc_id AND c.pos = tk.pos
  GROUP BY tk.doc_id
),
scl AS MATERIALIZED (
  -- cross-doc-stripped text; the intra pass below re-grams THIS text,
  -- so the composition (cleaning changes gram identities) is replayed
  SELECT e.doc_id, e.source, coalesce(a.kept, e.text) AS text
  FROM exact e LEFT JOIN sagg a USING (doc_id)
),
{_intra_strip_ctes('x', 'scl')},
redacted AS MATERIALIZED (
  SELECT s.doc_id, s.source, {pii_redact_sql('coalesce(x.kept, s.text)')} AS text
  FROM scl s LEFT JOIN xagg x USING (doc_id)
),
dtok AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t
  FROM redacted
),
etok AS (
  SELECT list_filter(string_split_regex(lower(substr(text, 1, 200)), '[^a-z0-9]+'),
                     x -> x <> '') AS t
  FROM redacted
  WHERE {hash_bucket_sql('CAST(doc_id AS VARCHAR)', salt=':eval')} < 40000
),
eth AS (SELECT {tokhash_list_sql('t')} AS h FROM etok WHERE len(t) >= 8),
dth AS (SELECT doc_id, {tokhash_list_sql('t')} AS h FROM dtok WHERE len(t) >= 8),
egrams AS (
  SELECT DISTINCT {gh} AS gh
  FROM eth, unnest(generate_series(1, len(h) - 7)) u(i)
),
dgrams AS (
  SELECT DISTINCT doc_id, {gh} AS gh
  FROM dth, unnest(generate_series(1, len(h) - 7)) u(i)
),
contaminated AS (SELECT DISTINCT d.doc_id FROM dgrams d JOIN egrams e ON d.gh = e.gh),
decon AS MATERIALIZED (
  SELECT r.* FROM redacted r LEFT JOIN contaminated c USING (doc_id)
  WHERE c.doc_id IS NULL
),
{mh_ctes},
pairs AS ({mh_pairs}),
edges AS MATERIALIZED (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
reach(doc, r) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.a, reach.r FROM edges e JOIN reach ON reach.doc = e.b
),
cl AS (SELECT doc, min(r) AS cluster FROM reach GROUP BY doc),
ndrops AS (SELECT doc FROM cl WHERE doc <> cluster),
surv AS MATERIALIZED (
  -- MATERIALIZED: the LM builder reads it twice (occurrences + the
  -- per-doc tier join) and lmkept a third time
  SELECT d.* FROM decon d LEFT JOIN ndrops ON d.doc_id = ndrops.doc
  WHERE ndrops.doc IS NULL
),
{lm_ctes},
lmkept AS MATERIALIZED (
  -- CCNet tier stage: tail perplexity third drops (NULL tiers cannot
  -- occur here — every survivor has text — but IN () would drop them,
  -- matching the engine's isin filter)
  SELECT s.* FROM surv s JOIN lmtier t USING (doc_id)
  WHERE t.ppl_tier IN ('head', 'middle')
),
budget AS (
  SELECT doc_id, text FROM (
    SELECT doc_id, text,
           sum(len(string_split(text, ' '))) OVER (
             PARTITION BY source
             ORDER BY {hash_bucket_sql('CAST(doc_id AS VARCHAR)', salt=':budget')} ASC, doc_id ASC
             ROWS UNBOUNDED PRECEDING) AS cum
    FROM lmkept) b
  WHERE cum <= 400
),
ctok AS (
  SELECT doc_id, string_split(text, ' ') AS t,
         len(string_split(text, ' ')) AS n
  FROM budget
),
cks AS (
  SELECT doc_id, t, n,
         unnest(generate_series(0,
           CASE WHEN n <= 24 THEN 0
                ELSE CAST(ceil((n - 24) * 1.0 / 12) AS INT) END)) AS k
  FROM ctok
),
chunks AS (
  SELECT CAST(doc_id AS VARCHAR) || ':' || CAST(k AS VARCHAR) AS chunk_uid,
         CAST(least(n - k * 12, 24) AS BIGINT) AS n_tokens,
         md5(array_to_string(t[CAST(k * 12 + 1 AS INT):CAST(k * 12 + 24 AS INT)], ' '))
           AS chunk_fp
  FROM cks
),
po AS (
  SELECT chunk_uid, n_tokens, chunk_fp,
         {hash_bucket_sql('chunk_uid', salt=':pack')} AS ph
  FROM chunks
),
po2 AS MATERIALIZED (
  SELECT *, CAST(ph % 8 AS INTEGER) AS shard,
         row_number() OVER (PARTITION BY ph % 8 ORDER BY ph, chunk_uid) AS rn
  FROM po
),
fold AS (
  SELECT shard, rn, chunk_uid, n_tokens, chunk_fp,
         CAST(0 AS BIGINT) AS bin,
         n_tokens > 40 AS truncated,
         CASE WHEN n_tokens > 40 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS cur_bin,
         CASE WHEN n_tokens > 40 THEN CAST(0 AS BIGINT) ELSE n_tokens END AS cur_fill,
         n_tokens <= 40 AS started
  FROM po2 WHERE rn = 1
  UNION ALL
  SELECT o.shard, o.rn, o.chunk_uid, o.n_tokens, o.chunk_fp,
         CASE WHEN o.n_tokens > 40
              THEN f.cur_bin + CASE WHEN f.started THEN 1 ELSE 0 END
              WHEN f.started AND f.cur_fill + o.n_tokens > 40
              THEN f.cur_bin + 1
              ELSE f.cur_bin END AS bin,
         o.n_tokens > 40 AS truncated,
         CASE WHEN o.n_tokens > 40
              THEN f.cur_bin + CASE WHEN f.started THEN 1 ELSE 0 END + 1
              WHEN f.started AND f.cur_fill + o.n_tokens > 40
              THEN f.cur_bin + 1
              ELSE f.cur_bin END AS cur_bin,
         CASE WHEN o.n_tokens > 40 THEN CAST(0 AS BIGINT)
              WHEN f.started AND f.cur_fill + o.n_tokens > 40 THEN o.n_tokens
              ELSE f.cur_fill + o.n_tokens END AS cur_fill,
         o.n_tokens <= 40 AS started
  FROM fold f JOIN po2 o ON o.shard = f.shard AND o.rn = f.rn + 1
)
SELECT chunk_uid, shard, bin, n_tokens, truncated, chunk_fp FROM fold
"""


def _oracle_corpus_prep_merged() -> str:
    return f"""
SELECT 'stats' AS face, source, lang, CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_tokens AS BIGINT) AS n_tokens, min_quality, max_quality,
       CAST(NULL AS VARCHAR) AS doc_id, CAST(NULL AS VARCHAR) AS split
FROM ({ORACLE_CORPUS_PREP}) cp_stats
UNION ALL
SELECT 'full' AS face, source, CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
       CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
       doc_id, split
FROM ({_oracle_corpus_prep_full()}) cp_full
"""


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking certified end-to-end, two faces:

    'ws' — 24-token windows, stride 12 (overlapping), over the default
    single-space tokenization; every chunk's exact token slice
    md5-fingerprinted — so window arithmetic, end clipping, and overlap
    boundaries are all hash-checked. Null text (injected on
    doc_id%97==3, the fixtures carry none) yields NO rows — certified
    by the oracle's identical WHERE. Docs span 10-99 tokens at every
    SF, so single-chunk and up-to-8-chunk docs both occur (gated).

    'chargram' (r7) — the TOKENIZER SEAM face: the same windows over a
    PRECOMPUTED token array (character 4-gram pieces via
    regexp_extract_all — a deterministic stand-in for BPE output,
    which the offline sandbox can't ship) passed through ``tokens_col``
    with joiner '' — proving chunk boundaries follow the provided
    tokens, not the engine's whitespace split. Gated non-vacuous: the
    chargram tokenization must produce MORE chunks than the whitespace
    one (4-char pieces outnumber words), so the face can't silently
    collapse into the default path.

    'bpe' (late r7) — the same windows over GPT-2-style regex
    pre-tokenization (bpe_ish_tokens: contractions, Unicode letter
    runs, digit TRIPLES, punctuation runs — the Java∩RE2 pattern,
    parity-pinned in tests) over text planted with BPE-relevant
    suffixes on doc_id % 11 == 0 (the corpus is pure lowercase words,
    on which BPE and whitespace tokenization provably coincide — the
    gate pins exactly that on unplanted docs, and that planted docs
    out-token the ws face)."""
    ws = q_chunk_documents__ws(spark, sf_dir)
    cg = q_chunk_documents__chargram(spark, sf_dir)
    bpe = q_chunk_documents__bpe(spark, sf_dir)
    out = ws.unionByName(cg).unionByName(bpe).localCheckpoint(eager=True)
    counts = {
        r["face"]: (r["n"], r["mx"])
        for r in out.groupBy("face")
        .agg(F.count(F.lit(1)).alias("n"), F.max("chunk_index").alias("mx"))
        .collect()
    }
    # a face absent from the groupBy result means ZERO rows — the most
    # vacuous outcome of all; .get with a (0, -1) sentinel keeps the
    # diagnostic RuntimeErrors below reachable instead of a bare
    # KeyError (review catch, r7)
    n_ws, mx_ws = counts.get("ws", (0, -1))
    n_cg, _ = counts.get("chargram", (0, -1))
    single = (
        out.filter(F.col("face") == "ws")
        .groupBy("doc_id").agg(F.max("chunk_index").alias("mx"))
        .filter(F.col("mx") == 0).limit(1).count()
    )
    if not (mx_ws is not None and mx_ws >= 2 and single):
        raise RuntimeError(
            "vacuous chunking: need both a single-chunk doc and a >2-chunk doc"
        )
    if n_cg <= n_ws:
        raise RuntimeError(
            "vacuous tokenizer seam: chargram face must out-chunk the "
            f"whitespace face, got {n_cg} <= {n_ws}"
        )
    # 'bpe' contracts: on the pure-word corpus the BPE regex and the
    # space split coincide doc-for-doc (same chunk counts); on the
    # planted docs the BPE face must out-chunk or out-token the ws face
    per_doc = (
        out.filter(F.col("face").isin("ws", "bpe"))
        .groupBy("doc_id", "face")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("n_chunk_tokens").alias("nt"))
        .groupBy("doc_id")
        .pivot("face", ["ws", "bpe"])
        .agg(F.first("n").alias("n"), F.first("nt").alias("nt"))
    )
    # coalesce both sides: a doc chunking under ONE face only leaves the
    # other pivot cell NULL, and `ws_n != bpe_n` would be NULL-skipped —
    # exactly the kind of divergence this gate exists to catch (review
    # catch)
    bst = per_doc.agg(
        F.count(
            F.when(
                (F.col("doc_id") % 11 != 0)
                & (
                    F.coalesce("ws_n", F.lit(0))
                    != F.coalesce("bpe_n", F.lit(0))
                ),
                1,
            )
        ).alias("diverged_unplanted"),
        F.count(
            F.when(
                (F.col("doc_id") % 11 == 0) & (F.col("bpe_nt") > F.col("ws_nt")),
                1,
            )
        ).alias("plant_bound"),
    ).first()
    if not (bst.diverged_unplanted == 0 and bst.plant_bound > 0):
        raise RuntimeError(
            f"vacuous BPE tokenizer face: unplanted docs must chunk "
            f"identically to ws and planted docs must out-token it ({bst})"
        )
    return out


def _chunk_entry_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # size-gated fan (r8 measurement): at sf0.1 the merged three-face
    # union pays three repartition exchanges and lands slower fanned
    # (1.9 s vs 1.25 s) — the 4 MB floor keeps it plain there — while
    # at sf1.0 each un-fanned face scans 6× slower (3.7 s vs 0.6 s ws)
    return _t_fan_big(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(F.col("doc_id") % 97 == 3, F.lit(None).cast("string"))
        .otherwise(F.col("text"))
        .alias("text"),
    )


def q_chunk_documents__ws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 'ws' face PLAN of q_chunk_documents, un-checkpointed and
    un-gated — bench.py times q_<name>__<face> helpers directly because
    the merged entry eagerly checkpoints both faces before returning,
    so a post-hoc .filter(face) would price the whole union (review
    catch, r7)."""
    from schema_drift_detector_spark.operators.packing import chunk_documents

    docs = _chunk_entry_docs(spark, sf_dir)
    return chunk_documents(docs, chunk_tokens=24, stride=12).select(
        F.lit("ws").alias("face"),
        "doc_id",
        "chunk_index",
        "n_chunk_tokens",
        F.md5("chunk_text").alias("chunk_fp"),
    )


def q_chunk_documents__chargram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 'chargram' (tokenizer-seam) face PLAN of q_chunk_documents
    (see __ws)."""
    from schema_drift_detector_spark.operators.packing import chunk_documents

    toks = _chunk_entry_docs(spark, sf_dir).withColumn(
        "toks", F.regexp_extract_all(F.col("text"), F.lit("(?s).{1,4}"), 0)
    )
    return chunk_documents(
        toks, chunk_tokens=24, stride=12, tokens_col="toks", joiner=""
    ).select(
        F.lit("chargram").alias("face"),
        "doc_id",
        "chunk_index",
        "n_chunk_tokens",
        F.md5("chunk_text").alias("chunk_fp"),
    )


# the 'bpe' face's plant: the synthetic corpus is pure lowercase words
# (whitespace and BPE-regex tokenization coincide on it — verified), so
# docs on doc_id % 11 == 0 get a suffix whose contractions, digits, and
# punctuation the BPE pre-tokenizer splits finer than the space split.
# Shared with the oracle as _BPE_PLANT_SQL.
_BPE_PLANT = " it's v2.0 (beta-3) costs $1,234!"
_BPE_PLANT_SQL = (
    "CASE WHEN doc_id % 11 = 0 THEN text || ' it''s v2.0 (beta-3) costs $1,234!' "
    "ELSE text END"
)


def q_chunk_documents__bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 'bpe' face PLAN of q_chunk_documents (see __ws): the same
    windows over GPT-2-style regex pre-tokenization (bpe_ish_tokens —
    contractions, digit triples, punctuation runs) via the tokens_col
    seam, over text planted with BPE-relevant suffixes."""
    from schema_drift_detector_spark.functions.text import bpe_ish_tokens
    from schema_drift_detector_spark.operators.packing import chunk_documents

    docs = _chunk_entry_docs(spark, sf_dir).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 11 == 0, F.concat("text", F.lit(_BPE_PLANT))
        ).otherwise(F.col("text")),
    )
    toks = docs.withColumn("toks", bpe_ish_tokens("text"))
    return chunk_documents(
        toks, chunk_tokens=24, stride=12, tokens_col="toks", joiner=" "
    ).select(
        F.lit("bpe").alias("face"),
        "doc_id",
        "chunk_index",
        "n_chunk_tokens",
        F.md5("chunk_text").alias("chunk_fp"),
    )


def _oracle_chunk_face(face: str, tok_expr: str, joiner_lit: str) -> str:
    # one face's full replay; array_to_string demands a CONSTANT
    # separator in DuckDB, so each face is a complete branch with its
    # joiner inlined as a literal
    return f"""
WITH docs AS (
  SELECT doc_id, CASE WHEN doc_id % 97 = 3 THEN NULL ELSE text END AS text
  FROM documents
), tok AS (
  SELECT doc_id, {tok_expr} AS t, len({tok_expr}) AS n
  FROM docs WHERE text IS NOT NULL
), ks AS (
  SELECT doc_id, t, n,
         unnest(generate_series(0,
           CASE WHEN n <= 24 THEN 0
                ELSE CAST(ceil((n - 24) * 1.0 / 12) AS INT) END)) AS k
  FROM tok
)
SELECT '{face}' AS face, doc_id, CAST(k AS INT) AS chunk_index,
       CAST(least(n - k * 12, 24) AS INT) AS n_chunk_tokens,
       md5(array_to_string(t[CAST(k * 12 + 1 AS INT):CAST(k * 12 + 24 AS INT)],
           {joiner_lit})) AS chunk_fp
FROM ks
"""


def _oracle_chunk_documents() -> str:
    from schema_drift_detector_spark.functions.text import bpe_ish_tokens_sql

    return (
        "SELECT * FROM (\n"
        + _oracle_chunk_face("ws", "string_split(text, ' ')", "' '")
        + "\n) UNION ALL SELECT * FROM (\n"
        + _oracle_chunk_face(
            "chargram", "regexp_extract_all(text, '(?s).{1,4}')", "''"
        )
        + "\n) UNION ALL SELECT * FROM (\n"
        # 'bpe': GPT-2-style regex pre-tokenization (shared pattern via
        # bpe_ish_tokens_sql) over the planted text — the plant CASE is
        # applied inside the token expression, after the %97 NULLing
        # (NULL || plant is NULL in both engines)
        + _oracle_chunk_face("bpe", bpe_ish_tokens_sql(_BPE_PLANT_SQL), "' '")
        + "\n)"
    )


ORACLE_CHUNK_DOCUMENTS = _oracle_chunk_documents()


def q_histogram_drift_merged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram family in one entry, tagged by `face`: 'bins' = the
    fixed-bin numeric histogram (orders totalprice), 'drift' = the
    KS/chi-square drift statistics computed over merged event-value
    histograms. Merged to free a board slot for the stream-stream join
    (r6); each face keeps its exact replay."""
    bins = q_totalprice_histogram(spark, sf_dir).select(
        F.lit("bins").alias("face"),
        F.col("bin").cast("int").alias("bin"),
        F.col("bin_count").cast("long").alias("bin_count"),
        F.lit(None).cast("string").alias("event_type"),
        F.lit(None).cast("double").alias("ks_stat"),
        F.lit(None).cast("double").alias("chi2_stat"),
        F.lit(None).cast("long").alias("n_base"),
        F.lit(None).cast("long").alias("n_curr"),
        F.lit(None).cast("long").alias("n_bins"),
    )
    drift = q_distribution_drift_events(spark, sf_dir).select(
        F.lit("drift").alias("face"),
        F.lit(None).cast("int").alias("bin"),
        F.lit(None).cast("long").alias("bin_count"),
        "event_type",
        "ks_stat",
        "chi2_stat",
        "n_base",
        "n_curr",
        "n_bins",
    )
    return bins.unionByName(drift)


def _oracle_histogram_drift_merged() -> str:
    return f"""
SELECT 'bins' AS face, CAST(bin AS INT) AS bin, CAST(bin_count AS BIGINT) AS bin_count,
       CAST(NULL AS VARCHAR) AS event_type, CAST(NULL AS DOUBLE) AS ks_stat,
       CAST(NULL AS DOUBLE) AS chi2_stat, CAST(NULL AS BIGINT) AS n_base,
       CAST(NULL AS BIGINT) AS n_curr, CAST(NULL AS BIGINT) AS n_bins
FROM ({ORACLE_HISTOGRAM}) hh
UNION ALL
SELECT 'drift' AS face, CAST(NULL AS INT), CAST(NULL AS BIGINT),
       event_type, ks_stat, chi2_stat, CAST(n_base AS BIGINT),
       CAST(n_curr AS BIGINT), CAST(n_bins AS BIGINT)
FROM ({ORACLE_DRIFT_EVENTS}) dd
"""


def q_order_chain__analytic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 'analytic' face (bare plan; late-r7): the rest of the SQL
    window-function surface in one certified pass — lead, ntile
    quartiles, percent_rank, cume_dist, and an explicit ROWS-frame
    running sum. ONE window shuffle (all five share the same
    partition/order); the running sum pins the ROWS (not Spark's
    default RANGE) frame, and the (o_orderdate, o_orderkey) ordering
    is total so rank-family outputs are deterministic. percent_rank/
    cume_dist round at 6dp, the running double sum at 4dp (2-decimal
    inputs: a 4dp round absorbs ulp-order differences without ever
    sitting near a rounding boundary)."""
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate", "o_totalprice"
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.lead("o_orderkey").over(w).alias("lead_orderkey"),
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume_dist"),
        F.round(
            F.sum("o_totalprice").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
            4,
        ).alias("running_spend"),
    )


ORACLE_ORDER_ANALYTIC = """
SELECT o_custkey, o_orderkey,
       lead(o_orderkey) OVER w AS lead_orderkey,
       ntile(4) OVER w AS quartile,
       round(percent_rank() OVER w, 6) AS pct_rank,
       round(cume_dist() OVER w, 6) AS cume_dist,
       round(sum(o_totalprice) OVER (PARTITION BY o_custkey
                                     ORDER BY o_orderdate, o_orderkey
                                     ROWS UNBOUNDED PRECEDING), 4) AS running_spend
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


def q_order_chain_merged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-customer order window certifications in one entry,
    tagged by `face`: 'chain' = lag-linked order lineage, 'latest' =
    the R11 top-1-per-entity pick (merged r6 to free a board slot for
    the range join), 'analytic' = late-r7: lead/ntile/percent_rank/
    cume_dist/ROWS-frame running sum (see q_order_chain__analytic).
    Each face keeps its exact replay; series annotated in
    BENCH/BASELINE.md."""
    pads_analytic = [
        F.lit(None).cast("bigint").alias("lead_orderkey"),
        F.lit(None).cast("int").alias("quartile"),
        F.lit(None).cast("double").alias("pct_rank"),
        F.lit(None).cast("double").alias("cume_dist"),
        F.lit(None).cast("double").alias("running_spend"),
    ]
    chain = q_order_chain(spark, sf_dir).select(
        F.lit("chain").alias("face"),
        "o_custkey",
        "o_orderkey",
        "prev_orderkey",
        F.lit(None).cast("string").alias("latest_order_date"),
        *pads_analytic,
    )
    latest = q_latest_order_per_customer(spark, sf_dir).select(
        F.lit("latest").alias("face"),
        "o_custkey",
        "o_orderkey",
        F.lit(None).cast("bigint").alias("prev_orderkey"),
        "latest_order_date",
        *pads_analytic,
    )
    analytic = q_order_chain__analytic(spark, sf_dir).select(
        F.lit("analytic").alias("face"),
        "o_custkey",
        "o_orderkey",
        F.lit(None).cast("bigint").alias("prev_orderkey"),
        F.lit(None).cast("string").alias("latest_order_date"),
        "lead_orderkey",
        "quartile",
        "pct_rank",
        "cume_dist",
        "running_spend",
    )
    return chain.unionByName(latest).unionByName(analytic)


def _oracle_order_chain_merged() -> str:
    return f"""
SELECT 'chain' AS face, o_custkey, o_orderkey, prev_orderkey,
       CAST(NULL AS VARCHAR) AS latest_order_date,
       CAST(NULL AS BIGINT) AS lead_orderkey, CAST(NULL AS INT) AS quartile,
       CAST(NULL AS DOUBLE) AS pct_rank, CAST(NULL AS DOUBLE) AS cume_dist,
       CAST(NULL AS DOUBLE) AS running_spend
FROM ({ORACLE_ORDER_CHAIN}) oc
UNION ALL
SELECT 'latest' AS face, o_custkey, o_orderkey, CAST(NULL AS BIGINT),
       latest_order_date, NULL, NULL, NULL, NULL, NULL
FROM ({ORACLE_LATEST_ORDER}) lo
UNION ALL
SELECT 'analytic' AS face, o_custkey, o_orderkey, CAST(NULL AS BIGINT),
       CAST(NULL AS VARCHAR),
       lead_orderkey, quartile, pct_rank, cume_dist, running_spend
FROM ({ORACLE_ORDER_ANALYTIC}) oa
"""


# bench face helpers (bare per-face plans)
q_order_chain__chain = q_order_chain


def q_order_chain__latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    return q_latest_order_per_customer(spark, sf_dir)


def q_range_join_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval-containment) join certified end-to-end: purchase
    sessions (6h inactivity gap, padded ±2h) become [start, end]
    intervals per user; ALL events then range-join into them via the
    time-bin shape (operators/asof.py::interval_join — each interval
    explodes into its covering 1h bins, each point hits exactly one
    bin, equi-join + residual BETWEEN; no theta-join, no dedup). The
    oracle replays the session derivation AND a plain SQL BETWEEN
    join. Intervals span up to ~16h (multi-bin, gated) and ~75% of
    events match no interval, so containment is certified
    non-vacuously in both directions."""
    from schema_drift_detector_spark.operators.asof import interval_join

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    epoch = F.col("ts").cast("timestamp").cast("double")
    gap = epoch - F.lag(epoch).over(w)
    sess = (
        ev.filter(F.col("event_type") == "purchase")
        .withColumn("ns", F.when(gap.isNull() | (gap > 21600), 1).otherwise(0))
        .withColumn(
            "sid",
            F.sum("ns").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
    )
    iv = sess.groupBy("user_id", "sid").agg(
        (F.min("ts") - F.expr("INTERVAL 2 HOURS")).alias("s_start"),
        (F.max("ts") + F.expr("INTERVAL 2 HOURS")).alias("s_end"),
    )
    out = interval_join(
        ev.select("event_id", "user_id", "ts", "event_type"),
        iv,
        keys=["user_id"],
        bin_seconds=3600,
    ).select(
        "event_id",
        "user_id",
        "event_type",
        F.col("sid").cast("long").alias("sid"),
        F.floor(F.col("s_start").cast("timestamp").cast("double")).cast("long").alias("start_epoch"),
        F.floor(F.col("s_end").cast("timestamp").cast("double")).cast("long").alias("end_epoch"),
    ).localCheckpoint(eager=True)
    # every interval is >= 4h by construction (±2h padding), i.e.
    # multi-bin at 1h bins — so multi-bin coverage needs no separate
    # gate; what CAN silently degenerate is the interval-length spread,
    # so require an interval well beyond the construction minimum
    # (a real multi-purchase session) alongside plain non-emptiness
    long_iv = out.filter(F.col("end_epoch") - F.col("start_epoch") > 6 * 3600)
    if out.limit(1).count() == 0 or long_iv.limit(1).count() == 0:
        raise RuntimeError(
            "vacuous range join: no matches or no interval beyond the "
            "4h construction minimum"
        )
    return out


ORACLE_RANGE_JOIN_SESSIONS = """
WITH p AS (
  SELECT user_id, event_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch(ts) - lag(epoch(ts)) OVER w > 21600 THEN 1 ELSE 0 END AS ns
  FROM events WHERE event_type = 'purchase'
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
), s AS (
  -- the cumsum must use the SAME (ts, event_id) total order as the
  -- lag pass: with ts-only ordering, equal-ts purchases would get
  -- ambiguous sids
  SELECT user_id, ts,
         sum(ns) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                       ROWS UNBOUNDED PRECEDING) AS sid
  FROM p
), iv AS (
  SELECT user_id, sid,
         min(ts) - INTERVAL 2 HOUR AS s_start,
         max(ts) + INTERVAL 2 HOUR AS s_end
  FROM s GROUP BY 1, 2
)
SELECT e.event_id, e.user_id, e.event_type,
       CAST(iv.sid AS BIGINT) AS sid,
       CAST(floor(epoch(iv.s_start)) AS BIGINT) AS start_epoch,
       CAST(floor(epoch(iv.s_end)) AS BIGINT) AS end_epoch
FROM events e JOIN iv
  ON e.user_id = iv.user_id AND e.ts BETWEEN iv.s_start AND iv.s_end
"""


def _ssjoin_sides(src: DataFrame) -> tuple[DataFrame, DataFrame]:
    purchases = src.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"), "user_id", F.col("ts").alias("p_ts")
    )
    views = src.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("v_id"),
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("v_ts"),
    )
    return purchases, views


def _run_ssjoin_stream(spark: SparkSession, joined: DataFrame, out: str) -> DataFrame:
    def sink(batch_df, batch_id):
        # foreachBatch is AT-LEAST-ONCE (a failed batch re-runs with the
        # same batch_id): since this entry certifies the UNION of every
        # batch, the sink must be idempotent — static overwrite of a
        # batch_id-keyed subdir, so a retry replaces rather than appends
        batch_df.write.mode("overwrite").parquet(f"{out}/batch_id={batch_id}")

    q = (
        joined.writeStream.outputMode("append")
        .foreachBatch(sink)
        .option("checkpointLocation", f"{out}_ckpt")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError("stream_stream_join did not finish within 300s")
    return spark.read.parquet(out)


def _run_ssjoin_stream_sequenced(
    spark: SparkSession, sf_dir: str, build_join, out: str
) -> DataFrame:
    """Run the OUTER-face join over the ts-quartile files in STRICT
    event-time order by feeding one file per availableNow restart of a
    single checkpointed stream, then one empty sentinel file to flush
    the final watermark.

    Why (r8 inherited-state fix): the ordered replay used to rely on
    the file stream source processing oldest-mtime-first within one
    availableNow run. The Spark version in this environment no longer
    honors that order (observed arrival q1, q4, q2, q3), which (a)
    jumps the watermark past windows whose matching view is still in
    an unread file — emitting a null-pad where the certified result
    has a matched pair — and (b) the final watermark advance happens
    after the last data batch, so the pads it flushes were never
    emitted (availableNow terminates without a trailing batch).
    Sequential restarts make arrival order a construction property
    instead of a listing-order assumption: each restart sees exactly
    one unseen file (the checkpoint's file log skips seen ones), and
    watermark state persists across restarts. The empty sentinel file
    triggers one final batch in which the watermark computed from the
    last quartile flushes the remaining null-pads — data-free, so it
    adds no rows of its own. Output and semantics are EXACTLY the
    r7-certified per-horizon contract (the oracle is unchanged and
    hash-matches)."""
    import glob
    import shutil

    ev = _t(spark, sf_dir, "events")
    ordered_src = f"{_ARTIFACTS}/stream_windows/events4_ordered_{os.path.basename(sf_dir.rstrip('/'))}"
    # build (write-once) the committed quartile files via the existing
    # helper, then stage them one at a time into a per-run dir
    _stream_events_source_ordered(spark, sf_dir)
    stage = f"{out}_src"
    shutil.rmtree(stage, ignore_errors=True)
    os.makedirs(stage, exist_ok=True)

    def sink(batch_df, batch_id):
        # idempotent batch_id-keyed overwrite (see _run_ssjoin_stream)
        batch_df.write.mode("overwrite").parquet(f"{out}/batch_id={batch_id}")

    def _run_once() -> None:
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage)
            .withColumn("ts", F.col("ts").cast("timestamp"))
        )
        q = (
            build_join(stream)
            .writeStream.outputMode("append")
            .foreachBatch(sink)
            .option("checkpointLocation", f"{out}_ckpt")
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError("stream_stream_join did not finish within 300s")

    for k in range(1, 5):
        shutil.copy(f"{ordered_src}/q{k}.parquet", f"{stage}/q{k}.parquet")
        _run_once()
    # 0-row sentinel with the events schema: forces the flush batch
    sent_tmp = f"{stage}_sentinel"
    ev.limit(0).coalesce(1).write.mode("overwrite").parquet(sent_tmp)
    part = glob.glob(f"{sent_tmp}/part-*.parquet")[0]
    shutil.move(part, f"{stage}/q5_sentinel.parquet")
    shutil.rmtree(sent_tmp)
    _run_once()
    return spark.read.parquet(out)


# the outer face's watermark delay; odd-second so no event's window end
# can land exactly on the ms-floored watermark boundary by construction
_SSJOIN_OUTER_DELAY_SECONDS = 48 * 3600 + 61


def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream time-bounded join, two faces:

    'inner' — certified whole-stream: purchases and views stream in
    micro-batches (1 file per trigger per side over 4-way random
    splits); views within 1h after a same-user purchase must pair
    EXACTLY ONCE across the run — the union of every emitted
    micro-batch equals the plain SQL time-bounded join (inner matches
    emit when both rows have arrived; the watermark bounds the
    buffered state, not the output). Emissions spanning >=2
    micro-batches are gated, so cross-batch buffered matching is
    actually exercised.

    'outer' (r7) — the left-outer variant certified PER-HORIZON, the
    only honest certification for outer results on a finite stream
    (epochs.py's left_outer contract): over an event-time-ORDERED
    replay (ts-quartile files, forced mtime order — required: random
    arrival would emit null-pads for rows whose match arrives late),
    matched pairs emit like the inner join, and an unmatched purchase
    emits ONE null-padded row iff the FINAL watermark — min over both
    sides of ms-floored max event time seen, minus the 48h1m1s delay —
    STRICTLY passes its window end (p_ts + 1h < wm; the strict
    boundary and the ms floor are pinned empirically in
    tests/test_multimodal_streaming.py). The oracle replays exactly
    that rule; unmatched purchases in the unflushed tail are gated
    present-and-held-back, so the horizon cut is certified
    non-vacuously from both sides."""
    from schema_drift_detector_spark.streaming.epochs import stream_time_bounded_join

    # ---- inner face: random splits, whole-stream union ----
    out_i = _stream_out_dir(spark, sf_dir, "ssjoin")
    purchases, views = _ssjoin_sides(_stream_events_source(spark, sf_dir))
    rows_i = _run_ssjoin_stream(
        spark,
        stream_time_bounded_join(
            purchases, views, "user_id", "v_user", "p_ts", "v_ts",
            within="1 hour", watermark="60 days",
        ).select("p_id", "v_id", "user_id"),
        out_i,
    )
    n_batches = rows_i.select("batch_id").distinct().count()
    if rows_i.limit(1).count() == 0 or n_batches < 2:
        raise RuntimeError(
            f"vacuous stream-stream join: no matches or all emissions in one "
            f"micro-batch (batches with output: {n_batches})"
        )

    # ---- outer face: ordered replay, per-horizon ----
    # sequenced one-file-per-restart feeding (r8): arrival order and
    # the final-watermark flush are construction properties, not
    # listing-order assumptions — see _run_ssjoin_stream_sequenced
    out_o = _stream_out_dir(spark, sf_dir, "ssjoin_outer")

    def _build_outer(stream: DataFrame) -> DataFrame:
        purchases_o, views_o = _ssjoin_sides(stream)
        return stream_time_bounded_join(
            purchases_o, views_o, "user_id", "v_user", "p_ts", "v_ts",
            within="1 hour",
            watermark=f"{_SSJOIN_OUTER_DELAY_SECONDS} seconds",
            how="left_outer",
        ).select("p_id", "v_id", "user_id", "p_ts")

    rows_o = _run_ssjoin_stream_sequenced(spark, sf_dir, _build_outer, out_o)
    n_pads = rows_o.filter(F.col("v_id").isNull()).count()
    ev = _t(spark, sf_dir, "events")
    p_all, v_all = _ssjoin_sides(ev.withColumn("ts", F.col("ts").cast("timestamp")))
    n_unmatched_total = p_all.join(
        v_all,
        (F.col("v_user") == F.col("user_id"))
        & (F.col("v_ts") >= F.col("p_ts"))
        & (F.col("v_ts") <= F.col("p_ts") + F.expr("INTERVAL 1 HOUR")),
        "left_anti",
    ).count()
    if not (0 < n_pads < n_unmatched_total):
        raise RuntimeError(
            f"vacuous per-horizon certification: {n_pads} null-pads emitted of "
            f"{n_unmatched_total} unmatched purchases — need both flushed and "
            f"held-back rows"
        )
    return (
        rows_i.select(
            F.lit("inner").alias("face"),
            "p_id",
            "v_id",
            F.col("user_id").cast("long").alias("user_id"),
        )
        .unionByName(
            rows_o.select(
                F.lit("outer").alias("face"),
                "p_id",
                "v_id",
                F.col("user_id").cast("long").alias("user_id"),
            )
        )
    )


ORACLE_STREAM_STREAM_JOIN = f"""
WITH p AS (
  SELECT event_id AS p_id, user_id, ts AS p_ts FROM events
  WHERE event_type = 'purchase'
), v AS (
  SELECT event_id AS v_id, user_id AS v_user, ts AS v_ts FROM events
  WHERE event_type = 'view'
), matches AS (
  SELECT p.p_id, v.v_id, CAST(p.user_id AS BIGINT) AS user_id
  FROM p JOIN v
    ON v.v_user = p.user_id
   AND v.v_ts >= p.p_ts AND v.v_ts <= p.p_ts + INTERVAL 1 HOUR
), wm AS (
  -- the stream's FINAL global watermark: min over both sides of the
  -- ms-FLOORED max event time seen (Spark tracks event-time stats in
  -- milliseconds), minus the outer face's delay
  SELECT make_timestamp(
    least(
      (SELECT epoch_ms(max(p_ts)) FROM p),
      (SELECT epoch_ms(max(v_ts)) FROM v)
    ) * 1000 - CAST({_SSJOIN_OUTER_DELAY_SECONDS} AS BIGINT) * 1000000
  ) AS w
)
SELECT 'inner' AS face, p_id, v_id, user_id FROM matches
UNION ALL
SELECT 'outer' AS face, p_id, v_id, user_id FROM matches
UNION ALL
SELECT 'outer' AS face, p.p_id, NULL AS v_id, CAST(p.user_id AS BIGINT) AS user_id
FROM p, wm
WHERE NOT EXISTS (
  SELECT 1 FROM v
  WHERE v.v_user = p.user_id
    AND v.v_ts >= p.p_ts AND v.v_ts <= p.p_ts + INTERVAL 1 HOUR
)
  -- STRICT boundary, pinned empirically: window end == watermark holds back
  AND p.p_ts + INTERVAL 1 HOUR < wm.w
"""


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time correctness certified against DuckDB's NATIVE
    ASOF JOIN: for every 'view' event, the same user's latest
    'purchase' at-or-before it (backward inclusive; equal-ts purchase
    ties broken by greatest event_id — resolved INSIDE the engine's
    carry ordering, while the oracle pre-dedupes to the same winner so
    the native replay is unambiguous). ~7% of views have no preceding
    purchase at every SF, so matched AND unmatched rows are both
    certified non-vacuously (gated)."""
    from schema_drift_detector_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select("event_id", "user_id", "ts")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    out = asof_join(
        views,
        purchases,
        key="user_id",
        right_cols=["event_id", "value"],
        right_tiebreak="event_id",
    ).select(
        "event_id",
        "user_id",
        F.col("asof_event_id").alias("purchase_id"),
        F.round("asof_value", 6).alias("purchase_value"),
        F.col("ts").cast("timestamp").cast("long").alias("view_epoch"),
        F.col("asof_ts").cast("timestamp").cast("long").alias("purchase_epoch"),
    ).localCheckpoint(eager=True)
    matched = out.filter(F.col("purchase_id").isNotNull()).limit(1).count()
    unmatched = out.filter(F.col("purchase_id").isNull()).limit(1).count()
    if not (matched and unmatched):
        raise RuntimeError("vacuous as-of certification: single-valued match outcome")
    return out


ORACLE_ASOF_JOIN = """
WITH views AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'
), purchases AS (
  -- mirror the engine's tie rule (greatest event_id wins at equal
  -- (user, ts)) as a pre-dedup, making the native ASOF unambiguous;
  -- the engine itself resolves the tie inside its carry ordering
  SELECT user_id, ts, event_id, value FROM events
  WHERE event_type = 'purchase'
  QUALIFY row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) = 1
)
SELECT v.event_id, v.user_id,
       p.event_id AS purchase_id,
       round(p.value, 6) AS purchase_value,
       CAST(floor(epoch(v.ts)) AS BIGINT) AS view_epoch,
       CAST(floor(epoch(p.ts)) AS BIGINT) AS purchase_epoch
FROM views v ASOF LEFT JOIN purchases p
  ON v.user_id = p.user_id AND v.ts >= p.ts
"""


# --------------------------------------------------------------------------
# PII scrub (round 6 — LLM-pipeline hygiene, functions/pii.py)
# --------------------------------------------------------------------------


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction certified end-to-end: per-kind match
    counts over the raw text and the md5 of the fully-redacted text
    (so every replacement boundary is hash-checked). The fixtures
    carry no PII, so the entry plants each kind deterministically —
    e-mail (%11), SSN (%19), bare IPv4 (%13), E.164 phone (%17),
    doc-id-parameterized so matches can't degenerate to one literal —
    and a per-kind non-vacuity gate fails loud if any pattern never
    fires. All codegen regexp expressions, zero shuffle."""
    from schema_drift_detector_spark.functions.pii import pii_counts, pii_redact

    docs = _t_fan(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 11 == 0,
                F.concat(
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.org now"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 19 == 0,
                F.concat(
                    F.lit(" ssn 523-11-"),
                    (F.col("doc_id") % 9000 + 1000).cast("string"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 13 == 0,
                F.concat(
                    F.lit(" host 10."),
                    (F.col("doc_id") % 200).cast("string"),
                    F.lit(".3.77 up"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 17 == 0,
                F.concat(
                    F.lit(" call +49151234"),
                    (F.col("doc_id") % 90 + 10).cast("string"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    cnt = pii_counts("text")
    out = docs.select(
        "doc_id",
        cnt["n_email"].alias("n_email"),
        cnt["n_ssn"].alias("n_ssn"),
        cnt["n_ipv4"].alias("n_ipv4"),
        cnt["n_phone"].alias("n_phone"),
        F.md5(pii_redact("text")).alias("redacted_fp"),
    ).localCheckpoint(eager=True)
    gates = out.agg(
        *[F.sum(c).alias(c) for c in ("n_email", "n_ssn", "n_ipv4", "n_phone")]
    ).first()
    dead = [k for k in ("n_email", "n_ssn", "n_ipv4", "n_phone") if not gates[k]]
    if dead:
        raise RuntimeError(f"vacuous PII certification: no match for {dead}")
    return out


def _oracle_pii_scrub() -> str:
    from schema_drift_detector_spark.functions.pii import (
        pii_counts_sql,
        pii_redact_sql,
    )

    counts = ",\n       ".join(pii_counts_sql("text"))
    return f"""
WITH docs AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 11 = 0
                 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.org now'
                 ELSE '' END
         || CASE WHEN doc_id % 19 = 0
                 THEN ' ssn 523-11-' || CAST(doc_id % 9000 + 1000 AS VARCHAR)
                 ELSE '' END
         || CASE WHEN doc_id % 13 = 0
                 THEN ' host 10.' || CAST(doc_id % 200 AS VARCHAR) || '.3.77 up'
                 ELSE '' END
         || CASE WHEN doc_id % 17 = 0
                 THEN ' call +49151234' || CAST(doc_id % 90 + 10 AS VARCHAR)
                 ELSE '' END
         AS text
  FROM documents
)
SELECT doc_id,
       {counts},
       md5({pii_redact_sql('text')}) AS redacted_fp
FROM docs
"""


ORACLE_PII_SCRUB = _oracle_pii_scrub()


# --------------------------------------------------------------------------
# Contract surface
# --------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the reference's core operator (schema diff + drift
    report) end-to-end on sf0.001."""
    return q_drift_report(spark, SF_SMOKE)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "schema_diff": q_schema_diff,
        "drift_report": q_drift_report,
        "range_join_sessions": q_range_join_sessions,
        "order_chain": q_order_chain_merged,
        "customers_without_open_orders": q_customers_without_open_orders,
        "nations_order_stats": q_nations_order_stats,
        "pricing_summary": q_pricing_summary_merged,
        "nation_rollup": q_nation_rollup,
        "sessionize_events": q_sessionize_events,
        "profile_events": q_profile_events,
        "zorder_layout": q_zorder_layout,
        "stratified_split": q_stratified_split,
        "source_quota": q_source_quota,
        "histogram_drift": q_histogram_drift_merged,
        "stream_stream_join": q_stream_stream_join,
        "exact_dedup_props": _q_exact_dedup_entry,
        "jaccard_pairs": q_jaccard_pairs_merged,
        "token_stats_by_lang": q_token_stats_by_lang,
        "text_doc_features": q_text_doc_features,
        "corpus_prep": q_corpus_prep_merged,
        "ann_topk_methods": q_ann_topk_methods,
        "asof_join": q_asof_join,
        "kmeans_centroids": q_kmeans_centroids,
        "chunk_documents": q_chunk_documents,
        "stream_dedup_watermark": q_stream_dedup_watermark,
        "salted_join": q_salted_join,
        "bm25_topk": q_bm25_topk,
        "decontaminate": q_decontaminate,
        "incremental_dedup": q_incremental_dedup,
        "incremental_neardup": q_incremental_neardup,
        "stream_ingest_dedup": q_stream_ingest_dedup,
        "pack_sequences": q_pack_sequences,
        "semantic_near_dups_ivf": q_semantic_near_dups_ivf,
        "substring_dedup": q_substring_dedup,
        "stream_window_counts": q_stream_window_counts,
        "embedding_near_dups": q_embedding_near_dups,
        "minhash_lsh_pairs": q_minhash_lsh_pairs,
        "dedup_clusters": q_dedup_clusters,
        "corpus_neardup_drop": q_corpus_neardup_drop,
        "simhash_pairs": q_simhash_pairs,
        "winnowing": q_winnowing,
        "span_validation": q_span_validation_merged,
        "stream_span_validation": q_stream_span_validation,
        "stream_running_profiles": q_stream_running_profiles,
        "quantile_drift": q_quantile_drift,
        "media_features": q_media_features,
        "pii_scrub": q_pii_scrub,
        "hll_rollup": q_hll_rollup,
        "span_kind_histogram": q_span_kind_histogram,
        "corpus_pipeline_e2e": q_corpus_pipeline_e2e,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "schema_diff": ORACLE_SCHEMA_DIFF,
        "drift_report": ORACLE_DRIFT_REPORT,
        "range_join_sessions": ORACLE_RANGE_JOIN_SESSIONS,
        "order_chain": _oracle_order_chain_merged(),
        "customers_without_open_orders": ORACLE_CUST_NO_OPEN,
        "nations_order_stats": ORACLE_NATION_STATS,
        "pricing_summary": _oracle_pricing_summary_merged(),
        "nation_rollup": ORACLE_NATION_ROLLUP,
        "sessionize_events": _oracle_sessionize_merged(),
        "profile_events": ORACLE_PROFILE_EVENTS,
        "zorder_layout": _oracle_zorder_layout(),
        "stratified_split": _oracle_stratified_split(),
        "source_quota": _oracle_source_quota(),
        "histogram_drift": _oracle_histogram_drift_merged(),
        "stream_stream_join": ORACLE_STREAM_STREAM_JOIN,
        "exact_dedup_props": ORACLE_EXACT_DEDUP,
        "jaccard_pairs": ORACLE_JACCARD_MERGED,
        "token_stats_by_lang": ORACLE_TOKEN_STATS,
        "text_doc_features": _oracle_text_doc_features_merged(),
        "corpus_prep": _oracle_corpus_prep_merged(),
        "ann_topk_methods": _oracle_ann_topk_methods(),
        "asof_join": ORACLE_ASOF_JOIN,
        "kmeans_centroids": ORACLE_KMEANS_CENTROIDS,
        "chunk_documents": ORACLE_CHUNK_DOCUMENTS,
        "stream_dedup_watermark": _oracle_stream_dedup_watermark(),
        "salted_join": _oracle_salted_join_merged(),
        "bm25_topk": _oracle_bm25_topk(),
        "decontaminate": ORACLE_DECONTAMINATE,
        "incremental_dedup": ORACLE_INCREMENTAL_DEDUP,
        "incremental_neardup": _oracle_incremental_neardup(),
        "stream_ingest_dedup": ORACLE_STREAM_INGEST_DEDUP,
        "pack_sequences": ORACLE_PACK_SEQUENCES,
        "semantic_near_dups_ivf": ORACLE_SEMANTIC_NEAR_DUPS_IVF,
        "substring_dedup": ORACLE_SUBSTRING_DEDUP,
        "stream_window_counts": ORACLE_STREAM_WINDOW_COUNTS,
        "embedding_near_dups": _oracle_embedding_near_dups(),
        "span_validation": _oracle_span_validation_merged(),
        "stream_span_validation": ORACLE_SPAN_VALIDATION,
        "stream_running_profiles": ORACLE_STREAM_RUNNING_PROFILES,
        "span_kind_histogram": ORACLE_SPAN_KIND_HISTOGRAM,
        "minhash_lsh_pairs": _oracle_minhash_lsh(),
        "dedup_clusters": _oracle_dedup_clusters(),
        "corpus_neardup_drop": _oracle_corpus_neardup_drop(),
        "simhash_pairs": _oracle_simhash(),
        "quantile_drift": ORACLE_QUANTILE_DRIFT,
        "hll_rollup": ORACLE_HLL_ROLLUP,
        "winnowing": ORACLE_WINNOWING,
        "media_features": ORACLE_MEDIA_FEATURES,
        "pii_scrub": ORACLE_PII_SCRUB,
        "corpus_pipeline_e2e": _oracle_corpus_pipeline_e2e(),
    }
