"""Extra benchmarks (guide §1.4): isolated per-query noop-sink timing.

NOT the driver contract — bench.py is the frozen measurement surface.
This harness exists for optimization work: it times individual
q_<name> / q_<name>__<face> helpers (warm-up + best-of-N noop writes)
in one JVM, with the same session configuration bench.py uses, so
before/after numbers for a single operator can be read without paying
a full bench run or inheriting its fixed ordering.

Usage:
  python bench_extra.py q_text_doc_features__features q_jaccard_pairs_sample
  SPARK_GRAFT_SF_DIR=/root/testdata/sf1.0 python bench_extra.py q_pii_scrub
  python bench_extra.py --reps 5 q_lm_perplexity

Prints one line per helper: name, best, median, all samples.
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

try:
    os.sched_setaffinity(0, set(range(CPUS)))
except (AttributeError, OSError):
    pass


def main() -> None:
    args = [a for a in sys.argv[1:]]
    reps = 3
    if "--reps" in args:
        i = args.index("--reps")
        reps = int(args[i + 1])
        del args[i : i + 2]
    if not args:
        print(__doc__)
        return

    from schema_drift_detector_spark.session import get_spark

    spark = get_spark(
        "bench-extra",
        master=f"local[{CPUS}]",
        shuffle_partitions=max(CPUS, 32),
        extra_conf={
            "spark.sql.files.maxPartitionBytes": str(8 * 1024 * 1024),
            "spark.sql.files.openCostInBytes": str(1024 * 1024),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as E

    def force(df):
        df.write.format("noop").mode("overwrite").save()

    for name in args:
        fn = getattr(E, name, None)
        if fn is None:
            print(f"{name:40s} NOT FOUND")
            continue
        spark.sparkContext.setJobDescription(f"bench_extra: {name}")
        try:
            force(fn(spark, SF_DIR))  # warm-up (codegen, page cache)
            samples = []
            for _ in range(reps):
                t0 = time.time()
                force(fn(spark, SF_DIR))
                samples.append(round(time.time() - t0, 3))
            print(
                f"{name:40s} best={min(samples):7.3f} "
                f"med={statistics.median(samples):7.3f} {samples}"
            )
        except Exception as ex:  # keep the sweep going
            print(f"{name:40s} ERROR {str(ex)[:120]}")
        finally:
            spark.sparkContext.setJobDescription(None)
    spark.stop()


if __name__ == "__main__":
    main()
