#!/usr/bin/env python3
"""Skew-join A/B: plain shuffle join vs salted_join vs AQE skew-split on a
Zipf-hot key, measured at bench scale (VERDICT r03 #9 — salted_join was
equivalence-tested but never measured).

Workload: BIG (pages-shaped, one scorching key — 'London' owns ``hot_frac``
of all rows) equi-joined to SMALL (too big to broadcast by policy:
autoBroadcastJoinThreshold=-1 forces the shuffle path, which is the regime
salting exists for).  Variants:

  plain   — shuffle hash/sort-merge join, AQE skew split OFF: one reducer
            owns the hot key (the straggler baseline)
  salted  — operators.skew.salted_join, AQE skew split OFF: the hot key is
            spread over K salt buckets at plan time
  aqe     — plain join with AQE skewJoin ON: runtime split of oversized
            shuffle partitions (Spark's built-in backstop)

Prints one JSON line; min-of-N interleaved reps.  Findings land in
BENCH.md with the cutover guidance.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from geonames_rdf_spark.operators import skew  # noqa: E402
from geonames_rdf_spark.session import cpus, get_spark  # noqa: E402

N_BIG = int(os.environ.get("SKEW_ROWS", "16000000"))
N_KEYS = 10_000
HOT_FRAC = 0.5
REPS = int(os.environ.get("SKEW_REPS", "3"))


def main() -> None:
    import shutil
    import tempfile

    spark = get_spark(app_name="skew_ab")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

    # Zipf head: HOT_FRAC of rows share one key; tail uniform over N_KEYS.
    # A payload column gives the shuffle real bytes to move.  Inputs are
    # MATERIALIZED to parquet outside the measured region — generating
    # them inline (range + sha2) is embarrassingly parallel work that
    # dominated the wall time and hid the straggler in a first cut of
    # this harness.
    tmp = tempfile.mkdtemp(prefix="skew_ab_")
    (spark.range(N_BIG)
     .withColumn(
         "key",
         F.when(F.pmod(F.xxhash64("id", F.lit(1)), F.lit(1000))
                < int(HOT_FRAC * 1000), F.lit("London"))
         .otherwise(F.concat(F.lit("k"),
                             F.pmod(F.xxhash64("id", F.lit(2)),
                                    F.lit(N_KEYS)).cast("string"))))
     .withColumn("payload", F.sha2(F.col("id").cast("string"), 256))
     .write.parquet(f"{tmp}/big"))
    (spark.range(N_KEYS + 1)
     .withColumn("key", F.when(F.col("id") == N_KEYS, F.lit("London"))
                 .otherwise(F.concat(F.lit("k"), F.col("id").cast("string"))))
     .withColumn("dim_val", F.sha2(F.col("key"), 256))
     .drop("id")
     .write.parquet(f"{tmp}/small"))
    big = spark.read.parquet(f"{tmp}/big")
    small = spark.read.parquet(f"{tmp}/small")

    def agg(j):
        # max over payload||dim_val keeps BOTH sides' bytes flowing
        # through the join (column pruning would otherwise strip the
        # payload and reduce the straggler to a row counter)
        return j.agg(
            F.count(F.lit(1)).alias("n"),
            F.max(F.concat_ws("|", "payload", "dim_val")).alias("mx"),
        ).collect()[0]["n"]

    def plain():
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        return agg(big.join(small, "key"))

    def salted():
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        return agg(skew.salted_join(big, small, "key", salt_buckets=32))

    def aqe():
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        return agg(big.join(small, "key"))

    variants = [("plain", plain), ("salted", salted), ("aqe_skew", aqe)]
    timings: dict[str, float] = {}
    counts: dict[str, int] = {}
    for _ in range(REPS):
        for name, fn in variants:
            t0 = time.time()
            counts[name] = fn()
            dt = time.time() - t0
            if name not in timings or dt < timings[name]:
                timings[name] = dt
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    shutil.rmtree(tmp, ignore_errors=True)
    assert len(set(counts.values())) == 1, counts  # all variants agree
    print(json.dumps({
        "rows": N_BIG, "hot_frac": HOT_FRAC, "n_keys": N_KEYS,
        "reps": REPS, "joined_rows": counts["plain"],
        "seconds": {k: round(v, 2) for k, v in timings.items()},
        "speedup_vs_plain": {
            k: round(timings["plain"] / v, 2) for k, v in timings.items()},
        "cpus": cpus(),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
