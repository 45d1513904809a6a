"""Synthesize a scaled lineitem table for scale-holding evidence (guide §1,
VERDICT r5 item 6 spirit): the driver's testdata is read-only and tops out
at sf0.1 (600k lineitem rows), so this writes an sf1-shaped directory with
a 10x lineitem (same columns/distributions the queries touch: pid lanes
from l_orderkey*8+l_linenumber with l_linenumber in 1..7, shipdate/flags/
quantity/price/discount for the TPC-H rollup) and symlinks the sf0.1
documents/embeddings/events tables (the text/embedding queries are
corpus-scale, not point-scale). NOT driver data — for 10x-row runs of
the bench suite:

    python scripts/make_scaled_sf.py [--rows 6000000] [--out /tmp/sf1]
    SPARK_GRAFT_SF_DIR=/tmp/sf1 python bench.py

The session takes its defaults: SPARK_GRAFT_CPUS or the host's core count.
"""

from __future__ import annotations

import argparse
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=6_000_000)
    ap.add_argument("--out", default="/tmp/sf1")
    ap.add_argument("--src", default="/root/testdata/sf0.1")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from codem_spark.session import get_spark

    spark = get_spark(app_name="make_scaled_sf")
    os.makedirs(args.out, exist_ok=True)
    n = args.rows
    li = (
        spark.range(0, n)
        .select(
            (F.col("id") / 7 + 1).cast("long").alias("l_orderkey"),
            (F.pmod(F.col("id"), F.lit(7)) + 1).cast("int").alias("l_linenumber"),
            F.date_add(
                F.lit("1992-01-01").cast("date"),
                F.pmod(F.xxhash64("id"), F.lit(2500)).cast("int"),
            ).alias("l_shipdate"),
            F.element_at(
                F.array(F.lit("A"), F.lit("N"), F.lit("R")),
                (F.pmod(F.xxhash64("id", F.lit(1)), F.lit(3)) + 1).cast("int"),
            ).alias("l_returnflag"),
            F.element_at(
                F.array(F.lit("F"), F.lit("O")),
                (F.pmod(F.xxhash64("id", F.lit(2)), F.lit(2)) + 1).cast("int"),
            ).alias("l_linestatus"),
            (F.pmod(F.xxhash64("id", F.lit(3)), F.lit(50)) + 1).cast("double").alias("l_quantity"),
            (F.pmod(F.xxhash64("id", F.lit(4)), F.lit(90000)) / 100.0 + 1000.0).alias("l_extendedprice"),
            (F.pmod(F.xxhash64("id", F.lit(5)), F.lit(11)) / 100.0).alias("l_discount"),
        )
    )
    li.write.mode("overwrite").parquet(f"{args.out}/lineitem.parquet")
    for t in ("documents", "embeddings", "events", "region", "nation",
              "customer", "supplier", "part", "orders"):
        dst = f"{args.out}/{t}.parquet"
        src = f"{args.src}/{t}.parquet"
        if not os.path.exists(dst) and os.path.exists(src):
            os.symlink(src, dst)
    print(f"wrote {args.out}/lineitem.parquet with {n} rows")
    spark.stop()


if __name__ == "__main__":
    main()
