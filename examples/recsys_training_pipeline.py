"""Recommender training-data pipeline composed from the round-7
analytics operators — the assembly pass that turns raw facts into a
leakage-free, reproducible training table.

Stages (each registry-backed and oracle-checked on its own):

  1. positives           distinct (customer, part) purchase pairs
                         from the orders-lineitem join
  2. negatives           deterministic hash-seeded negative parts per
                         positive (negative_sampling_pairs' kernel):
                         reproducible across runs AND engines, which
                         df.sample never gives
  3. features            strictly-prior customer history attached
                         point-in-time (features_point_in_time):
                         the label row never sees itself or its
                         future — the leakage guard
  4. popularity prior    co-purchase support (copurchase_pairs) as a
                         per-part popularity feature, broadcast back
  5. split               hash-mod train/validation split on customer
                         (split stays disjoint by entity, preventing
                         user-level leakage between splits)

Usage:
    python examples/recsys_training_pipeline.py [sf_dir] [out_dir]

Everything stays declarative: labels, negatives, and features are
keyed joins on (cust, part) ids, so Catalyst fuses the program and
only integer keys cross the shuffles.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from instructions_mr_spark import registry
from instructions_mr_spark.session import get_spark


def run(sf_dir: str, out_dir: str) -> dict[str, int]:
    registry.load_all()
    spark = get_spark("recsys_training_pipeline")
    from instructions_mr_spark.queries._util import t
    from instructions_mr_spark.functions import spark_hash

    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")

    # -- 1. positives: one row per observed (customer, part)
    pos = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("cust"), F.col("l_partkey").alias("part"))
        .distinct()
    )
    n_pos = pos.count()

    # -- 2. deterministic negatives (2 per positive, collision-filtered)
    mx = li.agg(F.max("l_partkey").alias("maxp"))
    h = spark_hash(
        "CAST(cust AS STRING) || ':' || CAST(part AS STRING) || ':' "
        "|| CAST(j AS STRING)",
        17,
    )
    neg = (
        pos.crossJoin(F.broadcast(mx))
        .select(
            "cust", "part", "maxp",
            F.explode(F.array(F.lit(0), F.lit(1))).alias("j"),
        )
        .selectExpr("cust", f"{h} % (maxp + 1) AS part")
        .join(pos, ["cust", "part"], "left_anti")
        .distinct()
    )
    n_neg = neg.count()

    labeled = pos.withColumn("label", F.lit(1)).unionByName(
        neg.withColumn("label", F.lit(0))
    )

    # -- 3. point-in-time features: strictly-prior order history per
    # customer (the leakage-free aggregate), taken at each customer's
    # LAST order so one feature row per customer
    feats = (
        registry.QUERIES["features_point_in_time"](spark, sf_dir)
        .join(o.select("o_orderkey", "o_custkey"), "o_orderkey")
        .groupBy(F.col("o_custkey").alias("cust"))
        .agg(
            F.max("prior_n_orders").alias("hist_n_orders"),
            F.max("prior_spend_cents").alias("hist_spend_cents"),
        )
    )

    # -- 4. popularity prior: co-purchase degree per part, broadcast
    cop = registry.QUERIES["copurchase_pairs"](spark, sf_dir)
    pop = (
        cop.select(F.col("part_a").alias("part"))
        .unionAll(cop.select(F.col("part_b").alias("part")))
        .groupBy("part")
        .agg(F.count(F.lit(1)).alias("copurchase_deg"))
    )

    rows = (
        labeled.join(feats, "cust", "left")
        .join(F.broadcast(pop), "part", "left")
        .select(
            "cust",
            "part",
            "label",
            F.coalesce("hist_n_orders", F.lit(0)).alias("hist_n_orders"),
            F.coalesce("hist_spend_cents", F.lit(0)).alias("hist_spend_cents"),
            F.coalesce("copurchase_deg", F.lit(0)).alias("copurchase_deg"),
        )
    )

    # -- 5. entity-disjoint split: hash-mod on customer, never random
    split = rows.withColumn(
        "split",
        F.when(
            F.expr(spark_hash("CAST(cust AS STRING)", 23)) % 10 < 8, "train"
        ).otherwise("valid"),
    )
    n_train = split.filter(F.col("split") == "train").count()
    n_valid = split.filter(F.col("split") == "valid").count()

    os.makedirs(out_dir, exist_ok=True)
    split.write.mode("overwrite").partitionBy("split").parquet(
        os.path.join(out_dir, "recsys_training")
    )
    return {
        "positives": n_pos,
        "negatives": n_neg,
        "rows": n_pos + n_neg,
        "train": n_train,
        "valid": n_valid,
    }


if __name__ == "__main__":
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/imr_recsys_out"
    print(run(sf, out))
