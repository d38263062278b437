"""Round-17 interleaved A/B: semantic_dedup_pairs_two_level coarse
distance sharing (VERDICT r16 item 6) — the coarse distance fold as an
explicit _d1 column consumed by both the residual's primary-cell
lookup and the level-1 probe ranking (CollapseProject keeps a
twice-referenced expensive alias, so the O(k1*d) fold runs once per
row) — vs the r16 form that inlined it into both consumers.

Variant history (min-of-5, same session, order-rotated, identical 521
pairs): old 3.11 s; d1_col (KEPT) 2.60 s; d1_col + level-2 probe array
computed below the level-1 Generate (REJECTED) 9.70 s — the
un-inlined array columns ride into both self-join branches and defeat
column pruning, the exact failure mode the operator's barrier note
warns about. Bit-identity asserted on sorted rows before timing.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from etl_fuel_priceguide_ec2_spark.operators import clustering
from etl_fuel_priceguide_ec2_spark.operators.clustering import (
    fit_two_level_codebooks,
    sq_dists_expr,
)
from etl_fuel_priceguide_ec2_spark.operators.util import mat_lit
from etl_fuel_priceguide_ec2_spark.session import get_session
from etl_fuel_priceguide_ec2_spark.sources.catalog import load_table

K, K2, ITERS, THRESH, PROBES, FIT_FRACTION = 8, 8, 2, 1.2, 2, 0.4


def _old_form(df, id_col, vec_col, codebooks, threshold=THRESH, probes=PROBES):
    """The r16 form, verbatim: resid + chained explodes, distances
    recomputed per consumer / per exploded row."""
    base = df.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v"))
    c1, c2 = codebooks
    k1 = len(c1)
    cent1 = mat_lit(c1)
    d1 = sq_dists_expr("_v", c1)
    primary = (F.array_position(d1, F.array_min(d1)) - 1).cast("int")
    resid = F.zip_with(
        "_v", F.element_at(cent1, primary + F.lit(1)), lambda x, c: x - c
    )
    k2 = len(c2)

    def _probe_blocks(vec_text, cents, k):
        d = sq_dists_expr(vec_text, cents)
        ranked = F.array_sort(
            F.zip_with(
                d,
                F.sequence(F.lit(0), F.lit(k - 1)),
                lambda dd, i: F.struct(dd.alias("d"), i.alias("cid")),
            )
        )
        return F.transform(F.slice(ranked, 1, probes), lambda s: s["cid"].cast("long"))

    probed = (
        base.withColumn("_resid", resid)
        .withColumn("_b1", F.explode(_probe_blocks("_v", c1, k1)))
        .withColumn("_b2", F.explode(_probe_blocks("_resid", c2, k2)))
        .withColumn("block", F.col("_b1") * k2 + F.col("_b2"))
    )
    left = probed.select(F.col(id_col).alias("id_a"), "block", F.col("_v").alias("va"))
    right = probed.select(F.col(id_col).alias("id_b"), "block")
    cand = (
        left.join(right, "block")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "va")
        .dropDuplicates(["id_a", "id_b"])
    )
    vecs_b = base.select(F.col(id_col).alias("id_b"), F.col("_v").alias("vb"))
    return (
        cand.join(vecs_b, "id_b")
        .withColumn(
            "sq_dist",
            F.aggregate(
                F.zip_with("va", "vb", lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, d: acc + d,
            ),
        )
        .filter(F.col("sq_dist") <= threshold)
        .select("id_a", "id_b", F.round("sq_dist", 6).alias("sq_dist"))
    )


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_session("ab_r17_twolevel")
    spark.sparkContext.setLogLevel("ERROR")
    emb = load_table(spark, sf_dir, "embeddings")
    books = fit_two_level_codebooks(
        emb, "vec_id", "embedding", k1=K, k2=K2, iters=ITERS,
        fit_fraction=FIT_FRACTION,
    )

    builders = {
        "old": lambda s, d: _old_form(emb, "vec_id", "embedding", books),
        "new": lambda s, d: clustering.semantic_dedup_pairs_two_level(
            emb, "vec_id", "embedding", k1=K, k2=K2, iters=ITERS,
            threshold=THRESH, probes=PROBES, codebooks=books,
        ),
    }
    ref = sorted(map(tuple, builders["old"](spark, sf_dir).collect()))
    got = sorted(map(tuple, builders["new"](spark, sf_dir).collect()))
    assert ref == got and ref, "outputs differ"
    print(f"bit-identity OK over {len(ref)} pairs")

    reps = 5
    times = {n: [] for n in builders}
    order = list(builders)
    for r in range(reps):
        for name in order if r % 2 == 0 else order[::-1]:
            t0 = time.perf_counter()
            builders[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            times[name].append(time.perf_counter() - t0)
    for name, ts in times.items():
        print(f"{name:4s} min {min(ts):6.3f}  reps {[round(t, 2) for t in ts]}")
    spark.stop()


if __name__ == "__main__":
    main()
