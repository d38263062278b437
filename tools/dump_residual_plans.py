"""Dump the optimized plans of every operator that builds an IVF residual
or a centroid-distance fold, normalized so two checkouts compare with
plain ``diff``: expression ids and lambda-variable names are erased.

Each operator's internal fit actions (``collect``) are recorded too,
so a fit whose plan changed shows up even though it returns lists.

Run (from the repo root; pass another checkout to compare trees):

    python tools/dump_residual_plans.py /tmp/plans_new.txt
    python tools/dump_residual_plans.py /tmp/plans_old.txt /path/to/old/checkout
    diff /tmp/plans_old.txt /tmp/plans_new.txt
"""

from __future__ import annotations

import os
import re
import sys
from pathlib import Path

out = sys.argv[1]
repo = Path(sys.argv[2] if len(sys.argv) > 2 else Path(__file__).resolve().parent.parent)
sys.path.insert(0, str(repo.resolve()))
os.chdir(repo)
os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
os.environ.setdefault("SPARK_DRIVER_MEMORY", "1g")

import numpy as np  # noqa: E402
from pyspark.sql import DataFrame  # noqa: E402

from etl_fuel_priceguide_ec2_spark.operators import clustering, similarity  # noqa: E402
from etl_fuel_priceguide_ec2_spark.session import get_session  # noqa: E402

spark = get_session("residual-plans", extra_conf={"spark.ui.enabled": "false"})
rng = np.random.default_rng(7)
centers = rng.normal(size=(4, 8)) * 3
rows = [
    (i, [float(x) for x in centers[i % 4] + rng.normal(size=8) * 0.3])
    for i in range(200)
]
df = spark.createDataFrame(rows, "id bigint, vec array<double>")
q = df.filter("id < 5")
records: list[tuple[str, str]] = []


def _plan(d: DataFrame) -> str:
    s = d._jdf.queryExecution().optimizedPlan().toString()
    s = re.sub(r"lambda [A-Za-z_][A-Za-z_0-9]*#\d+L?", "lambda L", s)
    return re.sub(r"#\d+L?", "#", s)


DF = type(df)
_collect = DF.collect


def _recording_collect(self):
    records.append(("collect", _plan(self)))
    return _collect(self)


DF.collect = _recording_collect


def section(name, fn):
    records.append(("BEGIN", name))
    res = fn()
    if isinstance(res, DataFrame):
        records.append(("result", _plan(res)))
        res.collect()
    return res


cents = clustering.fit_centroids(df, "id", "vec", k=4, iters=1)
books = section(
    "fit_pq_codebooks(residuals_of)",
    lambda: clustering.fit_pq_codebooks(
        df, "id", "vec", m=4, ks=4, iters=1, residuals_of=cents
    ),
)
cb = section(
    "fit_two_level_codebooks",
    lambda: clustering.fit_two_level_codebooks(df, "id", "vec", k1=3, k2=3, iters=1),
)
section(
    "cosine_topk_ivf2_sq8",
    lambda: similarity.cosine_topk_ivf2_sq8(df, q, "id", "vec", k=3, codebooks=cb),
)
section(
    "semantic_dedup_pairs_two_level",
    lambda: clustering.semantic_dedup_pairs_two_level(
        df, "id", "vec", threshold=1.0, codebooks=cb
    ),
)
section(
    "pq_encode(residual)",
    lambda: similarity.pq_encode(df, "id", "vec", cents, books, residual=True),
)
section(
    "topk_ivf_pq(residual)",
    lambda: similarity.topk_ivf_pq(
        df, q, "id", "vec", k=3, m=4, ks=4, rerank_m=10,
        centroids=cents, pq_codebooks=books, residual=True,
    ),
)
section(
    "pq_reconstruction_report(residual)",
    lambda: similarity.pq_reconstruction_report(
        df, df.filter("id > 50"), "id", "vec", cents, books, residual=True
    ),
)
section(
    "semantic_dedup_pairs",
    lambda: clustering.semantic_dedup_pairs(df, "id", "vec", k=4, centroids=cents),
)
section(
    "cosine_topk_ivf_sq8",
    lambda: similarity.cosine_topk_ivf_sq8(df, q, "id", "vec", k=3, cells=4),
)
with open(out, "w") as f:
    for kind, text in records:
        f.write(f"== {kind}\n{text}\n")
print(f"{len(records)} plan records -> {out}")
