"""Dump the optimized plans of every operator that builds an IVF residual
or a centroid-distance fold, plus every operator whose input widening
(``util.fan_out``) the parallelism policy decides — the cosine rungs,
``corpus_curation_signals``, the media producers and
``bigram_logprob_score`` — normalized so two checkouts compare with
plain ``diff``: expression ids and lambda-variable names are erased.

The fixtures are single-file parquet tables (one input split, the shape
every test fixture has), so each widening shows as a ``Repartition``.
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
import shutil
import sys
import tempfile
from pathlib import Path

out = sys.argv[1]
repo = Path(sys.argv[2] if len(sys.argv) > 2 else Path(__file__).resolve().parent.parent)
sys.path.insert(0, str(repo.resolve()))
os.chdir(repo)
os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
os.environ.setdefault("SPARK_DRIVER_MEMORY", "1g")

import numpy as np  # noqa: E402
from pyspark.sql import DataFrame  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from etl_fuel_priceguide_ec2_spark.operators import (  # noqa: E402
    clustering,
    curation,
    multimodal,
    similarity,
    textops,
)
from etl_fuel_priceguide_ec2_spark.registry import curation as reg_curation  # noqa: E402
from etl_fuel_priceguide_ec2_spark.session import get_session  # noqa: E402

spark = get_session("residual-plans", extra_conf={"spark.ui.enabled": "false"})
rng = np.random.default_rng(7)
centers = rng.normal(size=(4, 8)) * 3
rows = [
    (i, [float(x) for x in centers[i % 4] + rng.normal(size=8) * 0.3])
    for i in range(200)
]
work = tempfile.mkdtemp(prefix="residual_plans_")


def _one_file(data, schema, name):
    path = os.path.join(work, name)
    spark.createDataFrame(data, schema).coalesce(1).write.parquet(path)
    return spark.read.parquet(path)


df = _one_file(
    [(i, v, i % 4) for i, v in rows], "id bigint, vec array<double>, cell int", "vec"
).select("id", "vec")
q = df.filter("id < 5")
words = "the a price fuel station report daily market oil diesel".split()
docs = _one_file(
    [
        (i, " ".join(words[(i * 7 + j * 3) % len(words)] for j in range(5 + i % 9)))
        for i in range(60)
    ],
    "doc_id bigint, text string",
    "docs",
)
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
cells = spark.read.parquet(os.path.join(work, "vec"))
zkeys = df.select("id", (F.col("id") * 7919 % (1 << 40)).alias("z"))
for name, build in [
    ("cosine_topk", lambda: similarity.cosine_topk(df, q, "id", "vec", k=3)),
    (
        "cosine_topk_ivf",
        lambda: similarity.cosine_topk_ivf(
            cells, cells.filter("id < 5"), "id", "vec", "cell", k=3
        ),
    ),
    (
        "cosine_topk_rplsh",
        lambda: similarity.cosine_topk_rplsh(df, q, "id", "vec", k=3, dim=8),
    ),
    ("cosine_topk_int8", lambda: similarity.cosine_topk_int8(df, q, "id", "vec", k=3)),
    (
        "cosine_topk_ivf_sq8_rerank",
        lambda: similarity.cosine_topk_ivf_sq8_rerank(
            df, q, "id", "vec", k=3, rerank_m=6, centroids=cents
        ),
    ),
    (
        "cosine_topk_zorder",
        lambda: similarity.cosine_topk_zorder(df, q, "id", "vec", zkeys, k=3),
    ),
    (
        "bigram_logprob_score",
        lambda: textops.bigram_logprob_score(docs, "doc_id", "text"),
    ),
    (
        "to_audio_media",
        lambda: multimodal.to_audio_media(docs, "doc_id", n_samples=16),
    ),
    (
        "to_audio_media_classed",
        lambda: multimodal.to_audio_media_classed(docs, "doc_id", n_samples=16),
    ),
    ("to_image_media", lambda: multimodal.to_image_media(docs, "doc_id")),
    ("to_image_media_blocks", lambda: multimodal.to_image_media_blocks(docs, "doc_id")),
    ("to_video_media", lambda: multimodal.to_video_media(docs, "doc_id", n_frames=2)),
]:
    section(name, build)
qlex = spark.createDataFrame(
    reg_curation._QC_LEXICON, "term string, weight string"
).selectExpr("term", "CAST(weight AS DECIMAL(12,6)) AS weight")
dlex = spark.createDataFrame(
    [(c, t, str(w)) for c, t, w in reg_curation._DOMAIN_LEXICON],
    "class string, term string, weight string",
).selectExpr("class", "term", "CAST(weight AS DECIMAL(12,6)) AS weight")
signals = section(
    "corpus_curation_signals(materialize=False)",
    lambda: curation.corpus_curation_signals(
        docs,
        "doc_id",
        "text",
        textops.quality_classifier_weights(qlex, n_buckets=64),
        textops.domain_classifier_weights(dlex, n_buckets=64),
        n_buckets=64,
        materialize=False,
    ),
)
for name in sorted(signals):
    records.append(("signal " + name, _plan(signals[name])))
with open(out, "w") as f:
    for kind, text in records:
        f.write(f"== {kind}\n{text}\n")
shutil.rmtree(work)
print(f"{len(records)} plan records -> {out}")
