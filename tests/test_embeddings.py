"""Numpy property tests for the embedding second-moment tier — the
coverage VERDICT r09 flagged as the only operator module with none.

The operators quantize cross-row sum terms (9dp products, DECIMAL
accumulation) for cross-engine bit-exactness, so against exact numpy
the tolerance is the quantization error (~1e-6 scale), not epsilon.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from etl_fuel_priceguide_ec2_spark.operators import embeddings

DIM = 6
N = 48


@pytest.fixture(scope="module")
def xmat():
    """Deterministic corpus with TWO planted directions of separated
    strength (large eigengaps lam1 >> lam2 >> lam3, so 8 power
    iterations converge far past the comparison tolerance for both the
    dominant component and the deflated second one — isotropic noise
    alone would leave numpy's v2 arbitrary within the noise
    subspace)."""
    rng = np.random.default_rng(7)
    d1 = rng.normal(size=DIM)
    d1 /= np.linalg.norm(d1)
    d2 = rng.normal(size=DIM)
    d2 -= d1 * np.dot(d1, d2)
    d2 /= np.linalg.norm(d2)
    s1 = rng.normal(size=(N, 1)) * 5.0
    s2 = rng.normal(size=(N, 1)) * 2.0
    noise = rng.normal(size=(N, DIM)) * 0.1
    return s1 * d1 + s2 * d2 + noise + rng.normal(size=DIM)


@pytest.fixture(scope="module")
def vecs_df(spark, xmat):
    rows = [(i, [float(v) for v in row]) for i, row in enumerate(xmat)]
    return spark.createDataFrame(rows, "vec_id: bigint, embedding: array<double>")


def test_covariance_matches_numpy(vecs_df, xmat):
    got = {
        (r.dim_i, r.dim_j): r.cov
        for r in embeddings.embedding_covariance(
            vecs_df, "vec_id", "embedding"
        ).collect()
    }
    assert len(got) == DIM * (DIM + 1) // 2  # upper triangle only
    expect = np.cov(xmat.T, bias=True)  # population covariance
    for (i, j), cov in got.items():
        assert i <= j
        assert cov == pytest.approx(expect[i - 1, j - 1], abs=5e-6)
    # diagonal = variances, non-negative
    assert all(got[(i, i)] >= 0 for i in range(1, DIM + 1))


def test_pca_scores_match_numpy_projection(vecs_df, xmat):
    got = {
        r.vec_id: r.pc1
        for r in embeddings.pca_top_component_scores(
            vecs_df, "vec_id", "embedding", iters=8
        ).collect()
    }
    assert len(got) == N
    cov = np.cov(xmat.T, bias=True)
    w, v = np.linalg.eigh(cov)
    top = v[:, -1]
    centered = xmat - xmat.mean(axis=0)
    proj = centered @ top
    scores = np.array([got[i] for i in range(N)])
    # eigenvector sign is arbitrary in numpy; the operator pins it via
    # the all-positive init — align on the better-correlated sign
    if np.dot(scores, proj) < 0:
        proj = -proj
    tol = 1e-3 * float(np.abs(proj).max())
    assert np.allclose(scores, proj, atol=tol)


def test_pca_scores_never_emit_negative_zero(vecs_df):
    """The round-9 driver red: repr(-0.0) != repr(0.0) under the
    driver's hash. Both emitted relations must canonicalize zeros."""
    for r in embeddings.pca_top_component_scores(
        vecs_df, "vec_id", "embedding", iters=2
    ).collect():
        if r.pc1 == 0.0:
            assert repr(r.pc1) == "0.0"


def test_covariance_never_emits_negative_zero(spark):
    """Orthogonal indicator vectors make every off-diagonal covariance
    a tiny negative (-mu_i*mu_j) that rounds to zero at 6dp — the exact
    -0.0 shape DuckDB's ROUND emitted in round 9."""
    n = 2000
    rows = [
        (i, [1e-6 if i % 2 == 0 else 0.0, 1e-6 if i % 2 == 1 else 0.0])
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "vec_id: bigint, embedding: array<double>")
    for r in embeddings.embedding_covariance(df, "vec_id", "embedding").collect():
        if r.cov == 0.0:
            assert repr(r.cov) == "0.0", f"({r.dim_i},{r.dim_j}) emitted -0.0"


def test_pca_empty_input_returns_typed_empty(spark):
    empty = spark.createDataFrame([], "vec_id: bigint, embedding: array<double>")
    out = embeddings.pca_top_component_scores(empty, "vec_id", "embedding")
    assert out.columns == ["vec_id", "pc1"]
    assert out.count() == 0


def test_pca_rejects_nonpositive_iters(vecs_df):
    with pytest.raises(ValueError):
        embeddings.pca_top_component_scores(vecs_df, "vec_id", "embedding", iters=0)


def test_covariance_plan_is_zero_join_aggregate(vecs_df):
    """Scale shape: the corpus-side plan is explode -> partial agg ->
    exchange of d(d+1)/2 rows per task — the only joins are against
    the broadcast d-row marginals, never corpus x corpus."""
    plan = embeddings.embedding_covariance(
        vecs_df, "vec_id", "embedding"
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_pca_top2_matches_numpy_and_single_form(vecs_df, xmat):
    """Deflation top-k: component 1 reproduces the single-component
    form to the 6dp output scale (the two forms use two rounding
    models — exact-value vs DuckDB-emulating — that can differ by one
    6dp ulp on exact boundaries); both scores match numpy's top-2
    eigenvector projections up to the pinned sign."""
    two = {
        r.vec_id: (r.pc1, r.pc2)
        for r in embeddings.pca_component_scores(
            vecs_df, "vec_id", "embedding", n_components=2, iters=8
        ).collect()
    }
    one = {
        r.vec_id: r.pc1
        for r in embeddings.pca_top_component_scores(
            vecs_df, "vec_id", "embedding", iters=8
        ).collect()
    }
    assert all(abs(two[i][0] - one[i]) <= 1.1e-6 for i in one)

    cov = np.cov(xmat.T, bias=True)
    w, v = np.linalg.eigh(cov)
    centered = xmat - xmat.mean(axis=0)
    for comp_idx, col in ((-1, 0), (-2, 1)):
        proj = centered @ v[:, comp_idx]
        scores = np.array([two[i][col] for i in range(N)])
        if np.dot(scores, proj) < 0:
            proj = -proj
        # the second eigengap is smaller, so allow the power-iteration
        # convergence residual a little more room
        tol = (1e-3 if col == 0 else 2e-2) * float(np.abs(proj).max())
        assert np.allclose(scores, proj, atol=tol), f"pc{col + 1}"


def test_pca_topk_validates_args(vecs_df):
    with pytest.raises(ValueError):
        embeddings.pca_component_scores(
            vecs_df, "vec_id", "embedding", n_components=0
        )
    with pytest.raises(ValueError):
        embeddings.pca_component_scores(
            vecs_df, "vec_id", "embedding", n_components=2, iters=0
        )


def test_pca_topk_empty_input_returns_typed_empty(spark):
    empty = spark.createDataFrame([], "vec_id: bigint, embedding: array<double>")
    out = embeddings.pca_component_scores(
        empty, "vec_id", "embedding", n_components=3
    )
    assert out.columns == ["vec_id", "pc1", "pc2", "pc3"]
    assert out.count() == 0


def test_zscore_outliers_match_numpy(vecs_df, xmat):
    got = {
        r.vec_id: (r.zdist2, r.n_dims_used)
        for r in embeddings.embedding_zscore_outliers(
            vecs_df, "vec_id", "embedding"
        ).collect()
    }
    assert len(got) == N
    mu = xmat.mean(axis=0)
    var = xmat.var(axis=0)  # population variance, matching the operator
    used = var > 0
    assert all(n == int(used.sum()) for _, n in got.values())
    expect = (((xmat - mu) ** 2)[:, used] / var[used]).sum(axis=1)
    for i in range(N):
        # the operator quantizes var at 6dp, so tolerance is relative
        assert got[i][0] == pytest.approx(expect[i], rel=1e-4, abs=1e-4)
    # mean z-distance over the corpus is ~d by construction
    zs = np.array([got[i][0] for i in range(N)])
    assert abs(zs.mean() - DIM) < 0.5


def test_zscore_outliers_zero_variance_dims_excluded(spark):
    rows = [(i, [float(i), 7.0]) for i in range(16)]
    df = spark.createDataFrame(rows, "vec_id: bigint, embedding: array<double>")
    out = {r.vec_id: r for r in embeddings.embedding_zscore_outliers(
        df, "vec_id", "embedding"
    ).collect()}
    assert all(r.n_dims_used == 1 for r in out.values())
    # constant dim contributes nothing; scores are finite and ordered
    # symmetrically around the mean of the varying dim
    assert out[0].zdist2 == out[15].zdist2
    assert out[7].zdist2 < out[0].zdist2


def test_outlier_gate_composes_with_capstone_decisions(spark, sf_dir):
    """The 'eighth signal' integration (VERDICT r09 item 8): the gated
    capstone differs from the frozen capstone ONLY on kept documents
    whose planted-outlier embedding crosses the threshold — every
    earlier reason wins unchanged, and every gated doc flips
    keep -> (drop, embedding_outlier)."""
    from etl_fuel_priceguide_ec2_spark.registry import curation as rc

    base = {
        r.doc_id: (r.decision, r.reason)
        for r in rc.q_corpus_curation_decision(spark, sf_dir).collect()
    }
    gated = {
        r.doc_id: (r.decision, r.reason)
        for r in rc.q_curation_decision_outlier_gated(spark, sf_dir).collect()
    }
    assert set(base) == set(gated)
    changed = {d for d in base if base[d] != gated[d]}
    assert changed, "the planted outliers must gate at least one kept doc"
    for d in changed:
        assert base[d][0] == "keep"  # only keeps can be gated
        assert gated[d] == ("drop", "embedding_outlier")
        assert d % 50 == 3  # exactly the planted-outlier ids
    # planted ids that an EARLIER signal already dropped stay unchanged
    for d in base:
        if d % 50 == 3 and base[d][0] != "keep":
            assert gated[d] == base[d]


def test_covariance_from_state_bit_identical_to_batch(vecs_df):
    """The moment-state lifecycle: per-slice second/first-moment states
    unioned and merged by groupBy-SUM reproduce the from-scratch
    covariance BIT-FOR-BIT (decimal sums are associative), so a daily
    embedding ingest never re-scans history vectors."""
    from pyspark.sql import functions as F

    batch = sorted(
        map(tuple, embeddings.embedding_covariance(
            vecs_df, "vec_id", "embedding"
        ).collect())
    )
    sij = si = None
    for k in range(4):
        s = vecs_df.filter(F.col("vec_id") % 4 == k)
        a = embeddings.embedding_second_moment_state(s, "vec_id", "embedding")
        b = embeddings.embedding_first_moment_state(s, "vec_id", "embedding")
        sij = a if sij is None else sij.unionByName(a)
        si = b if si is None else si.unionByName(b)
    merged = sorted(
        map(tuple, embeddings.embedding_covariance_from_state(sij, si).collect())
    )
    assert merged == batch


def _explode_second_moment(df, vec_col):
    """The pre-round-11 higher-order-function explode form of the
    second-moment aggregate, rebuilt inline as the reference semantics:
    Spark's ROUND(double, 9) (shortest-repr BigDecimal) cast to
    decimal(30,12), summed. The Arrow-batched partial aggregate that
    replaced it must stay BIT-IDENTICAL to this on every input class —
    including the magnitudes and .5-boundary products outside its
    vectorized fast path's proof envelope."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    d = F.size(v)
    pairs = F.flatten(
        F.transform(
            F.sequence(F.lit(1), d),
            lambda i: F.transform(
                F.sequence(i, d),
                lambda j: F.struct(
                    i.alias("i"),
                    j.alias("j"),
                    F.round(
                        F.element_at(v, i) * F.element_at(v, j), 9
                    ).alias("p"),
                ),
            ),
        )
    )
    return (
        df.select(F.explode(pairs).alias("e"))
        .select("e.i", "e.j", "e.p")
        .groupBy("i", "j")
        .agg(F.sum(F.col("p").cast("decimal(30,12)")).alias("s_ij"))
        .select(
            F.col("i").cast("long").alias("dim_i"),
            F.col("j").cast("long").alias("dim_j"),
            "s_ij",
        )
    )


def test_second_moment_arrow_partials_match_jvm_explode(spark):
    """Adversarial bit-identity pin for the round-11 vectorized
    second-moment partials: ragged lengths, mixed magnitudes spanning
    1e-6..1e7-scale products (forcing the exact slow path), values ON
    .5e-9 rounding boundaries, NaN and NULL elements, whole-NULL
    vectors, and an all-NULL dimension (NULL s_ij row) must all equal
    the JVM explode form exactly."""
    import random

    rnd = random.Random(11)
    rows = []
    for i in range(240):
        n = 1 + i % 5
        vec = [
            rnd.uniform(-10, 10) * (10 ** rnd.randint(-6, 3))
            for _ in range(n)
        ]
        if i % 9 == 0 and n >= 3:
            vec[1] = float("nan")
        if i % 13 == 0:
            vec[0] = None
        rows.append((i, None if i % 17 == 0 else vec))
    rows += [(1000 + i, [5e-10, 1.5e-9, -2.5e-9, 1.0000000005]) for i in range(40)]
    rows += [(2000 + i, [1.0 * i, None, 0.5 * i]) for i in range(20)]
    df = spark.createDataFrame(
        rows, "vec_id: bigint, embedding: array<double>"
    )
    want = sorted(
        map(tuple, _explode_second_moment(df, "embedding").collect())
    )
    got = sorted(
        map(
            tuple,
            embeddings.embedding_second_moment_state(
                df, "vec_id", "embedding"
            ).collect(),
        )
    )
    assert got == want


def test_second_moment_partials_partition_invariant(vecs_df):
    """The Arrow partial aggregate's per-task fold must be invisible:
    any partitioning of the same rows yields the identical decimal
    state (int-microunit partials are order- and boundary-free)."""
    outs = []
    for nparts in (1, 3, 13):
        outs.append(
            sorted(
                map(
                    tuple,
                    embeddings.embedding_second_moment_state(
                        vecs_df.repartition(nparts), "vec_id", "embedding"
                    ).collect(),
                )
            )
        )
    assert outs[0] == outs[1] == outs[2]


def test_pca_zorder_clusters_pc_space(vecs_df):
    """Layout property: consecutive vectors in Z-order are far closer
    in PCA space than random pairs — the row-group locality the layout
    exists to create."""
    from etl_fuel_priceguide_ec2_spark.operators import layout

    scores = embeddings.pca_component_scores(
        vecs_df, "vec_id", "embedding", n_components=2, iters=8
    )
    q = scores.select(
        "vec_id",
        F.round(F.col("pc1") * 1e6, 0).cast("long").alias("q1"),
        F.round(F.col("pc2") * 1e6, 0).cast("long").alias("q2"),
    )
    rows = (
        q.select("vec_id", "q1", "q2", layout.zorder_value(q, ["q1", "q2"], bits=20).alias("z"))
        .collect()
    )
    assert all(0 <= r.z < (1 << 40) for r in rows)
    by_z = sorted(rows, key=lambda r: r.z)

    def d2(a, b):
        return (a.q1 - b.q1) ** 2 + (a.q2 - b.q2) ** 2

    adjacent = [d2(a, b) for a, b in zip(by_z, by_z[1:])]
    # random-ish baseline: pair each row with the one N//2 later in id order
    by_id = sorted(rows, key=lambda r: r.vec_id)
    far = [d2(by_id[i], by_id[(i + len(rows) // 2) % len(rows)]) for i in range(len(rows))]
    assert sum(adjacent) / len(adjacent) < 0.5 * (sum(far) / len(far))


def test_zorder_ann_recall_vs_exact(spark, sf_dir):
    """Layout-ANN sanity: candidates are real corpus ids ranked by true
    cosine, and quadtree-cell recall beats the random-pick baseline by
    a wide margin (the same bounding style as the RP-LSH rung — random
    vectors are the worst case for any spatial blocking)."""
    from etl_fuel_priceguide_ec2_spark.operators import layout, similarity
    from etl_fuel_priceguide_ec2_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    scores = embeddings.pca_component_scores(
        emb, "vec_id", "embedding", n_components=2, iters=8
    )
    q = scores.select(
        "vec_id",
        F.round(F.col("pc1") * 1e6, 0).cast("long").alias("q1"),
        F.round(F.col("pc2") * 1e6, 0).cast("long").alias("q2"),
    )
    zkeys = q.select(
        "vec_id", layout.zorder_value(q, ["q1", "q2"], bits=20).alias("z")
    )
    exact = similarity.cosine_topk(emb, queries, "vec_id", "embedding", k=10)
    ann = similarity.cosine_topk_zorder(
        emb, queries, "vec_id", "embedding", zkeys, prefix_bits=4, k=10
    )
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in ann.collect()}
    n_corpus = emb.count()
    recall = len(e & a) / len(e)
    assert recall > 3 * (10 / n_corpus)
    # every ANN row is a real ranked candidate
    assert all(rank <= 10 for r in ann.collect() for rank in [r.rank])


def test_ivf_pq_recall_vs_exact(spark, sf_dir):
    """The PQ-ADC rung's quality gate (VERDICT r12 item 5): IVF-PQ with
    ADC candidate generation + exact rerank recovers >= 0.9 of the
    exact brute-force squared-L2 top-5 at the registered parameters
    (m=16 subspaces, ks=16 codes, nprobe=6/8, rerank 100). The fixture
    embeddings are uniform random unit vectors — the recall-hostile
    case for IVF, so the bound holds a fortiori on clustered data.
    Deterministic end to end (hash-seeded fits, decimal ADC sums, id
    tiebreaks), so the assertion is exact, not statistical."""
    from etl_fuel_priceguide_ec2_spark.operators import similarity
    from etl_fuel_priceguide_ec2_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    got = similarity.topk_ivf_pq(
        emb, queries, "vec_id", "embedding",
        k=5, cells=8, iters=2, nprobe=6, m=16, ks=16, rerank_m=100,
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").cast("array<double>").alias("cv"),
    )
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("qv"),
    )
    d = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "d",
            F.aggregate(
                F.zip_with("cv", "qv", lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda a, x: a + x,
            ),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("d").asc(), F.col("neighbor_id").asc()
    )
    exact = (
        d.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "neighbor_id")
    )
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in got.collect()}
    assert len(e & a) / len(e) >= 0.9
    # reranked distances are the true distances: every returned row's
    # sq_dist matches the exact relation's value at 6dp
    want = {
        (r.query_id, r.neighbor_id): round(r.d, 6) for r in d.collect()
    }
    for r in got.collect():
        assert abs(want[(r.query_id, r.neighbor_id)] - r.sq_dist) < 1e-9


def test_ivf_pq_search_from_persisted_codes(spark, sf_dir, tmp_path):
    """The PQ rung's storage contract: pq_encode's (id, cell,
    code0..15) relation written to parquet and read back feeds
    topk_ivf_pq(codes=...) with results BIT-EQUAL to the end-to-end
    path — the 'corpus stored as 8-byte codes' claim made concrete
    (ingest encodes once; searches scan codes, never vectors, except
    the rerank's candidate join)."""
    from etl_fuel_priceguide_ec2_spark.operators import clustering, similarity
    from etl_fuel_priceguide_ec2_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    cents = clustering.fit_centroids(emb, "vec_id", "embedding", k=8, iters=2)
    books = clustering.fit_pq_codebooks(
        emb, "vec_id", "embedding", m=16, ks=16, iters=2
    )
    want = sorted(
        map(
            tuple,
            similarity.topk_ivf_pq(
                emb, queries, "vec_id", "embedding",
                k=5, nprobe=6, m=16, ks=16, rerank_m=50,
                centroids=cents, pq_codebooks=books,
            ).collect(),
        )
    )
    path = str(tmp_path / "pq_codes")
    similarity.pq_encode(
        emb, "vec_id", "embedding", cents, books
    ).write.parquet(path)
    stored = spark.read.parquet(path)
    got = sorted(
        map(
            tuple,
            similarity.topk_ivf_pq(
                emb, queries, "vec_id", "embedding",
                k=5, nprobe=6, m=16, ks=16, rerank_m=50,
                centroids=cents, pq_codebooks=books, codes=stored,
            ).collect(),
        )
    )
    assert got == want and len(want) > 0


def test_materialized_hint_injection_fails_loudly():
    """The residual oracle's MATERIALIZED hint is injected into
    generated SQL; a fragment reshape must raise, never silently drop
    the load-bearing hint (code-review r14)."""
    import pytest as _pt

    from etl_fuel_priceguide_ec2_spark.registry import semantic

    good = semantic._materialized(", cellassign AS (SELECT 1)", "cellassign")
    assert ", cellassign AS MATERIALIZED (" in good
    with _pt.raises(AssertionError, match="MATERIALIZED"):
        semantic._materialized("SELECT 1 AS cellassign", "cellassign")


def test_ann_recall_report_identity_and_bounds(spark, sf_dir):
    """The recall harness measured against itself: feeding the exact
    top-k back in as the approximate relation must report recall 1.0
    for every query (and n_exact == k when the corpus is big enough);
    feeding an EMPTY approximate relation reports recall 0.0 — the
    denominators come from the exact side, never the candidate set."""
    from etl_fuel_priceguide_ec2_spark.operators import similarity
    from etl_fuel_priceguide_ec2_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = similarity.exact_sq_topk(emb, queries, "vec_id", "embedding", k=4)
    rep = similarity.ann_recall_report(
        emb, queries, exact, "vec_id", "embedding", k=4
    ).collect()
    assert {r.query_id for r in rep} == {0, 1, 2, 3, 4}
    assert all(r.recall == 1.0 and r.n_exact == 4 and r.n_hits == 4 for r in rep)

    empty = exact.filter(F.lit(False))
    rep0 = similarity.ann_recall_report(
        emb, queries, empty, "vec_id", "embedding", k=4
    ).collect()
    assert all(r.recall == 0.0 and r.n_hits == 0 for r in rep0)

    # duplicated candidate pairs (an at-least-once streaming store read
    # without dropDuplicates) must not fan out the exact side
    # (code-review r14): the report over exact UNION ALL exact equals
    # the identity report
    rep2 = similarity.ann_recall_report(
        emb, queries, exact.unionAll(exact), "vec_id", "embedding", k=4
    ).collect()
    assert sorted(map(tuple, rep2)) == sorted(map(tuple, rep))


def test_residual_pq_inert_infinite_centroid_row(spark):
    """The literal renderer is total, so a non-finite centroid matrix
    goes down the same SQL-text residual path as a finite one (it used
    to take a separate Column fallback). A +inf centroid row is at
    infinite distance from every vector, so it can never win an argmin
    or a probe slot: the residual encode, search and reconstruction
    report must equal the same calls without that row."""
    import math
    import random

    from etl_fuel_priceguide_ec2_spark.operators import clustering, similarity

    rng = random.Random(11)
    centers = [[rng.uniform(-3, 3) for _ in range(8)] for _ in range(3)]
    rows = [
        (i, [c + rng.gauss(0, 0.3) for c in centers[i % 3]]) for i in range(48)
    ]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    cents = clustering.fit_centroids(emb, "vec_id", "embedding", k=3, iters=1)
    books = clustering.fit_pq_codebooks(
        emb, "vec_id", "embedding", m=4, ks=4, iters=1, residuals_of=cents
    )
    with_inf = cents + [[math.inf] * 8]
    queries = emb.filter(F.col("vec_id") < 4)
    newer = emb.filter(F.col("vec_id") >= 12)

    def run(cs):
        enc = similarity.pq_encode(
            emb, "vec_id", "embedding", cs, books, residual=True
        )
        top = similarity.topk_ivf_pq(
            emb, queries, "vec_id", "embedding", k=3, nprobe=2, m=4, ks=4,
            centroids=cs, pq_codebooks=books, residual=True,
        )  # pure ADC: the ranking reads the residual tables directly
        rep = similarity.pq_reconstruction_report(
            emb, newer, "vec_id", "embedding", cs, books, residual=True
        )
        return [sorted(map(tuple, d.collect())) for d in (enc, top, rep)]

    got, want = run(with_inf), run(cents)
    assert got == want
    assert all(want)


def test_ivf_pq_guards_internal_names_and_quotes_identifiers(spark):
    """topk_ivf_pq renders its search as one SQL text, so user column
    names reach the parser: a name that collides with an internal
    column raises ValueError up front (pq_encode's guard, mirrored),
    and a name that needs quoting — backtick, braces, space, hyphen —
    returns rows bit-equal to a plainly named copy, for the residual
    rerank form and the raw pure-ADC form alike."""
    import random

    from etl_fuel_priceguide_ec2_spark.operators import clustering, similarity

    rng = random.Random(5)
    rows = [(i, [rng.gauss(i % 3, 0.4) for _ in range(8)]) for i in range(60)]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    cents = clustering.fit_centroids(emb, "vec_id", "embedding", k=3, iters=1)

    for bad in ("v", "Cell", "_rv", "query_id", "neighbor_id", "adc0",
                "code3", "_adc", "_d"):
        for id_col, vec_col in ((bad, "embedding"), ("vec_id", bad)):
            with pytest.raises(ValueError, match="collides"):
                similarity.topk_ivf_pq(
                    emb, emb, id_col, vec_col, m=4, ks=4, centroids=cents
                )

    odd_id, odd_vec = "doc `id` {0}", "emb-vec {x}}"
    odd = emb.select(
        F.col("vec_id").alias(odd_id), F.col("embedding").alias(odd_vec)
    )
    for residual, rerank_m in ((True, 12), (False, None)):
        books = clustering.fit_pq_codebooks(
            emb, "vec_id", "embedding", m=4, ks=4, iters=1,
            residuals_of=cents if residual else None,
        )
        codes = similarity.pq_encode(
            emb, "vec_id", "embedding", cents, books, residual=residual
        )

        def search(corpus, id_col, vec_col, stored):
            quoted_id = "`" + id_col.replace("`", "``") + "`"
            return similarity.topk_ivf_pq(
                corpus, corpus.filter(F.col(quoted_id) < 6),
                id_col, vec_col, k=4, nprobe=2, m=4, ks=4,
                rerank_m=rerank_m, centroids=cents, pq_codebooks=books,
                codes=stored, residual=residual,
            )

        plain = search(emb, "vec_id", "embedding", codes)
        quoted = search(
            odd, odd_id, odd_vec, codes.withColumnRenamed("vec_id", odd_id)
        )
        assert quoted.schema == plain.schema
        want = sorted(map(tuple, plain.collect()))
        assert sorted(map(tuple, quoted.collect())) == want and len(want) == 24


def test_ivf_pq_requests_leave_no_global_temp_views(spark):
    """util.sql_over_frames binds a request's frames as GLOBAL temp
    views for its one analysis pass; none may outlive the call — not
    after many requests, and not after one whose analysis fails (a
    vec_col that does not exist passes the name guard and fails inside
    session.sql)."""
    import random

    from pyspark.errors import AnalysisException

    from etl_fuel_priceguide_ec2_spark.operators import clustering, similarity

    rng = random.Random(11)
    rows = [(i, [rng.gauss(i % 3, 0.4) for _ in range(8)]) for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    cents = clustering.fit_centroids(emb, "vec_id", "embedding", k=3, iters=1)
    books = clustering.fit_pq_codebooks(emb, "vec_id", "embedding", m=4, ks=4, iters=1)
    codes = similarity.pq_encode(emb, "vec_id", "embedding", cents, books)
    db = spark.conf.get("spark.sql.globalTempDatabase", "global_temp")

    def views():
        return sorted(t.name for t in spark.catalog.listTables(db))

    before = views()

    def search(vec_col, n):
        return similarity.topk_ivf_pq(
            emb, emb.filter(F.col("vec_id") < n), "vec_id", vec_col,
            k=3, nprobe=2, m=4, ks=4, rerank_m=8, centroids=cents,
            pq_codebooks=books, codes=codes,
        )

    for n in range(2, 7):
        assert len(search("embedding", n).collect()) == 3 * n
    with pytest.raises(AnalysisException):
        search("no_such_vec", 3)
    assert views() == before


def test_ivf_pq_residual_refinement(spark, sf_dir):
    """The classical IVF,PQ residual form (codes over v - own-cell
    centroid; per-cell query ADC tables): reconstruction error is
    STRICTLY better than raw-vector PQ on this corpus — the direct
    PQ-theory claim, measured deterministically — and the residual
    search returns a valid, deterministic top-k whose reranked
    distances are true distances."""
    import numpy as np

    from etl_fuel_priceguide_ec2_spark.operators import clustering, similarity
    from etl_fuel_priceguide_ec2_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    m, ks, sub = 16, 16, 4
    cents = clustering.fit_centroids(emb, "vec_id", "embedding", k=8, iters=2)
    raw_books = clustering.fit_pq_codebooks(
        emb, "vec_id", "embedding", m=m, ks=ks, iters=2
    )
    res_books = clustering.fit_pq_codebooks(
        emb, "vec_id", "embedding", m=m, ks=ks, iters=2, residuals_of=cents
    )
    vecs = {
        r.vec_id: np.array(r.v, dtype=np.float64)
        for r in emb.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v")
        ).collect()
    }
    C = np.array(cents)

    def mean_err(books, residual):
        enc = similarity.pq_encode(
            emb, "vec_id", "embedding", cents, books, residual=residual
        ).collect()
        B = [np.array(b) for b in books]
        errs = []
        for r in enc:
            dec = np.concatenate(
                [B[s][r[f"code{s}"]] for s in range(m)]
            )
            if residual:
                dec = dec + C[r.cell]
            errs.append(np.linalg.norm(vecs[r.vec_id] - dec))
        return float(np.mean(errs))

    e_raw, e_res = mean_err(raw_books, False), mean_err(res_books, True)
    assert e_res < e_raw, (e_res, e_raw)

    queries = emb.filter(F.col("vec_id") < 5)
    out = similarity.topk_ivf_pq(
        emb, queries, "vec_id", "embedding",
        k=5, nprobe=6, m=m, ks=ks, rerank_m=50,
        centroids=cents, pq_codebooks=res_books, residual=True,
    )
    rows = out.collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, out.collect()))
    assert {r.query_id for r in rows} == {0, 1, 2, 3, 4}
    for r in rows:  # reranked distances are true distances at 6dp
        true = round(
            float(np.sum((vecs[r.query_id] - vecs[r.neighbor_id]) ** 2)), 6
        )
        assert abs(true - r.sq_dist) < 1e-9


def test_fused_pq_fit_equals_independent_fits(spark, sf_dir):
    """fit_pq_codebooks (ONE scan per Lloyd's step for all m
    subspaces) is bit-identical to m independent fit_centroids runs
    over the slices — fusing changes job count, never arithmetic
    (same init rows, same argmin/lower-index ties, same order-free
    6dp-DECIMAL update sums). Also pins the pyspark HOF arity trap:
    a two-parameter lambda would silently rebind the subspace id to
    the element index."""
    from etl_fuel_priceguide_ec2_spark.operators import clustering
    from etl_fuel_priceguide_ec2_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    m, ks, sub = 8, 4, 8
    fused = clustering.fit_pq_codebooks(
        emb, "vec_id", "embedding", m=m, ks=ks, iters=2
    )
    indep = [
        clustering.fit_centroids(
            emb.select(
                F.col("vec_id"),
                F.slice(
                    F.col("embedding").cast("array<double>"),
                    s * sub + 1,
                    sub,
                ).alias("_sv"),
            ),
            "vec_id",
            "_sv",
            k=ks,
            iters=2,
        )
        for s in range(m)
    ]
    assert fused == indep


def test_ivf_pq_pure_adc_and_guards(spark, sf_dir):
    """The rerank-free form returns ADC scores (order-free decimal
    sums cast to double, so nonnegative and deterministic), and the
    subspace split must divide the dimension."""
    import pytest

    from etl_fuel_priceguide_ec2_spark.operators import similarity
    from etl_fuel_priceguide_ec2_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings").limit(100)
    queries = emb.filter(F.col("vec_id") < 3)
    adc = similarity.topk_ivf_pq(
        emb, queries, "vec_id", "embedding",
        k=5, cells=4, iters=1, nprobe=4, m=8, ks=4,
    ).collect()
    assert adc and all(r.approx_sq_dist >= 0 for r in adc)
    assert {r.query_id for r in adc} == {0, 1, 2}
    with pytest.raises(ValueError, match="not divisible"):
        similarity.topk_ivf_pq(
            emb, queries, "vec_id", "embedding", m=7
        )


def test_zorder_rejects_noninteger_key_column(spark):
    """The zkeys contract is POSITIONAL (column 0 = id, column 1 = the
    Morton key): a reordered zkeys whose column 1 is not integral must
    fail loudly instead of silently shift-righting the wrong column
    (ADVICE r10 / VERDICT r10 item 5)."""
    from etl_fuel_priceguide_ec2_spark.operators import similarity

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(4)],
        "vec_id: bigint, embedding: array<double>",
    )
    bad_zkeys = spark.createDataFrame(
        [(0, "a"), (1, "b")], "z: bigint, vec_id: string"
    )  # columns swapped: position 1 is the string id
    with pytest.raises(TypeError, match="Morton key"):
        similarity.cosine_topk_zorder(
            emb, emb, "vec_id", "embedding", bad_zkeys
        )


def test_zorder_cosine_never_emits_negative_zero(spark):
    """A cosine in (-5e-5, 0) rounds to -0.0 under DuckDB ROUND but 0.0
    under Spark round — the repr-hash failure class ADVICE r10 flagged
    for this rung. The +0.0 canonicalization must keep every emitted
    cosine repr-stable (never '-0.0')."""
    from etl_fuel_priceguide_ec2_spark.operators import similarity

    # query 0 vs neighbor 1: dot = -1e-6 -> cosine ~ -1e-6 -> round4 = -0.0
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [-1e-6, 1.0]), (2, [0.5, 0.5])],
        "vec_id: bigint, embedding: array<double>",
    )
    zkeys = spark.createDataFrame(
        [(0, 0), (1, 0), (2, 0)], "vec_id: bigint, z: bigint"
    )
    out = similarity.cosine_topk_zorder(
        emb, emb.filter(F.col("vec_id") == 0), "vec_id", "embedding",
        zkeys, prefix_bits=4, total_bits=40, k=10,
    ).collect()
    assert any(r.cosine == 0.0 for r in out)  # the tiny-negative case hit
    assert all(repr(r.cosine) != "-0.0" for r in out)


def test_covariance_from_state_dedupes_replayed_batches(vecs_df):
    """At-least-once replay safety (ADVICE r10): a duplicated _batch in
    ONE store (crash between the two non-atomic appends + replay) must
    not skew the covariance — from_state dedupes on (_batch, dim key)
    before the SUM merge."""
    from pyspark.sql import functions as F

    clean = sorted(
        map(tuple, embeddings.embedding_covariance(
            vecs_df, "vec_id", "embedding"
        ).collect())
    )
    sij = si = None
    for k in range(2):
        s = vecs_df.filter(F.col("vec_id") % 2 == k)
        a = embeddings.embedding_second_moment_state(
            s, "vec_id", "embedding"
        ).withColumn("_batch", F.lit(k))
        b = embeddings.embedding_first_moment_state(
            s, "vec_id", "embedding"
        ).withColumn("_batch", F.lit(k))
        sij = a if sij is None else sij.unionByName(a)
        si = b if si is None else si.unionByName(b)
    # replay batch 1 into the sij store only (the failure-window shape)
    sij_replayed = sij.unionByName(sij.filter(F.col("_batch") == 1))
    merged = sorted(
        map(tuple, embeddings.embedding_covariance_from_state(
            sij_replayed, si
        ).collect())
    )
    assert merged == clean


def test_round10_operator_empty_and_degenerate_edges(spark):
    """Defined, non-crashing answers on degenerate inputs for the
    round-10 operators: empty corpus -> empty covariance/state/scores;
    a moment-state merge where one slice is empty == the other slice
    alone; z-order ANN with no co-bucketed candidates -> empty ranking;
    hashed embeddings of an empty corpus -> no sparse rows."""
    from etl_fuel_priceguide_ec2_spark.operators import similarity, textops

    empty = spark.createDataFrame([], "vec_id: bigint, embedding: array<double>")
    assert embeddings.embedding_covariance(empty, "vec_id", "embedding").count() == 0
    assert embeddings.embedding_second_moment_state(empty, "vec_id", "embedding").count() == 0
    assert embeddings.embedding_zscore_outliers(empty, "vec_id", "embedding").count() == 0

    some = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [2.0, 1.0]), (3, [0.0, 4.0])],
        "vec_id: bigint, embedding: array<double>",
    )
    sij_e = embeddings.embedding_second_moment_state(empty, "vec_id", "embedding")
    si_e = embeddings.embedding_first_moment_state(empty, "vec_id", "embedding")
    sij_s = embeddings.embedding_second_moment_state(some, "vec_id", "embedding")
    si_s = embeddings.embedding_first_moment_state(some, "vec_id", "embedding")
    merged = sorted(map(tuple, embeddings.embedding_covariance_from_state(
        sij_s.unionByName(sij_e), si_s.unionByName(si_e)
    ).collect()))
    alone = sorted(map(tuple, embeddings.embedding_covariance(
        some, "vec_id", "embedding"
    ).collect()))
    assert merged == alone

    # z-order ANN: a query whose 3 probed buckets contain no corpus
    # vectors yields no candidates (bucket 999 is outside every key)
    zk = spark.createDataFrame(
        [(1, 0), (2, 1), (3, 999_000)], "vec_id: bigint, z: bigint"
    )
    out = similarity.cosine_topk_zorder(
        some, some.filter(F.col("vec_id") == 3), "vec_id", "embedding",
        zk, prefix_bits=4, total_bits=20, k=5,
    )
    assert out.count() == 0

    edocs = spark.createDataFrame([], "doc_id: bigint, text: string")
    assert textops.hashed_tfidf_components(edocs, "doc_id", "text").count() == 0
    assert textops.hashed_tfidf_embeddings(edocs, "doc_id", "text").count() == 0


def test_round13_operator_empty_and_degenerate_edges(spark):
    """Defined, non-crashing answers on degenerate inputs for the
    round-13 operators: empty corpus -> empty PQ result with the
    stable schema (both output shapes); fused PQ fit on an empty
    corpus -> m empty codebooks; parameter guards raise; an
    all-silent (too-short) clip fingerprints to four zero bands
    instead of crashing the reshape."""
    import pytest

    from etl_fuel_priceguide_ec2_spark.operators import (
        audiocodec,
        clustering,
        multimodal,
        similarity,
    )

    empty = spark.createDataFrame([], "vec_id: bigint, embedding: array<double>")
    adc = similarity.topk_ivf_pq(empty, empty, "vec_id", "embedding")
    assert adc.count() == 0 and "approx_sq_dist" in adc.columns
    rr = similarity.topk_ivf_pq(empty, empty, "vec_id", "embedding", rerank_m=10)
    assert rr.count() == 0 and "sq_dist" in rr.columns
    assert clustering.fit_pq_codebooks(
        empty, "vec_id", "embedding", m=4, ks=4
    ) == [[], [], [], []]
    with pytest.raises(ValueError, match=">= 1"):
        clustering.fit_pq_codebooks(empty, "vec_id", "embedding", m=0, ks=4)

    # a 32-sample clip has n // 64 == 0 band width: all-zero bands
    tiny = spark.createDataFrame([(7,)], "doc_id: bigint").select(
        "doc_id",
        F.lit(
            bytearray(
                audiocodec.encode_wav(
                    audiocodec.synth_sawtooth(7, 32), 8000
                )
            )
        ).alias("payload"),
    )
    row = multimodal.audio_fingerprint(tiny).collect()[0]
    assert (row.b0, row.b1, row.b2, row.b3) == (0, 0, 0, 0)

    # empty media stream of bands: the pair miner returns no rows
    eb = spark.createDataFrame(
        [], "doc_id: bigint, b0: bigint, b1: bigint, b2: bigint, b3: bigint"
    )
    assert multimodal.image_ahash_pairs(eb, max_hamming=3).count() == 0


def test_round14_operator_empty_and_degenerate_edges(spark):
    """Defined, non-crashing answers on degenerate inputs for the
    round-14 operators: k-fold parameter guard raises and k=2 works;
    snapshot drift against an empty snapshot is an EMPTY report (not
    nulls); the recall report over an empty query set is empty; the
    residual encode on an empty corpus keeps the stable (id, cell,
    code*) schema."""
    import pytest

    from etl_fuel_priceguide_ec2_spark.operators import (
        embeddings as emb_ops,
        sampling,
        similarity,
    )

    docs = spark.range(0, 20).withColumnRenamed("id", "doc_id")
    with pytest.raises(ValueError, match=">= 2"):
        sampling.kfold_assign(docs, "doc_id", k=1)
    folds = sampling.kfold_assign(docs, "doc_id", k=2).collect()
    assert {r.fold for r in folds} <= {0, 1} and len(folds) == 20

    vecs = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(6)],
        "vec_id: bigint, embedding: array<double>",
    )
    empty = vecs.filter(F.lit(False))
    assert emb_ops.embedding_snapshot_drift(
        vecs, empty, "vec_id", "embedding"
    ).count() == 0
    assert emb_ops.embedding_snapshot_drift(
        empty, vecs, "vec_id", "embedding"
    ).count() == 0

    assert similarity.ann_recall_report(
        vecs, empty, empty.select(
            F.col("vec_id").alias("query_id"),
            F.col("vec_id").alias("neighbor_id"),
        ), "vec_id", "embedding", k=3
    ).count() == 0

    enc = similarity.pq_encode(
        empty, "vec_id", "embedding", [[0.0, 0.0], [1.0, 1.0]],
        [[[0.0], [1.0]], [[0.0], [1.0]]], residual=True
    )
    assert enc.count() == 0
    assert enc.columns == ["vec_id", "cell", "code0", "code1"]


def test_fisher_scores_match_numpy_decomposition(spark):
    """Fisher separability vs numpy's variance decomposition on a
    planted two-class corpus: dim 0 separates the classes (high
    ratio), dim 1 is pure noise (ratio near 0), dim 2 is constant
    (within 0 -> NULL ratio); between + within == total variance."""
    rng = np.random.default_rng(11)
    rows = []
    for i in range(60):
        cls = i % 2
        rows.append(
            (
                i,
                [float(cls * 4.0 + rng.normal(0, 0.3)), float(rng.normal(0, 1.0)), 5.0],
                cls,
            )
        )
    df = spark.createDataFrame(
        rows, "vec_id: bigint, embedding: array<double>, label: int"
    )
    got = {
        r.dim_i: r
        for r in embeddings.embedding_fisher_scores(
            df, "vec_id", "embedding", "label"
        ).collect()
    }
    x = np.array([r[1] for r in rows])
    labels = np.array([r[2] for r in rows])
    for d in (1, 2):  # 1-based dims: planted signal dim
        xi = x[:, d - 1]
        total = xi.var()
        mu = xi.mean()
        between = sum(
            (labels == c).sum() * (xi[labels == c].mean() - mu) ** 2
            for c in (0, 1)
        ) / len(xi)
        within = total - between
        assert got[d].between_var == pytest.approx(between, abs=2e-6)
        assert got[d].within_var == pytest.approx(within, abs=2e-6)
    assert got[1].fisher_ratio > 10  # planted signal dominates
    assert got[2].fisher_ratio < 0.5  # noise dim
    assert got[3].within_var == 0.0 and got[3].fisher_ratio is None  # constant


def test_pca_residual_matches_numpy(vecs_df, xmat):
    """resid2 == centered energy minus the top-2 projection energies
    (numpy eigen-decomposition ground truth); energy fraction in
    [0, 1]; a vector pushed far OFF the top-2 subspace dominates the
    residual ranking while staying unremarkable in pc space."""
    got = {
        r.vec_id: (r.resid2, r.pc_energy_frac)
        for r in embeddings.pca_residual_scores(
            vecs_df, "vec_id", "embedding", n_components=2, iters=8
        ).collect()
    }
    assert len(got) == N
    cov = np.cov(xmat.T, bias=True)
    w, v = np.linalg.eigh(cov)
    centered = xmat - xmat.mean(axis=0)
    proj = centered @ v[:, [-1, -2]]
    expect_resid = (centered**2).sum(axis=1) - (proj**2).sum(axis=1)
    for i in range(N):
        assert got[i][0] == pytest.approx(expect_resid[i], rel=2e-3, abs=2e-3)
        # 6dp-rounded pc energies can exceed total2 by a hair on
        # near-subspace vectors (non-exactly-orthogonal quantized
        # components) — the bound is approximate by construction
        assert -1e-3 <= got[i][1] <= 1.001
    # push one vector off-subspace: large residual, bounded pc energy.
    # Magnitude 5 along the SMALLEST eigendirection: big enough to
    # dominate every residual (others ~dim*noise^2), small enough that
    # its added variance (~25/N) cannot overtake lambda2 and rotate
    # the fitted subspace toward itself.
    off_dir = v[:, 0]
    rows = [(i, [float(x) for x in row]) for i, row in enumerate(xmat)]
    rows.append((999, [float(x) for x in xmat.mean(axis=0) + 5 * off_dir]))
    df2 = vecs_df.sparkSession.createDataFrame(
        rows, "vec_id: bigint, embedding: array<double>"
    )
    got2 = {
        r.vec_id: r
        for r in embeddings.pca_residual_scores(
            df2, "vec_id", "embedding", n_components=2, iters=8
        ).collect()
    }
    assert got2[999].resid2 == max(r.resid2 for r in got2.values())
    assert got2[999].pc_energy_frac < 0.5


# --- round-11: ZCA whitening ------------------------------------------


@pytest.fixture(scope="module")
def iso_df(spark):
    """Well-conditioned corpus (n >> d, near-isotropic) where the
    default 12 Newton-Schulz iterations converge far past the test
    tolerance — the planted-direction xmat fixture's tiny noise
    eigenvalues (lambda_min/trace ~ 3e-4) would need ~15+."""
    rng = np.random.default_rng(11)
    x = rng.normal(size=(80, DIM)) + rng.normal(size=DIM)
    rows = [(i, [float(v) for v in row]) for i, row in enumerate(x)]
    return spark.createDataFrame(
        rows, "vec_id: bigint, embedding: array<double>"
    )


def test_qd_vec_matches_decimal_qd():
    """The vectorized numpy quantizer must agree with the Decimal
    reference (_qd) elementwise — including exact .5 boundaries and
    negative values — or the whitener silently departs from the
    DuckDB rounding model the oracle replays."""
    import numpy as np

    rng = np.random.default_rng(3)
    xs = list(rng.normal(scale=5.0, size=2000))
    xs += [0.5e-12, -0.5e-12, 1.5e-12, -1.5e-12, 2.5e-12, 0.0]
    xs += [1e-13, -1e-13, 81.0, -81.0]
    for s in (6, 9, 12):
        t = np.array([x * float(10**s) for x in xs])
        got = embeddings._qd_vec(t).astype(np.int64)
        want = [embeddings._qd(x, s) for x in xs]
        assert got.tolist() == want


def test_zca_whitener_decorrelates(iso_df):
    """The point of the operator: W (cov + ridge I) W' ~ I within the
    quantization floor (the 9dp re-quantization each step bounds the
    achievable error ~1e-7; tolerance leaves margin)."""
    got = embeddings.zca_whitener(iso_df, "vec_id", "embedding")
    assert got is not None
    w, means, dim = got
    assert dim == DIM and len(w) == DIM and len(means) == DIM
    x = np.array(
        [r.embedding for r in iso_df.orderBy("vec_id").collect()]
    )
    cov = np.cov(x, rowvar=False, bias=True)
    a = cov + 1e-6 * np.eye(dim)
    wm = np.array(w)
    err = np.abs(wm @ a @ wm.T - np.eye(dim)).max()
    assert err < 1e-3
    # ZCA W is symmetric (inverse-sqrt of a symmetric matrix)
    assert np.abs(wm - wm.T).max() < 1e-6


def test_zca_scores_match_numpy(iso_df):
    """Emitted coordinates equal the numpy whitened projection within
    the quantization tolerance, for the first 4 output dims."""
    got = embeddings.zca_whitener(iso_df, "vec_id", "embedding")
    w, means, dim = got
    x = np.array(
        [r.embedding for r in iso_df.orderBy("vec_id").collect()]
    )
    want = (x - np.array(means)) @ np.array(w).T
    out = embeddings.zca_whitening_scores(
        iso_df, "vec_id", "embedding", n_out=4
    ).orderBy("vec_id").collect()
    gotm = np.array([[r.zca1, r.zca2, r.zca3, r.zca4] for r in out])
    assert np.abs(gotm - want[:, :4]).max() < 1e-4
    assert all(repr(v) != "-0.0" for row in gotm for v in row)


def test_zca_validates_args_and_empty_input(spark):
    empty = spark.createDataFrame(
        [], "vec_id: bigint, embedding: array<double>"
    )
    out = embeddings.zca_whitening_scores(empty, "vec_id", "embedding")
    assert out.count() == 0
    assert out.columns == ["vec_id", "zca1", "zca2", "zca3", "zca4"]
    with pytest.raises(ValueError):
        embeddings.zca_whitening_scores(
            empty, "vec_id", "embedding", n_out=0
        )
    with pytest.raises(ValueError):
        embeddings.zca_whitening_scores(
            empty, "vec_id", "embedding", iters=0
        )


def test_second_moment_partials_survive_huge_per_task_sums(spark):
    """ADVICE r11: the mapInPandas PARTIAL must carry decimal(38,12)
    headroom, not the per-term decimal(30,12) cap — a task whose
    partial sum exceeds ~1e18 (here ~500 products of ~5e15, every
    individual term still well inside (30,12)) overflowed the old
    Arrow-boundary schema where the explode form's widened SUM type
    was still exact. One partition forces everything into one task."""
    rows = [(i, [7.0e7 + i]) for i in range(500)]
    df = spark.createDataFrame(
        rows, "vec_id: bigint, embedding: array<double>"
    ).coalesce(1)
    want = sorted(
        map(tuple, _explode_second_moment(df, "embedding").collect())
    )
    got = sorted(
        map(
            tuple,
            embeddings.embedding_second_moment_state(
                df, "vec_id", "embedding"
            ).collect(),
        )
    )
    assert got == want
    (s_ij,) = [t[2] for t in got]
    assert s_ij is not None and s_ij > 10**18  # the overflow class


def test_covariance_from_state_store_namespaced_batches(vecs_df):
    """ADVICE r11: _batch ids restart at 0 per stream, so states
    unioned from TWO independent stores collide on (_batch, dim key);
    a _store tag must namespace the replay-dedupe so both stores'
    rows survive the merge (without it, colliding rows are silently
    dropped as 'replays' and the covariance skews)."""
    clean = sorted(
        map(tuple, embeddings.embedding_covariance(
            vecs_df, "vec_id", "embedding"
        ).collect())
    )
    sij = si = None
    for k in range(2):  # two "independent streams", each _batch=0
        s = vecs_df.filter(F.col("vec_id") % 2 == k)
        a = (
            embeddings.embedding_second_moment_state(s, "vec_id", "embedding")
            .withColumn("_batch", F.lit(0))
            .withColumn("_store", F.lit(f"store{k}"))
        )
        b = (
            embeddings.embedding_first_moment_state(s, "vec_id", "embedding")
            .withColumn("_batch", F.lit(0))
            .withColumn("_store", F.lit(f"store{k}"))
        )
        sij = a if sij is None else sij.unionByName(a)
        si = b if si is None else si.unionByName(b)
    # a replay WITHIN store1 is still stripped under the namespaced key
    sij = sij.unionByName(sij.filter(F.col("_store") == "store1"))
    merged = sorted(
        map(tuple, embeddings.embedding_covariance_from_state(
            sij, si
        ).collect())
    )
    assert merged == clean


def test_ns_inverse_sqrt_rejects_quantization_overflow():
    """ADVICE r11: Newton-Schulz intermediates scale like
    sqrt(trace/lambda_min); once a matmul term's |t|*1e12 reaches 2^52
    the int64 fixed-point replay silently leaves the cross-engine
    rounding model — the matmul must fail loudly instead. An
    ill-conditioned diag matrix with a tiny ridge triggers it."""
    m = [[1.0e6, 0.0], [0.0, 1.0e-12]]
    with pytest.raises(ValueError, match="quantization bound"):
        embeddings._ns_inverse_sqrt(m, 2, iters=60, ridge=0.0)
    # the default ridge + sane trace stays inside the bound
    w, _ = embeddings._ns_inverse_sqrt(
        [[2.0, 0.3], [0.3, 1.0]], 2, iters=12, ridge=1e-6
    )
    assert len(w) == 2


def test_clear_store_cache_frees_checkpoint_blocks(spark):
    """clear_store_cache must actually free the localCheckpointed
    blocks, not just drop references (ADVICE r12): the unpersist goes
    through the LogicalRDD plan's wrapped RDD — df.rdd derives a NEW
    unpersisted RDD and unpersisting that is a silent no-op
    (code-review r13, verified via getPersistentRDDs)."""
    from pyspark.sql import functions as F

    from etl_fuel_priceguide_ec2_spark.registry import stores

    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    got = stores.corpus_store(
        spark,
        "/tmp/_store_cache_test",
        "free_blocks_probe",
        lambda: spark.range(0, 64).withColumn("y", F.col("id") * 3),
    )
    assert got.count() == 64
    during = jsc.getPersistentRDDs().size()
    assert during > before  # the checkpoint registered blocks
    stores.clear_store_cache()
    after = jsc.getPersistentRDDs().size()
    assert after < during  # ... and clear actually released them


def test_clear_store_cache_warns_when_reflection_breaks_on_live_context(spark):
    """The analyzed-plan unpersist rides a PRIVATE Spark API
    (queryExecution().analyzed().rdd()). If a Spark upgrade moves it
    while the owning context is alive, clear_store_cache must degrade
    LOUDLY to the ContextCleaner fallback — a RuntimeWarning, never a
    silent leak (VERDICT r13 item 8)."""
    import warnings

    from pyspark.sql import functions as F

    from etl_fuel_priceguide_ec2_spark.registry import stores

    stores.corpus_store(
        spark,
        "/tmp/_store_cache_test",
        "reflection_guard_probe",
        lambda: spark.range(0, 8).withColumn("y", F.col("id") + 1),
    ).count()

    class _BrokenJdf:
        def queryExecution(self):
            raise AttributeError("private API moved in this Spark version")

    for df in stores._STORE_CACHE.values():
        df._jdf = _BrokenJdf()
    try:
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            stores.clear_store_cache()
        assert any(
            issubclass(w.category, RuntimeWarning)
            and "analyzed-plan unpersist failed" in str(w.message)
            for w in caught
        ), [str(w.message) for w in caught]
        assert not stores._STORE_CACHE  # cache still cleared
    finally:
        stores.clear_store_cache()


def test_sq_dists_sql_rejects_reserved_lambda_identifiers():
    """sq_dists_sql's reserved `_sqd_*` lambda variables are ENFORCED
    (ADVICE r13): a vec_text referencing a column with one of those
    names would be silently captured by the lambda scope (every
    distance 0) — the call must raise instead."""
    import pytest as _pt

    from etl_fuel_priceguide_ec2_spark.operators import clustering

    with _pt.raises(ValueError, match="_sqd_"):
        clustering.sq_dists_sql("_sqd_c", "array(array(1.0D))")
    with _pt.raises(ValueError, match="reserved"):
        clustering.sq_dists_sql(
            "slice(_sqd_x, 1, 4)", "array(array(1.0D))"
        )
    # non-colliding text still renders — including identifiers that
    # merely CONTAIN the reserved substring (lambda scope only captures
    # the exact names, so these must not raise; code-review r14)
    assert "zip_with" in clustering.sq_dists_sql("v", "array(array(1.0D))")
    assert "zip_with" in clustering.sq_dists_sql(
        "my_sqd_col", "array(array(1.0D))"
    )
    assert "zip_with" in clustering.sq_dists_sql(
        "_sqd_custom", "array(array(1.0D))"
    )


def test_corpus_cov_means_cache_is_invisible(spark, sf_dir):
    """The per-corpus (cov, means, dim) cache (registry/semantic.py)
    must change cost, never results: the cached-fit builder output is
    row-identical to the operator run with a fresh collect, and
    clear_codebook_cache() drops the entry."""
    from etl_fuel_priceguide_ec2_spark.registry import semantic as sem
    from etl_fuel_priceguide_ec2_spark.sources.catalog import load_table

    sem.clear_codebook_cache()
    cached = sorted(
        map(
            tuple,
            embeddings.pca_component_scores(
                load_table(spark, sf_dir, "embeddings"),
                "vec_id",
                "embedding",
                n_components=2,
                iters=8,
                cov_means=sem._corpus_cov_means(spark, sf_dir),
            ).collect(),
        )
    )
    fresh = sorted(
        map(
            tuple,
            embeddings.pca_component_scores(
                load_table(spark, sf_dir, "embeddings"),
                "vec_id",
                "embedding",
                n_components=2,
                iters=8,
            ).collect(),
        )
    )
    assert cached == fresh
    key = f"{sf_dir}:embeddings:cov_means"
    assert key in sem._CODEBOOK_CACHE
    sem.clear_codebook_cache()
    assert key not in sem._CODEBOOK_CACHE


def test_pq_encode_rejects_generated_code_alias_collision(spark, sf_dir):
    """ADVICE r14: the id_col collision guard must also cover the
    GENERATED code0..code{m-1} output aliases, not just the internal
    v/norm/cell/_rv names — id_col='code0' would otherwise return a
    relation with a silently duplicated column name."""
    from etl_fuel_priceguide_ec2_spark.operators import similarity
    from etl_fuel_priceguide_ec2_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings").limit(10)
    cents = [[0.0] * 64, [1.0] * 64]
    books = [[[0.0] * 8, [1.0] * 8]] * 8
    renamed = emb.select(
        F.col("vec_id").alias("code0"), "embedding"
    )
    with pytest.raises(ValueError, match="code0"):
        similarity.pq_encode(renamed, "code0", "embedding", cents, books)
    # code{m} and beyond is NOT generated for m=8 — must stay allowed
    ok = emb.select(F.col("vec_id").alias("code8"), "embedding")
    out = similarity.pq_encode(ok, "code8", "embedding", cents, books)
    assert out.columns[0] == "code8" and len(out.columns) == 2 + 8


def test_exact_topk_and_recall_dedupe_duplicated_query_rows(spark, sf_dir):
    """ADVICE r14: a duplicated query row (an at-least-once query feed
    read without dedupe) must not fan out exact candidates — ranks and
    recall denominators stay those of the distinct query set, for both
    ground-truth metrics."""
    from etl_fuel_priceguide_ec2_spark.operators import similarity
    from etl_fuel_priceguide_ec2_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings").limit(60)
    queries = emb.filter(F.col("vec_id") < 4)
    doubled = queries.unionAll(queries)

    clean = sorted(map(tuple, similarity.exact_sq_topk(
        emb, queries, "vec_id", "embedding", k=5).collect()))
    dup = sorted(map(tuple, similarity.exact_sq_topk(
        emb, doubled, "vec_id", "embedding", k=5).collect()))
    assert dup == clean and clean

    approx = similarity.exact_sq_topk(emb, queries, "vec_id", "embedding", k=5)
    for metric in ("l2", "cosine"):
        r_clean = sorted(map(tuple, similarity.ann_recall_report(
            emb, queries, approx, "vec_id", "embedding", k=5, metric=metric
        ).collect()))
        r_dup = sorted(map(tuple, similarity.ann_recall_report(
            emb, doubled, approx, "vec_id", "embedding", k=5, metric=metric
        ).collect()))
        assert r_dup == r_clean and r_clean, metric


def test_recall_report_cosine_metric_matches_cosine_ground_truth(spark, sf_dir):
    """metric='cosine' must measure against the cosine brute-force
    top-k (the z-order/IVF rungs' own metric): feeding the exact cosine
    relation back in scores recall 1.0 everywhere, while an unknown
    metric fails loudly."""
    from etl_fuel_priceguide_ec2_spark.operators import similarity
    from etl_fuel_priceguide_ec2_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings").limit(80)
    queries = emb.filter(F.col("vec_id") < 4)
    exact_cos = similarity.cosine_topk(emb, queries, "vec_id", "embedding", k=5)
    rep = similarity.ann_recall_report(
        emb, queries, exact_cos, "vec_id", "embedding", k=5, metric="cosine"
    ).collect()
    assert rep and all(r.recall == 1.0 and r.n_exact == 5 for r in rep)
    with pytest.raises(ValueError, match="metric"):
        similarity.ann_recall_report(
            emb, queries, exact_cos, "vec_id", "embedding", k=5, metric="dot"
        )


def test_pq_reconstruction_report_identity_and_planted_drift(spark, sf_dir):
    """Codebook-staleness semantics pinned at both ends: (a) the SAME
    snapshot on both sides reports growth exactly 1.0 and refit False
    in every cell; (b) a planted drift (the new wave scaled 3x — a
    stand-in encoder change) inflates reconstruction error in every
    cell past any reasonable threshold, so every cell flags refit."""
    from etl_fuel_priceguide_ec2_spark.operators import clustering, similarity
    from etl_fuel_priceguide_ec2_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings").limit(120)
    cents = clustering.fit_centroids(emb, "vec_id", "embedding", k=4, iters=1)
    books = clustering.fit_pq_codebooks(
        emb, "vec_id", "embedding", m=8, ks=8, iters=1
    )

    same = similarity.pq_reconstruction_report(
        emb, emb, "vec_id", "embedding", cents, books
    ).collect()
    assert same and all(
        r.err_growth == 1.0 and r.refit is False and r.n_old == r.n_new
        for r in same
    )
    # errors are means of nonnegative decimal sums
    assert all(r.err_old >= 0 and r.err_new >= 0 for r in same)

    drifted = emb.select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x * 3.0).alias("embedding"),
    )
    rep = similarity.pq_reconstruction_report(
        emb, drifted, "vec_id", "embedding", cents, books,
        growth_threshold=1.2,
    ).collect()
    flagged = [r for r in rep if r.refit]
    assert flagged and all(
        r.refit for r in rep if r.err_growth is not None
    )
    assert sum(r.n_new or 0 for r in rep) == emb.count()

    with pytest.raises(ValueError, match="not divisible"):
        similarity.pq_reconstruction_report(
            emb, emb, "vec_id", "embedding", cents, [[[0.0] * 5]] * 7
        )


def test_pq_reconstruction_report_residual_frame(spark, sf_dir):
    """residual=True measures the error in the residual frame against
    residual-fitted codebooks: identity growth still 1.0, and the
    residual fit's mean reconstruction error is strictly below the raw
    fit's (the PQ-theory claim the rung itself pins, here re-checked
    through the report relation)."""
    from etl_fuel_priceguide_ec2_spark.operators import clustering, similarity
    from etl_fuel_priceguide_ec2_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings").limit(120)
    cents = clustering.fit_centroids(emb, "vec_id", "embedding", k=4, iters=1)
    raw_books = clustering.fit_pq_codebooks(
        emb, "vec_id", "embedding", m=8, ks=8, iters=1
    )
    res_books = clustering.fit_pq_codebooks(
        emb, "vec_id", "embedding", m=8, ks=8, iters=1, residuals_of=cents
    )
    raw = similarity.pq_reconstruction_report(
        emb, emb, "vec_id", "embedding", cents, raw_books
    ).collect()
    res = similarity.pq_reconstruction_report(
        emb, emb, "vec_id", "embedding", cents, res_books, residual=True
    ).collect()
    assert res and all(r.err_growth == 1.0 and r.refit is False for r in res)
    # corpus-wide weighted mean error: residual fit strictly tighter
    raw_err = sum(r.err_old * r.n_old for r in raw) / sum(r.n_old for r in raw)
    res_err = sum(r.err_old * r.n_old for r in res) / sum(r.n_old for r in res)
    assert res_err < raw_err


def test_prune_codes_empty_query_batch_yields_empty_slice(spark, sf_dir):
    """An empty query batch prunes the store to an empty slice with the
    store's schema — explicitly, not via isin([])'s engine-specific
    null semantics (the streaming path guards empties earlier; this
    pins the helper's own contract for direct callers)."""
    from etl_fuel_priceguide_ec2_spark.operators import clustering, similarity
    from etl_fuel_priceguide_ec2_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings").limit(40)
    cents = clustering.fit_centroids(emb, "vec_id", "embedding", k=2, iters=1)
    books = clustering.fit_pq_codebooks(
        emb, "vec_id", "embedding", m=8, ks=2, iters=1
    )
    codes = similarity.pq_encode(emb, "vec_id", "embedding", cents, books)
    pruned = similarity.prune_codes_to_probed_cells(
        codes, emb.filter(F.lit(False)), "vec_id", "embedding", cents, 2
    )
    assert pruned.count() == 0 and pruned.columns == codes.columns


def test_pq_reconstruction_report_zero_err_old_cell(spark):
    """The degenerate perfect-reconstruction cell (ADVICE r15):
    err_old == 0 is attainable after 9dp rounding when a small cell's
    vectors sit ON its codewords. Spark's non-ANSI Divide would yield
    growth NULL (refit NULL) while DuckDB yields inf (refit true) — the
    special case pins the one shared semantics: growth NULL (the ratio
    is undefined) and refit = err_new > 0, so a genuinely-degraded cell
    FLAGS instead of reporting NULL, and a still-perfect cell stays
    refit False."""
    from etl_fuel_priceguide_ec2_spark.operators import similarity

    cents = [[0.0, 0.0, 0.0, 0.0]]
    books = [[[1.0, 2.0]], [[3.0, 4.0]]]  # m=2, ks=1: one codeword each
    on_codewords = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0, 4.0]), (2, [1.0, 2.0, 3.0, 4.0])],
        "vec_id long, embedding array<double>",
    )
    drifted = spark.createDataFrame(
        [(1, [2.0, 4.0, 6.0, 8.0]), (2, [2.0, 4.0, 6.0, 8.0])],
        "vec_id long, embedding array<double>",
    )
    # perfect -> degraded: err_old 0, err_new > 0 => growth NULL, refit True
    [r] = similarity.pq_reconstruction_report(
        on_codewords, drifted, "vec_id", "embedding", cents, books
    ).collect()
    assert r.err_old == 0 and r.err_new > 0
    assert r.err_growth is None and r.refit is True
    # perfect -> perfect: growth NULL (0/0 undefined), refit False
    [r2] = similarity.pq_reconstruction_report(
        on_codewords, on_codewords, "vec_id", "embedding", cents, books
    ).collect()
    assert r2.err_old == 0 and r2.err_new == 0
    assert r2.err_growth is None and r2.refit is False
    # one-sided cells (full-outer fringe) still report refit NULL
    empty = on_codewords.filter(F.lit(False))
    [r3] = similarity.pq_reconstruction_report(
        on_codewords, empty, "vec_id", "embedding", cents, books
    ).collect()
    assert r3.err_new is None and r3.refit is None and r3.err_growth is None


def test_slice_state_guards_reject_bad_slice_keys(spark):
    """ADVICE r16: the two moment-state operators must share ONE
    slice-key contract — non-integral slice dtypes raise a clear
    ValueError up front (the state schema carries the slice as long;
    previously a string slice died deep inside mapInPandas), and
    NULL-slice rows are dropped by BOTH operators (previously pandas
    groupby silently dropped them in the second-moment state while
    Spark's groupBy kept a NULL group in the first-moment state — a
    merge joining by dim keys alone would silently skew)."""
    import pytest as _pytest

    from etl_fuel_priceguide_ec2_spark.operators import embeddings as emb

    df = spark.createDataFrame(
        [
            (1, "a", [1.0, 2.0]),
            (2, "b", [3.0, 4.0]),
        ],
        "vec_id long, day string, embedding array<double>",
    )
    with _pytest.raises(ValueError, match="integral"):
        emb.embedding_second_moment_state(df, "vec_id", "embedding", slice_col="day")
    with _pytest.raises(ValueError, match="integral"):
        emb.embedding_first_moment_state(df, "vec_id", "embedding", slice_col="day")

    withnull = spark.createDataFrame(
        [
            (1, 0, [1.0, 2.0]),
            (2, None, [10.0, 20.0]),  # NULL slice: dropped from BOTH states
            (3, 0, [3.0, 4.0]),
        ],
        "vec_id long, sl long, embedding array<double>",
    )
    si = emb.embedding_first_moment_state(
        withnull, "vec_id", "embedding", slice_col="sl"
    ).collect()
    sij = emb.embedding_second_moment_state(
        withnull, "vec_id", "embedding", slice_col="sl"
    ).collect()
    assert {r.sl for r in si} == {0}
    assert {r.sl for r in sij} == {0}
    # and the slice-0 sums exclude the NULL-slice row's values
    s_by_dim = {r.dim_i: float(r.s) for r in si}
    assert s_by_dim == {1: 4.0, 2: 6.0}
