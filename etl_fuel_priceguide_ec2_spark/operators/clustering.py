"""Semantic clustering over embedding columns: deterministic Lloyd's
k-means, the standard front-end for semantic dedup at corpus scale
(cluster first, then near-dup only within clusters — turns the O(n^2)
semantic-pair search into per-cluster work).

Not in the reference (a row-store ETL, ``index.js``); mandated by the
LLM-data-pipeline extension tier. Design for 100 TB: the only
driver-side state is the k x dim centroid matrix (tiny, broadcast back
as a literal); every per-row step is a JVM-side higher-order-function
expression over the vector column — no Python UDFs, no shuffle except
the k*dim-sized centroid update aggregate.

Determinism contract (the correctness gate hashes values, and an
external DuckDB oracle must reproduce the run bit-for-bit):

- init = the vectors of the ``k`` smallest md5-of-id hashes — a
  deterministic uniform draw over the corpus (no RNG, no id-order
  pathology);
- assignment = argmin of squared L2 distance, ties broken by the lower
  centroid index;
- the centroid UPDATE quantizes vector elements to 6 decimals and sums
  them as DECIMAL(18,6) — exact and addition-order-free — then divides
  in double and rounds to 9 decimals. A raw double sum would be
  partition-order-dependent (fp addition is not associative), which
  breaks repeated-execution determinism *and* any cross-engine oracle;
- assignment distances are computed in double over the full-precision
  vector; distinct clusters are separated by O(1) while cross-engine
  fp summation noise is O(1e-13), so argmin is stable (documented
  residual risk: a pathological exact tie).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from etl_fuel_priceguide_ec2_spark.operators.util import mat_sql, plan_barrier


def sq_dists_sql(vec_text: str, mat_text: str) -> str:
    """The centroid-distance fold as SQL TEXT: ``transform`` over the
    matrix, ``(x - y) * (x - y)`` products, ``0.0D`` init, left-fold
    adds. Rendered as one parsed string because the Python HOF
    builders pay ~10 py4j round-trips per nested lambda: a 16-subspace
    PQ build makes 34 fold expressions and the gateway chatter alone
    measured ~1 s of warm-query wall. The equivalent lambda-HOF fold
    lives only in the bit-identity test, as the reference."""
    # lambda variables use collision-resistant names: a plain `c` would
    # CAPTURE any column named c referenced by vec_text (lambda scope
    # shadows columns — every distance silently becomes 0); names do
    # not affect the computed values. Reserved identifiers:
    # _sqd_c/_sqd_x/_sqd_y/_sqd_a/_sqd_e.
    # The reservation is ENFORCED, not just documented (ADVICE r13): a
    # caller whose vec_text references a column named like the lambda
    # variables would be silently captured — the exact hazard the
    # rename fixed for `c` — so collide loudly instead. Match the five
    # names as IDENTIFIERS (word boundaries), not as a substring: a
    # legitimate column like my_sqd_col is NOT captured by the lambda
    # scope and must not raise (code-review r14).
    import re as _re

    if _re.search(r"(?<![0-9A-Za-z_])_sqd_[cxyae](?![0-9A-Za-z_])", vec_text):
        raise ValueError(
            "sq_dists_sql: vec_text references a reserved '_sqd_*' "
            f"identifier (lambda scope would capture it): {vec_text!r}"
        )
    return (
        f"transform({mat_text}, _sqd_c -> aggregate("
        f"zip_with({vec_text}, _sqd_c, "
        "(_sqd_x, _sqd_y) -> (_sqd_x - _sqd_y) * (_sqd_x - _sqd_y)), "
        "0.0D, (_sqd_a, _sqd_e) -> _sqd_a + _sqd_e))"
    )


def residual_sql(vec_text: str, idx_text: str, mat_text: str) -> str:
    """``vec - mat[idx]`` as SQL TEXT: the vector minus the matrix row
    that ``idx_text`` (a 1-based INT expression, typically the own-cell
    argmin) selects — the ONE definition of the IVF residual used by
    the residual PQ fit/encode/search and the two-level codebooks.
    Callers pass their index expression verbatim so each site keeps
    its tuned plan; ``vec_text`` and ``idx_text`` sit outside the
    ``_rsd_*`` lambda, so they cannot be captured by it."""
    return (
        f"zip_with({vec_text}, element_at({mat_text}, {idx_text}), "
        "(_rsd_x, _rsd_y) -> _rsd_x - _rsd_y)"
    )


def sq_dists_expr(vec_text: str, mat) -> Column:
    """Per-centroid squared-L2 distances of the vector expression
    ``vec_text`` (a resolvable column name or SQL expression) against
    the matrix ``mat`` (any sequence of row sequences — list, tuple,
    numpy array), as ONE HOF expression (transform over the codebook,
    zip_with + left fold inside — whole-stage codegen, no shuffle)
    built by ONE ``F.expr`` parse of :func:`sq_dists_sql`. The single
    shared centroid-distance fold: ``_assign``, the fused PQ fit, and
    the PQ encode/search all use it, so a rounding- or fold-order
    change can never diverge them (code-review r13)."""
    return F.expr(sq_dists_sql(vec_text, mat_sql(mat)))


def ranked_probe_cells_sql(dists_text: str, cells: int, nprobe: int) -> str:
    """The ONE definition of IVF probe-cell ranking (ADVICE r15), as SQL
    TEXT: given ``dists_text``, a per-row array of ``cells`` squared
    distances, the ``nprobe`` nearest cell ids as ``array<bigint>``,
    ranked ascending with ties to the LOWER cell id. Every consumer of
    the probe set — ``topk_ivf_pq``'s SQL search, ``cosine_topk_ivf_sq8``,
    ``cosine_topk_ivf2_sq8``'s per-level probes,
    ``semantic_dedup_pairs_two_level``'s block probes, and the
    serving-layer ``probe_cells`` relation that
    ``prune_codes_to_probed_cells`` /
    ``ann_query_stream(prune_cells=True)`` act on — MUST fold this
    expression, never a re-derivation: if ranking ever diverged (fold
    order, tiebreak, cast), pruning would silently drop cells the
    search actually probes and return wrong results instead of
    erroring. ``dists_text`` sits outside the ``_rpc_*`` lambdas, so
    they cannot capture it."""
    return (
        f"transform(slice(array_sort(zip_with({dists_text}, "
        f"sequence(0, {cells - 1}), "
        "(_rpc_d, _rpc_i) -> struct(_rpc_d AS d, _rpc_i AS cid))), "
        f"1, {nprobe}), _rpc_s -> CAST(_rpc_s.cid AS BIGINT))"
    )


def ranked_probe_cells(dists_text: str, cells: int, nprobe: int) -> Column:
    """:func:`ranked_probe_cells_sql` as a Column (one ``F.expr`` parse)."""
    return F.expr(ranked_probe_cells_sql(dists_text, cells, nprobe))


def _fit_sample(base: DataFrame, id_col: str, fit_fraction: float) -> DataFrame:
    """Deterministic md5-hash sample of the corpus for codebook
    training (same 60-bit-hash bucketing as operators/sampling.py, so
    membership is partition-, order- and engine-independent and a SQL
    oracle can replay the identical predicate). fit_fraction=1 is a
    no-op; fractions are thresholded on 10_000 buckets."""
    if not 0 < fit_fraction <= 1:
        raise ValueError(f"fit_fraction must be in (0, 1], got {fit_fraction}")
    if fit_fraction == 1.0:
        return base
    ticks = fit_fraction * 10_000
    if abs(ticks - round(ticks)) > 1e-9:
        raise ValueError(f"fit_fraction {fit_fraction} is not a multiple of 1/10000")
    h = F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 15), 16, 10).cast(
        "long"
    )
    return base.filter((h % 10_000) < int(round(ticks)))


def _assign(df: DataFrame, id_col: str, centroids: list[list[float]]) -> DataFrame:
    """Add ``cluster_id`` / ``sq_dist`` columns: nearest centroid by
    squared L2, computed as a JVM-side fold (zip_with + aggregate) per
    centroid — whole-stage-codegen friendly, no shuffle."""
    # ONE nested array literal, not k*dim Literal nodes: the nested
    # expression tree made Janino compile multi-second generated code
    # per job (measured — the k-means fit was codegen-bound, not
    # data-bound); a single constant keeps codegen flat
    dists = sq_dists_expr("_v", centroids)
    return (
        df.withColumn("_d", dists)
        .withColumn("sq_dist", F.array_min("_d"))
        # ties break to the LOWER centroid index (array_position returns
        # the first match) — mirrored in the oracle's (dist, cid) sort
        .withColumn("cluster_id", (F.array_position("_d", F.col("sq_dist")) - 1).cast("long"))
        .drop("_d")
    )


def _fit_centroids(
    base: DataFrame, id_col: str, k: int, iters: int
) -> list[list[float]]:
    """Run the deterministic Lloyd's iterations; returns the final
    centroid matrix. The k x dim doubles are the ONLY data that touch
    the driver — at 100 TB the per-iteration cost is one scan + one
    (cluster, position)-keyed aggregate of k*dim cells.

    NOT persisted: a same-session A/B at sf0.1 measured persist() of the
    working set 1.1-1.3x SLOWER than recomputing the scan per action
    (materialization barrier + cache write beat the trivial re-scan —
    the same recompute-beats-cache result as the minhash shingle
    subplan, NOTES.md round 1). On a 100 TB corpus where the scan
    dominates, callers should persist/checkpoint the projected (id,
    vector) relation BEFORE calling fit."""
    # init = the k smallest md5-of-id values: a deterministic uniform
    # draw over the corpus. Lowest-id init was measured pathological on
    # id-correlated data (a 5x-replicated corpus put every centroid in
    # replica 0, whole clouds collapsed into one block and the blocked
    # pair search went quadratic, 2.7s -> 32s); real corpora correlate
    # ids with source/time the same way. Hash order is engine-portable
    # (same expression exists in DuckDB), so oracles replay it exactly.
    h = F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 15), 16, 10).cast(
        "long"
    )
    init_rows = base.orderBy(h.asc(), F.col(id_col).asc()).limit(k).collect()
    if not init_rows:
        return []  # empty input: no centroids; callers emit empty results
    centroids = [list(r["_v"]) for r in init_rows]
    dim = len(centroids[0])  # one collect serves init AND dim — no extra job

    for _ in range(iters):
        assigned = _assign(base, id_col, centroids)
        # quantize elements to 6dp, sum as DECIMAL (exact, order-free),
        # divide in double, round to 9dp — the cross-engine-stable mean
        upd = (
            assigned.select("cluster_id", F.posexplode("_v").alias("pos", "x"))
            .groupBy("cluster_id", "pos")
            .agg(
                (
                    F.sum(F.round(F.col("x"), 6).cast("decimal(18,6)")).cast("double")
                    / F.count(F.lit(1))
                ).alias("m")
            )
            .withColumn("m", F.round("m", 9))
            .collect()
        )
        new_cent = {cid: [0.0] * dim for cid in {r["cluster_id"] for r in upd}}
        for r in upd:
            new_cent[r["cluster_id"]][r["pos"]] = r["m"]
        # empty clusters keep their previous centroid (mirrored by the
        # oracle's LEFT JOIN + COALESCE). range over the ACTUAL centroid
        # count: with 0 < n_rows < k the init collect returns only n
        # centroids, and indexing range(k) would raise (dict.get
        # evaluates its default eagerly). Callers must likewise size
        # downstream block math from len(result), not the k parameter.
        centroids = [new_cent.get(i, centroids[i]) for i in range(len(centroids))]
    return centroids


def fit_centroids(
    df: DataFrame, id_col: str, vec_col: str, k: int = 8, iters: int = 2
) -> list[list[float]]:
    """Public codebook fit: the deterministic Lloyd's iterations over
    ``vec_col``, returning the k x dim centroid matrix. Fit once per
    corpus at ingest (the catalog pattern — same amortization as
    ``dedup.corpus_skew_stats``) and pass the result to
    ``kmeans_assign`` / ``semantic_dedup_pairs`` via ``centroids=`` so
    repeated queries over one corpus skip the ~iters full scans +
    driver actions each. The matrix is tiny (k*dim doubles) and
    engine-portable — oracles replay the identical fit in SQL."""
    base = df.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v"))
    return _fit_centroids(base, id_col, k, iters)


def fit_pq_codebooks(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    m: int,
    ks: int,
    iters: int = 2,
    residuals_of: list[list[float]] | None = None,
) -> list[list[list[float]]]:
    """All ``m`` per-subspace PQ codebooks fitted in ONE pass per
    Lloyd's step instead of m independent ``fit_centroids`` runs:
    every subspace's argmin assignment is one more HOF expression over
    the SAME corpus scan, and all m updates merge in one
    (subspace, cluster, position)-keyed aggregate (m*ks*(dim/m) cells
    total). Per-subspace results are BIT-IDENTICAL to the independent
    fits (test-pinned): the init rows are the same k smallest
    md5-of-id vectors for every subspace, assignments use the same
    argmin/lower-index tie rule, and the update's quantize-to-6dp
    DECIMAL sums are order-free — fusing the scans changes job count,
    never arithmetic. At 100 TB this is the difference between m+1
    corpus scans per iteration and ONE.

    ``residuals_of``: a coarse codebook — fit the sub-codebooks over
    RESIDUALS (v - own-cell centroid) instead of raw vectors, the
    classical FAISS IVF,PQ refinement (tighter codebooks because the
    coarse layer has already absorbed the between-cell variance;
    reconstruction-error improvement pinned by test). The residual is
    one more map expression on the same scan — the fit's shape is
    unchanged."""
    if m < 1 or ks < 1 or iters < 1:
        raise ValueError(f"m, ks, iters must be >= 1 (got {m}, {ks}, {iters})")
    base = df.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v"))
    if residuals_of is not None:
        mt = mat_sql(residuals_of)
        cd = sq_dists_sql("_v", mt)
        own = f"CAST(array_position({cd}, array_min({cd})) AS INT)"
        base = plan_barrier(base.select(
            F.col(id_col), F.expr(residual_sql("_v", own, mt)).alias("_v")
        ))
    h = F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 15), 16, 10).cast(
        "long"
    )
    init_rows = base.orderBy(h.asc(), F.col(id_col).asc()).limit(ks).collect()
    if not init_rows:
        return [[] for _ in range(m)]
    dim = len(init_rows[0]["_v"])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible into {m} subspaces")
    sub = dim // m
    books = [
        [list(r["_v"])[s * sub : (s + 1) * sub] for r in init_rows]
        for s in range(m)
    ]
    # NOTE: the per-subspace distance lambda must take exactly ONE
    # parameter — pyspark's HOF helpers treat a second lambda parameter
    # as the ELEMENT INDEX, so smuggling the subspace id in via a
    # default argument silently rebinds it per centroid (found the hard
    # way: every assignment mismatched the independent fits). A factory
    # function closes over the subspace instead.
    def _argmin(s, book):
        sd = sq_dists_expr(f"slice(_v, {s * sub + 1}, {sub})", book)
        return (F.array_position(sd, F.array_min(sd)) - 1).cast("long")

    for _ in range(iters):
        assigns = [_argmin(s, books[s]) for s in range(m)]
        # plan_barrier stops the Generate/aggregate stages from
        # re-expanding the m assignment folds into every exploded
        # element reference
        assigned = plan_barrier(base.select(
            F.array(*assigns).alias("_cs"),
            F.col("_v"),
        ))
        upd = (
            assigned.select(
                F.col("_cs"),
                F.posexplode("_v").alias("_pos", "_x"),
            )
            .select(
                (F.col("_pos") / sub).cast("long").alias("_s"),
                (F.col("_pos") % sub).alias("_lpos"),
                F.element_at(
                    "_cs", (F.col("_pos") / sub).cast("int") + 1
                ).alias("_cid"),
                F.col("_x"),
            )
            .groupBy("_s", "_cid", "_lpos")
            .agg(
                (
                    F.sum(F.round(F.col("_x"), 6).cast("decimal(18,6)")).cast(
                        "double"
                    )
                    / F.count(F.lit(1))
                ).alias("_m")
            )
            .withColumn("_m", F.round("_m", 9))
            .collect()
        )
        new_books = [
            [list(c) for c in cb] for cb in books
        ]  # empty clusters keep previous centroids
        seen = {(r["_s"], r["_cid"]) for r in upd}
        for s, cid in seen:
            new_books[s][cid] = [0.0] * sub
        for r in upd:
            new_books[r["_s"]][r["_cid"]][r["_lpos"]] = r["_m"]
        books = new_books
    return books


def kmeans_assign(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    iters: int = 2,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """Deterministic Lloyd's k-means; returns (id, cluster_id, sq_dist
    rounded to 6). ``iters`` full assign+update cycles, then a final
    assignment against the last centroids.

    Sizing ``k`` for blocked pair search: choose k ~ sqrt(n) — it
    balances the O(n*k) assignment against the O(n^2/k) per-block
    self-join at n^1.5 each; both mis-sizings were measured quadratic
    (docs/SCALE.md, vector scaling study). Raise ``probes`` alongside k
    (finer blocks lose more straddling pairs); at extreme scale prefer
    a two-level coarse-then-fine quantizer over one giant flat k.

    ``centroids``: a pre-fitted codebook (``fit_centroids``) skips the
    fit entirely — the per-corpus amortization path."""
    base = df.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v")
    )
    if centroids is None:
        centroids = _fit_centroids(base, id_col, k, iters)
    if not centroids:  # empty input: empty result, stable schema
        return base.select(
            id_col,
            F.lit(None).cast("long").alias("cluster_id"),
            F.lit(None).cast("double").alias("sq_dist"),
        )
    return (
        _assign(base, id_col, centroids)
        .select(id_col, "cluster_id", F.round("sq_dist", 6).alias("sq_dist"))
    )


def semantic_dedup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    iters: int = 2,
    threshold: float = 0.15,
    probes: int = 2,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """Semantic near-dup pairs: k-means block, then pair search ONLY
    within shared blocks (each block self-join is |block|^2 instead of
    n^2 — the clustering IS the blocking structure).

    Multi-probe blocking: each vector is indexed under its ``probes``
    nearest centroids, and a pair materializes if the two share ANY
    probed block — the standard IVF recall lever for clusters that
    overlap (single-assignment blocking loses near pairs that straddle
    a centroid boundary; measured 0.30 -> ~0.8 recall on the fixture
    at probes=2). Cost scales linearly in ``probes``, never O(n^2).

    ``centroids``: a pre-fitted codebook (``fit_centroids``) skips the
    fit entirely — the per-corpus amortization path."""
    base = df.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v")
    )
    if centroids is None:
        centroids = _fit_centroids(base, id_col, k, iters)
    if not centroids:  # empty input: empty result, stable schema
        return base.select(
            F.col(id_col).alias("id_a"),
            F.col(id_col).alias("id_b"),
            F.lit(None).cast("double").alias("sq_dist"),
        ).filter(F.lit(False))
    # inputs smaller than k yield fewer centroids; all block math below
    # must use the actual count or sequence/zip_with would null-pad and
    # mint phantom block ids
    k = len(centroids)
    # ONE nested array literal, not k*dim Literal nodes: the nested
    # expression tree made Janino compile multi-second generated code
    # per job (measured — the k-means fit was codegen-bound, not
    # data-bound); a single constant keeps codegen flat
    dists = sq_dists_expr("_v", centroids)
    ranked = F.array_sort(
        F.zip_with(
            dists,
            F.sequence(F.lit(0), F.lit(k - 1)),
            lambda d, i: F.struct(d.alias("d"), i.alias("cid")),
        )
    )
    probed = base.withColumn(
        "block",
        F.explode(
            F.transform(F.slice(ranked, 1, probes), lambda s: s["cid"].cast("long"))
        ),
    )
    left = probed.select(
        F.col(id_col).alias("id_a"), "block", F.col("_v").alias("va")
    )
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


def semantic_contamination_pairs(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    iters: int = 2,
    threshold: float = 0.15,
    probes: int = 2,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """Embedding-space train-vs-eval contamination: find training rows
    whose vectors are near an evaluation/benchmark vector — catches
    PARAPHRASED benchmark leakage that n-gram-exact contamination
    checks (textops.contamination_check) miss by construction.

    Shape follows IVF search, sized for the asymmetry (train is the
    100 TB side, eval is small): fit k-means on the EVAL side only, index
    each eval vector under its PRIMARY cell, probe each train vector
    under its ``probes`` nearest cells, and score only within shared
    cells. The train side is scanned once, assigned with a broadcast
    k x dim literal (JVM-side fold, no shuffle of vectors beyond the
    cell-keyed candidate join), and never self-joined; the fit cost is
    bounded by the eval set's size.

    Returns (train_id, eval_id, sq_dist) for pairs at squared L2 <=
    ``threshold``. Multi-probing the train side (not the index side)
    keeps the index one-cell-per-eval-row while recovering straddling
    pairs — the standard IVF recall lever.

    ``centroids``: a pre-fitted eval-side codebook skips the Lloyd's
    fit — the per-corpus amortization every other clustering operator
    exposes (deterministic fit, so caching changes cost, never
    results)."""
    tbase = train.select(
        F.col(id_col).alias("train_id"), F.col(vec_col).cast("array<double>").alias("_v")
    )
    ebase = eval_df.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v")
    )
    if centroids is None:
        centroids = _fit_centroids(ebase, id_col, k, iters)
    if not centroids:  # empty eval set: nothing can be contaminated
        return tbase.select(
            F.col("train_id"),
            F.col("train_id").alias("eval_id"),
            F.lit(None).cast("double").alias("sq_dist"),
        ).filter(F.lit(False))
    k = len(centroids)  # eval sets smaller than k clamp the codebook
    _dists = sq_dists_expr  # the shared fold (string fast path)

    # eval index: PRIMARY cell only (ties to the lower centroid index)
    ed = _dists("_v", centroids)
    eidx = ebase.select(
        F.col(id_col).alias("eval_id"),
        F.col("_v").alias("ev"),
        (F.array_position(ed, F.array_min(ed)) - 1).cast("long").alias("cell"),
    )
    # train probe: the `probes` nearest cells
    td = _dists("_v", centroids)
    ranked = F.array_sort(
        F.zip_with(
            td,
            F.sequence(F.lit(0), F.lit(k - 1)),
            lambda d, i: F.struct(d.alias("d"), i.alias("cid")),
        )
    )
    tprobe = tbase.withColumn(
        "cell",
        F.explode(
            F.transform(F.slice(ranked, 1, probes), lambda s: s["cid"].cast("long"))
        ),
    )
    return (
        tprobe.join(F.broadcast(eidx), "cell")
        .withColumn(
            "sq_dist",
            F.aggregate(
                F.zip_with("_v", "ev", lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, d: acc + d,
            ),
        )
        .filter(F.col("sq_dist") <= threshold)
        .select("train_id", "eval_id", F.round("sq_dist", 6).alias("sq_dist"))
        .dropDuplicates(["train_id", "eval_id"])
    )


def fit_two_level_codebooks(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k1: int = 8,
    k2: int = 8,
    iters: int = 2,
    fit_fraction: float = 1.0,
) -> tuple[list[list[float]], list[list[float]]]:
    """Fit the (coarse, residual) codebook pair used by
    ``semantic_dedup_pairs_two_level`` — split out so a corpus can fit
    ONCE at ingest and reuse the pair across queries (the same
    amortization as ``fit_centroids``). Residuals are taken against the
    primary coarse cell, exactly as the pair search does."""
    base = df.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v"))
    c1 = _fit_centroids(
        _fit_sample(base, id_col, fit_fraction), id_col, k1, iters
    ) or _fit_centroids(base, id_col, k1, iters)
    if not c1:
        return [], []
    m1 = mat_sql(c1)
    d1 = sq_dists_sql("_v", m1)
    own = f"CAST(array_position({d1}, array_min({d1})) - 1 AS INT) + 1"
    resid_df = base.select(
        F.col(id_col), F.expr(residual_sql("_v", own, m1)).alias("_v")
    )
    c2 = _fit_centroids(
        _fit_sample(resid_df, id_col, fit_fraction), id_col, k2, iters
    ) or _fit_centroids(resid_df, id_col, k2, iters)
    return c1, c2


def semantic_dedup_pairs_two_level(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k1: int = 8,
    k2: int = 8,
    iters: int = 2,
    threshold: float = 0.15,
    probes: int = 2,
    fit_fraction: float = 1.0,
    codebooks: tuple[list[list[float]], list[list[float]]] | None = None,
) -> DataFrame:
    """Two-level blocked semantic pairs — the flat-k replacement at
    extreme scale (docs/SCALE.md: one flat k must be ~sqrt(n), which at
    10^10 vectors means 10^5 centroids and an O(n*k) assignment; two
    levels of ~n^(1/3) each cut assignment to O(n*(k1+k2)) while the
    block count k1*k2 keeps blocks small).

    Level 1: Lloyd's over the vectors (coarse cells). Level 2: Lloyd's
    over the RESIDUALS v - c1(v) with one shared codebook (the IVF-PQ
    coarse/fine split, minus the compression). Block key = (coarse
    cell, residual cell); candidates must share BOTH, multi-probed on
    each level (probes^2 block memberships per vector). Residuals are
    always taken against the PRIMARY coarse cell — the standard IVF
    approximation — so a pair straddling two coarse cells is found via
    the coarse probe, not a recomputed residual.

    ``fit_fraction`` bounds the Lloyd's FIT input (VERDICT r03): both
    codebooks train on a deterministic md5-hash sample of the corpus
    (the standard IVF-PQ recipe — codebooks need a representative
    sample, not the population), and only the single assignment pass
    touches every row. At 100 TB this turns ~2*iters full-corpus scans
    + driver actions into sample-sized ones; cap the sample near
    c*k*dim rows (c ~ 100). The md5 predicate is engine-portable, so
    oracles replay the identical sample. Rows-smaller-than-the-sample
    edge: if the sample is empty while the corpus is not, the fit falls
    back to the full corpus (oracles with fixed data never hit this)."""
    base = df.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v")
    )
    # ``codebooks``: a pre-fitted (coarse, residual) pair from
    # fit_two_level_codebooks skips BOTH fits — the per-corpus
    # amortization path. Otherwise fit here; the tiny-input fallback
    # inside the fit helper keeps an empty SAMPLE from turning a
    # non-empty corpus into "no centroids".
    if codebooks is None:
        codebooks = fit_two_level_codebooks(
            df, id_col, vec_col, k1=k1, k2=k2, iters=iters, fit_fraction=fit_fraction
        )
    c1, c2 = codebooks
    if not c1:
        return base.select(
            F.col(id_col).alias("id_a"),
            F.col(id_col).alias("id_b"),
            F.lit(None).cast("double").alias("sq_dist"),
        ).filter(F.lit(False))
    k1 = len(c1)  # inputs smaller than k1 yield fewer centroids
    # The coarse distance array is carried as an explicit _d1 column:
    # it feeds BOTH the residual's primary-cell lookup and the level-1
    # probe ranking, and an expensive alias referenced more than once
    # is exactly what CollapseProject refuses to inline — so the
    # O(k1·d) fold evaluates once per row instead of twice (r17).
    d1 = sq_dists_expr("_v", c1)
    resid = F.expr(residual_sql(
        "_v",
        "CAST(array_position(_d1, array_min(_d1)) - 1 AS INT) + 1",
        mat_sql(c1),
    ))
    k2 = len(c2)  # same clamp on the residual codebook

    # NB: no expression barrier here, unlike similarity.py's IVF2
    # corpus side — a same-session A/B measured the barrier 1.3x
    # SLOWER on this shape (4.55 vs 3.3-3.6 s at sf0.1): blocking
    # CollapseProject also blocks column pruning into the self-join
    # branches, so the right branch would carry the 64-double vectors
    # it otherwise drops. Barrier only where re-expansion dominates.
    #
    # r17 (VERDICT r16 item 6 — run the coarse distance work once):
    # _d1 is an explicit column feeding BOTH the residual's
    # primary-cell lookup and the level-1 probe ranking; an expensive
    # alias referenced twice is exactly what CollapseProject refuses
    # to inline, so the O(k1·d) fold evaluates once per row instead of
    # twice. A/B (tools/ab_round17_twolevel.py variants): 3.11 -> 2.60 s
    # min-of-5 at sf0.1, identical 521 pairs. The chained explodes are
    # deliberately KEPT: pre-computing the level-2 probe array _b2s
    # below the level-1 Generate — the "obvious" next step — measured
    # 3x SLOWER (9.7 s min-of-5): the un-inlined array columns ride
    # into both self-join branches and defeat the pruning the NB above
    # warns about.
    probed = (
        base.withColumn("_d1", d1)
        .withColumn("_resid", resid)
        .withColumn("_b1", F.explode(ranked_probe_cells("_d1", k1, probes)))
        .withColumn(
            "_b2",
            F.explode(ranked_probe_cells(
                sq_dists_sql("_resid", mat_sql(c2)), k2, probes
            )),
        )
        .withColumn("block", F.col("_b1") * k2 + F.col("_b2"))
    )
    # Plan note (round-12 profile): carrying va through the candidate
    # dedup was A/B'd against the "pure" id-only shuffle (dedupe bare
    # (id_a, id_b), then join BOTH vectors back by id) in one warm
    # session at sf0.1 — the id-only shape measured 1.6x SLOWER (3.1 vs
    # 1.95 s, value-identical): at fixture scale the two extra join
    # rounds cost more than shuffling 64 doubles per candidate. At
    # 100 TB the trade flips (candidates x payload dwarfs two id-keyed
    # exchanges) — that id-only rewrite is the scale form, switch when
    # the pair volume, not the join count, dominates.
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
