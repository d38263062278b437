"""Second-moment statistics and PCA over embedding columns.

Not in the reference (a row-store ETL, ``index.js``); mandated by the
LLM-data-pipeline extension tier: covariance/PCA is the standard
embedding-space diagnostic (anisotropy, whitening, dimension collapse)
and the cheapest projection for visual triage of a corpus.

Design for 100 TB:

- the covariance aggregate is ZERO-JOIN: each task folds its rows'
  upper-triangle outer products into ONE d(d+1)/2-row integer-microunit
  partial (Arrow-batched mapInPandas, numpy-vectorized — see
  ``embedding_second_moment_state`` for the exactness contract vs the
  previous per-row JVM explode, which it replaced at a measured 2.1x)
  — the shuffle carries at most d(d+1)/2 rows PER TASK, and the result
  relation is d(d+1)/2 rows total (2 080 at d=64) no matter the corpus
  size;
- PCA follows the k-means/codebook pattern (clustering.py): the only
  driver-side state is the d x d covariance (a sanctioned k-row
  collect), the power iteration runs on the driver in integer
  microunits, and the resulting component broadcasts back as a
  literal for a map-only projection pass.

Determinism contract (same as clustering.py): every cross-row sum
quantizes its terms (ROUND to a fixed scale, exact DECIMAL
accumulation) so results are addition-order-free and an external
DuckDB oracle replays them bit-for-bit; single-expression double
arithmetic on identical inputs (casts, products, sqrt, divisions) is
IEEE-identical in both engines. The power iteration quantizes the
vector to 9 decimals after every normalization, so cross-engine drift
is crushed each step instead of compounding.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_fuel_priceguide_ec2_spark.operators.util import fan_out, vec_lit

_SUM_DEC = "decimal(30,12)"
# Merge/partial width: decimal(38,12). Individual 12dp TERMS cap at
# _SUM_DEC (matching the explode idiom), but anything that is already a
# SUM — a mapInPandas per-task partial, or a persisted state row being
# re-merged — carries Spark's widened SUM type (decimal(38,12)); casting
# it back down to (30,12) at the merge would overflow (NULL) at ~1e18
# where the original single-pass SUM was still exact (ADVICE r11).
_SUM_DEC_WIDE = "decimal(38,12)"


def _q12(x: float) -> int:
    """Quantize a double to integer 1e-12 microunits, half away from
    zero — the driver-side mirror of ``ROUND(x, 12)`` + exact DECIMAL
    accumulation (Decimal(x) is the exact binary value, so this rounds
    the true double, not a reprint)."""
    return int(
        (Decimal(x) * (10**12)).quantize(Decimal(1), rounding=ROUND_HALF_UP)
    )


def _r9(x: float) -> float:
    """ROUND(x, 9) with the engines' half-away-from-zero semantics —
    Python's builtin ``round`` is half-even and would diverge on exact
    .5e-9 boundaries."""
    return float(
        (Decimal(x) * (10**9)).quantize(Decimal(1), rounding=ROUND_HALF_UP)
    ) / 1e9


def embedding_covariance(
    df: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """Population covariance matrix of the vector column, upper
    triangle: (dim_i, dim_j, cov) with 1-based dims, i <= j,
    cov = (S_ij - S_i * S_j / n) / n and every S a DECIMAL-exact sum
    of 9dp-quantized terms. One scan, zero joins against the corpus:
    the per-row outer product explodes into a map-side-combined
    aggregate, so the exchange carries d(d+1)/2 rows per task.

    Composed from the moment-state pieces (ONE implementation of the
    quantized aggregates and the final covariance arithmetic — the
    from-state == from-scratch bit-identity is test-pinned, so the
    composition is exact by construction): the extra groupBy-SUM merge
    runs over the d(d+1)/2-row state, not the corpus. fan_out inside
    the state builders spreads the CPU-bound explode when the scan
    yields fewer splits than cores (single-file fixtures ran the whole
    outer-product on ONE core: 16.8 -> ~2 s at sf0.1); safe because
    every sum is decimal order-free."""
    return embedding_covariance_from_state(
        embedding_second_moment_state(df, id_col, vec_col),
        embedding_first_moment_state(df, id_col, vec_col),
    )


def covariance_oracle_sql(table: str, vec_col: str) -> str:
    """DuckDB replay of ``embedding_covariance`` — same 9dp product
    quantization, DECIMAL accumulation, and final double arithmetic."""
    return f"""
    WITH vv AS (
      SELECT list_transform({vec_col}, x -> CAST(x AS DOUBLE)) AS v
      FROM {table}
    ), pp AS (
      SELECT i.i AS i, j.j AS j,
             CAST(ROUND(v[i.i] * v[j.j], 9) AS DECIMAL(30,12)) AS p
      FROM vv
      CROSS JOIN unnest(generate_series(1, len(v))) AS i(i)
      CROSS JOIN unnest(generate_series(1, len(v))) AS j(j)
      WHERE j.j >= i.i
    ), sij AS (
      SELECT i, j, SUM(p) AS s_ij FROM pp GROUP BY i, j
    ), si AS (
      SELECT i.i AS i,
             SUM(CAST(ROUND(v[i.i], 9) AS DECIMAL(30,12))) AS s,
             COUNT(*) AS n
      FROM vv CROSS JOIN unnest(generate_series(1, len(v))) AS i(i)
      GROUP BY i.i
    )
    SELECT CAST(sij.i AS BIGINT) AS dim_i,
           CAST(sij.j AS BIGINT) AS dim_j,
           ROUND((CAST(s_ij AS DOUBLE)
                  - CAST(a.s AS DOUBLE) * CAST(b.s AS DOUBLE) / a.n) / a.n,
                 6) + 0.0 AS cov
    FROM sij JOIN si a ON sij.i = a.i JOIN si b ON sij.j = b.i
"""


def _power_iterate(
    cov: dict[tuple[int, int], float], dim: int, iters: int
) -> list[float]:
    """Driver-side power iteration in the portable arithmetic: every
    matvec/norm sum accumulates 12dp-quantized products in exact
    integer microunits, every normalized vector re-quantizes to 9dp —
    step-for-step identical to the oracle's unrolled CTE chain."""
    import math

    v = [_r9(1.0 / math.sqrt(dim))] * dim
    for _ in range(iters):
        y = []
        for r in range(1, dim + 1):
            acc = 0
            for c in range(1, dim + 1):
                m = cov[(r, c)] if r <= c else cov[(c, r)]
                acc += _q12(m * v[c - 1])
            y.append(acc / 1e12)
        nrm = math.sqrt(sum(_q12(x * x) for x in y) / 1e12)
        v = [_r9(x / nrm) for x in y]
    return v


def pca_top_component_scores(
    df: DataFrame, id_col: str, vec_col: str, iters: int = 8
) -> DataFrame:
    """First-principal-component score per vector: (id, pc1) with
    pc1 = <v1, x - mean>, v1 the dominant eigenvector of the
    population covariance found by ``iters`` power iterations.

    The covariance (d(d+1)/2 rows) and per-dim means are the ONLY data
    that touch the driver; the iteration runs there in integer
    microunits (see ``_power_iterate``) and v1 + means broadcast back
    as array literals for a single map-only projection — at 100 TB the
    corpus is scanned twice (covariance, projection) and never
    shuffled beyond the d(d+1)/2-row aggregate.

    Sign convention: the all-positive uniform init fixes the
    eigenvector sign deterministically (both engines run the identical
    iteration), so scores are reproducible — no eigensolver sign
    ambiguity."""
    if iters < 1:
        raise ValueError(f"pca requires iters >= 1, got {iters}")
    cov_rows = embedding_covariance(df, id_col, vec_col).collect()
    if not cov_rows:
        return df.select(
            F.col(id_col), F.lit(None).cast("double").alias("pc1")
        ).limit(0)
    cov = {(r["dim_i"], r["dim_j"]): r["cov"] for r in cov_rows}
    dim = max(j for _, j in cov)
    # means from the shared first-moment state (ONE implementation of
    # the quantized per-dim aggregate — code-review r10): identical
    # arithmetic, result order-free
    mean_rows = (
        embedding_first_moment_state(df, id_col, vec_col)
        .select(
            "dim_i",
            F.round(F.col("s").cast("double") / F.col("n"), 9).alias("m"),
        )
        .collect()
    )
    means = [0.0] * dim
    for r in mean_rows:
        means[r["dim_i"] - 1] = r["m"]
    v1 = _power_iterate(cov, dim, iters)

    vec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    centered = F.zip_with(vec, vec_lit(means), lambda x, m: x - m)
    terms = F.transform(
        F.zip_with(centered, vec_lit(v1), lambda x, w: F.round(x * w, 12)),
        lambda p: p.cast(_SUM_DEC),
    )
    # Decimal addition widens DECIMAL(30,12)+DECIMAL(30,12) to
    # DECIMAL(31,12); F.aggregate requires the merge lambda to return
    # the accumulator's exact type, so cast the sum back each step —
    # the same quantize-then-accumulate discipline groupBy-sum paths
    # get for free (VERDICT r09 item 1a).
    score = F.aggregate(
        terms,
        F.lit(0).cast(_SUM_DEC),
        lambda acc, p: (acc + p).cast(_SUM_DEC),
    )
    # `+ 0.0` canonicalizes IEEE -0.0 to +0.0 (identity for every other
    # value) so both engines emit one zero under the driver's repr-hash.
    return df.select(
        F.col(id_col),
        (F.round(score.cast("double"), 6) + F.lit(0.0)).alias("pc1"),
    )


def pca_oracle_sql(
    table: str, id_col: str, vec_col: str, dim: int, iters: int = 8
) -> str:
    """DuckDB replay of ``pca_top_component_scores``: the covariance
    CTEs (mirrored to a full matrix), ``iters`` unrolled
    matvec/normalize steps (AS MATERIALIZED — the HITS-oracle lesson:
    an un-materialized CTE diamond re-inlines the whole chain), then
    the centered projection with the same 12dp-quantized DECIMAL dot
    product."""
    import math

    v0 = _r9(1.0 / math.sqrt(dim))
    chain = [
        f"""vv AS MATERIALIZED (
      SELECT {id_col} AS vid,
             list_transform({vec_col}, x -> CAST(x AS DOUBLE)) AS v
      FROM {table}
    ), pp AS (
      SELECT i.i AS i, j.j AS j,
             CAST(ROUND(v[i.i] * v[j.j], 9) AS DECIMAL(30,12)) AS p
      FROM vv
      CROSS JOIN unnest(generate_series(1, len(v))) AS i(i)
      CROSS JOIN unnest(generate_series(1, len(v))) AS j(j)
      WHERE j.j >= i.i
    ), sij AS (
      SELECT i, j, SUM(p) AS s_ij FROM pp GROUP BY i, j
    ), si AS MATERIALIZED (
      SELECT i.i AS i,
             SUM(CAST(ROUND(v[i.i], 9) AS DECIMAL(30,12))) AS s,
             COUNT(*) AS n
      FROM vv CROSS JOIN unnest(generate_series(1, len(v))) AS i(i)
      GROUP BY i.i
    ), ut AS (
      SELECT sij.i, sij.j,
             ROUND((CAST(s_ij AS DOUBLE)
                    - CAST(a.s AS DOUBLE) * CAST(b.s AS DOUBLE) / a.n) / a.n,
                   6) AS cov
      FROM sij JOIN si a ON sij.i = a.i JOIN si b ON sij.j = b.i
    ), m AS MATERIALIZED (
      SELECT i AS r, j AS c, cov FROM ut
      UNION ALL
      SELECT j, i, cov FROM ut WHERE i <> j
    ), means AS MATERIALIZED (
      SELECT i, ROUND(CAST(s AS DOUBLE) / n, 9) AS mu FROM si
    ), v0 AS (
      SELECT i.i AS r, CAST({v0!r} AS DOUBLE) AS x
      FROM (SELECT UNNEST(generate_series(1, {dim})) AS i) i
    )"""
    ]
    prev = "v0"
    for t in range(1, iters + 1):
        chain.append(
            f"""y{t} AS MATERIALIZED (
      SELECT m.r,
             CAST(SUM(CAST(ROUND(m.cov * v.x, 12) AS DECIMAL(30,12)))
                  AS DOUBLE) AS y
      FROM m JOIN {prev} v ON m.c = v.r
      GROUP BY m.r
    ), n{t} AS (
      SELECT sqrt(CAST(SUM(CAST(ROUND(y * y, 12) AS DECIMAL(30,12)))
                       AS DOUBLE)) AS nrm
      FROM y{t}
    ), v{t} AS MATERIALIZED (
      SELECT r, ROUND(y / nrm, 9) AS x FROM y{t}, n{t}
    )"""
        )
        prev = f"v{t}"
    return (
        "\n    WITH "
        + ",\n    ".join(chain)
        + f"""
    SELECT vv.vid AS {id_col},
           ROUND(CAST(SUM(CAST(ROUND((vv.v[w.r] - means.mu) * w.x, 12)
                               AS DECIMAL(30,12))) AS DOUBLE), 6) + 0.0 AS pc1
    FROM vv
    CROSS JOIN {prev} w
    JOIN means ON means.i = w.r
    GROUP BY vv.vid
"""
    )


# --- round-10 extension: top-k subspace via deflation + outlier gate ---


def _qd(x: float, s: int) -> int:
    """Quantize EXACTLY the way DuckDB's ``ROUND(x, s)`` +
    ``CAST(.. AS DECIMAL)`` does: multiply by 10^s IN DOUBLE (one IEEE
    rounding), then round the resulting double half away from zero.
    This differs from ``_q12``/``_r9`` (which round the exact binary
    value) on products that land within one ulp of a .5 boundary —
    measured: 0 mismatches vs DuckDB on 800k sampled doubles at scales
    9 and 12 INCLUDING the boundary product that separates the two
    models, vs rare boundary flips for the exact-value model. The
    deflation path must use this model: a single boundary flip in v1
    re-quantizes through the 9dp deflated matrix into 1e-9-scale
    divergence in v2 and visible 6dp score mismatches, where the
    single-component form's final ROUND(,6) masks it."""
    t = x * float(10**s)
    return int(Decimal(t).quantize(Decimal(1), rounding=ROUND_HALF_UP))


def _r9d(x: float) -> float:
    """DuckDB-exact ``ROUND(x, 9)`` (see ``_qd``)."""
    return _qd(x, 9) / 1e9


def _matvec_q12(m: list[list[float]], v: list[float], dim: int) -> list[float]:
    """y = M v with every term 12dp-quantized (DuckDB rounding model)
    and accumulated in exact integer microunits — the shared matvec of
    the power iteration, the Rayleigh quotient, and their oracle CTE
    replays."""
    out = []
    for r in range(dim):
        acc = 0
        for c in range(dim):
            acc += _qd(m[r][c] * v[c], 12)
        out.append(acc / 1e12)
    return out


def _power_iterate_full(
    m: list[list[float]], dim: int, iters: int, want_lambda: bool = True
) -> tuple[list[float], float | None]:
    """Power iteration on a FULL matrix — the same steps as
    ``_power_iterate`` but in the DuckDB-exact rounding model
    (``_qd``), because the deflation downstream AMPLIFIES the
    boundary-ulp differences the single-component form's final
    ROUND(,6) hides. Also returns the Rayleigh quotient
    lambda = <v, M v> of the converged vector, quantized the same way
    so the oracle replays it bit-for-bit."""
    import math

    v = [_r9d(1.0 / math.sqrt(dim))] * dim
    for _ in range(iters):
        y = _matvec_q12(m, v, dim)
        nrm = math.sqrt(sum(_qd(x * x, 12) for x in y) / 1e12)
        v = [_r9d(x / nrm) for x in y]
    if not want_lambda:
        # the final component's Rayleigh quotient and deflation are
        # never consumed — skip the two O(d^2) driver passes
        return v, None
    yf = _matvec_q12(m, v, dim)
    lam = sum(_qd(v[r] * yf[r], 12) for r in range(dim)) / 1e12
    return v, lam


def _deflate(
    m: list[list[float]], v: list[float], lam: float, dim: int
) -> list[list[float]]:
    """Hotelling deflation M' = M - lambda v v^T, every cell quantized
    back to 9dp (DuckDB rounding model). The three-factor product
    associates left — ``(lam * v_r) * v_c`` — and the oracle writes
    the same parenthesization, so the double arithmetic is
    IEEE-identical."""
    return [
        [_r9d(m[r][c] - lam * v[r] * v[c]) for c in range(dim)]
        for r in range(dim)
    ]


def _collect_cov_means(df: DataFrame, id_col: str, vec_col: str):
    """The two sanctioned driver-side collects shared by the PCA forms:
    the d x d covariance (from ``embedding_covariance``'s d(d+1)/2-row
    relation, mirrored to full) and the d per-dim means. Returns
    (matrix, means, dim), or ``()`` on an empty corpus — a falsy marker
    distinct from None so per-corpus caches can store the empty result
    and consumers (which treat ``cov_means=None`` as "collect here")
    don't re-scan an empty corpus on every call (ADVICE r12)."""
    cov_rows = embedding_covariance(df, id_col, vec_col).collect()
    if not cov_rows:
        return ()
    dim = max(r["dim_j"] for r in cov_rows)
    m = [[0.0] * dim for _ in range(dim)]
    for r in cov_rows:
        m[r["dim_i"] - 1][r["dim_j"] - 1] = r["cov"]
        m[r["dim_j"] - 1][r["dim_i"] - 1] = r["cov"]
    mean_rows = (
        embedding_first_moment_state(df, id_col, vec_col)
        .select(
            "dim_i",
            F.round(F.col("s").cast("double") / F.col("n"), 9).alias("m"),
        )
        .collect()
    )
    means = [0.0] * dim
    for r in mean_rows:
        means[r["dim_i"] - 1] = r["m"]
    return m, means, dim


def _fit_components(m, dim: int, n_components: int, iters: int):
    """The shared component-fitting loop (power iteration + Hotelling
    deflation, final deflation skipped): ONE implementation for the
    subspace-score and residual-score forms so a rounding-model or
    deflation change can never diverge them (code-review r10)."""
    comps = []
    for k in range(n_components):
        last = k == n_components - 1
        v, lam = _power_iterate_full(m, dim, iters, want_lambda=not last)
        comps.append(v)
        if not last:
            m = _deflate(m, v, lam, dim)
    return comps


def _dec_fold(terms):
    """Order-safe DECIMAL array fold (merge lambda cast back to the
    accumulator type — VERDICT r09 item 1a)."""
    return F.aggregate(
        terms,
        F.lit(0).cast(_SUM_DEC),
        lambda acc, p: (acc + p).cast(_SUM_DEC),
    )


def _pc_score_expr(centered, v):
    """One component's projection score: 12dp-quantized DECIMAL dot
    product against the broadcast component, rounded at 6dp with the
    -0.0 canonicalization — shared by both PCA query families."""
    terms = F.transform(
        F.zip_with(centered, vec_lit(v), lambda x, w: F.round(x * w, 12)),
        lambda p: p.cast(_SUM_DEC),
    )
    return F.round(_dec_fold(terms).cast("double"), 6) + F.lit(0.0)


def pca_component_scores(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_components: int = 2,
    iters: int = 8,
    cov_means: tuple | None = None,
) -> DataFrame:
    """Top-``n_components`` principal-component scores per vector:
    (id, pc1, ..., pcK) — the whitening/triage projection one step up
    from ``pca_top_component_scores``. Components come from repeated
    power iteration with Hotelling deflation (M <- M - lambda v v^T
    after each converged component), all on the driver in integer
    microunits under the DuckDB-exact rounding model (``_qd`` — the
    deflation amplifies boundary ulps the single-component form's
    output rounding hides); component 1 agrees with the
    single-component form to the 6dp output scale (bit-equal except
    on exact 6dp rounding boundaries of the two rounding models).

    Scale shape is unchanged from ``pca_top_component_scores``: the
    corpus is scanned twice (covariance aggregate, projection) and
    never shuffled beyond the d(d+1)/2-row relation; K map-only
    aggregate expressions share the one centered array. The K d-sized
    vectors broadcast as literals.

    Sign convention: the all-positive uniform init pins every
    component's sign deterministically (generic position: the deflated
    matrix keeps a nonzero projection onto the init)."""
    if n_components < 1:
        raise ValueError(f"pca requires n_components >= 1, got {n_components}")
    if iters < 1:
        raise ValueError(f"pca requires iters >= 1, got {iters}")
    # cov_means: a pre-collected (matrix, means, dim) triple — the
    # per-corpus amortization path (fit state is computed ONCE at
    # ingest and every consumer reuses it; the fit is deterministic,
    # so this changes cost, never results). None = collect here.
    got = cov_means if cov_means is not None else _collect_cov_means(
        df, id_col, vec_col
    )
    if not got:
        cols = [F.lit(None).cast("double").alias(f"pc{k}") for k in range(1, n_components + 1)]
        return df.select(F.col(id_col), *cols).limit(0)
    m, means, dim = got
    comps = _fit_components(m, dim, n_components, iters)
    vec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    centered = F.zip_with(vec, vec_lit(means), lambda x, mu: x - mu)
    outs = [
        _pc_score_expr(centered, v).alias(f"pc{k}")
        for k, v in enumerate(comps, start=1)
    ]
    return df.select(F.col(id_col), *outs)


def _cov_chain_head(table: str, id_col: str, vec_col: str) -> str:
    """Shared head CTEs (``vv`` .. ``mat0`` .. ``means``) of every
    oracle that replays driver-side fitting FROM the collected
    covariance — the PCA chains and the ZCA whitener. ONE text
    (no leading WITH, no trailing comma) so the covariance rounding
    model can never diverge between the consumers."""
    return f"""vv AS MATERIALIZED (
      SELECT {id_col} AS vid,
             list_transform({vec_col}, x -> CAST(x AS DOUBLE)) AS v
      FROM {table}
    ), pp AS (
      SELECT i.i AS i, j.j AS j,
             CAST(ROUND(v[i.i] * v[j.j], 9) AS DECIMAL(30,12)) AS p
      FROM vv
      CROSS JOIN unnest(generate_series(1, len(v))) AS i(i)
      CROSS JOIN unnest(generate_series(1, len(v))) AS j(j)
      WHERE j.j >= i.i
    ), sij AS (
      SELECT i, j, SUM(p) AS s_ij FROM pp GROUP BY i, j
    ), si AS MATERIALIZED (
      SELECT i.i AS i,
             SUM(CAST(ROUND(v[i.i], 9) AS DECIMAL(30,12))) AS s,
             COUNT(*) AS n
      FROM vv CROSS JOIN unnest(generate_series(1, len(v))) AS i(i)
      GROUP BY i.i
    ), ut AS (
      SELECT sij.i, sij.j,
             ROUND((CAST(s_ij AS DOUBLE)
                    - CAST(a.s AS DOUBLE) * CAST(b.s AS DOUBLE) / a.n) / a.n,
                   6) AS cov
      FROM sij JOIN si a ON sij.i = a.i JOIN si b ON sij.j = b.i
    ), mat0 AS MATERIALIZED (
      SELECT i AS r, j AS c, cov FROM ut
      UNION ALL
      SELECT j, i, cov FROM ut WHERE i <> j
    ), means AS MATERIALIZED (
      SELECT i, ROUND(CAST(s AS DOUBLE) / n, 9) AS mu FROM si
    )"""


def _pca_chain_sql(
    table: str,
    id_col: str,
    vec_col: str,
    dim: int,
    n_components: int,
    iters: int,
) -> str:
    """The shared WITH-chain of the top-k PCA oracles: covariance CTEs
    mirrored to ``mat0``, per component K the unrolled
    matvec/normalize steps, the Rayleigh quotient, and the Hotelling
    deflation (same ``(lam * v_r) * v_c`` parenthesization as the
    driver), ending with the joined weights CTE ``ws``. Returned as
    "WITH ...<chain>" WITHOUT a final SELECT so both the subspace and
    residual oracles compose on it structurally (no string surgery —
    code-review r10). Every chain CTE is AS MATERIALIZED (the
    HITS-oracle lesson)."""
    import math

    # _r9d, NOT _r9: the embedded literal must equal the DRIVER's init,
    # which uses the DuckDB rounding model — the two models differ on
    # .5-boundary dims (not 64, where 1/sqrt(dim)=0.125 is exact), and
    # deflation would amplify an init mismatch into 6dp score reds.
    v0 = _r9d(1.0 / math.sqrt(dim))
    chain = [
        _cov_chain_head(table, id_col, vec_col),
        f"""v0 AS (
      SELECT i.i AS r, CAST({v0!r} AS DOUBLE) AS x
      FROM (SELECT UNNEST(generate_series(1, {dim})) AS i) i
    )"""
    ]
    for k in range(1, n_components + 1):
        prev = "v0"
        for t in range(1, iters + 1):
            chain.append(
                f"""y{k}_{t} AS MATERIALIZED (
      SELECT m.r,
             CAST(SUM(CAST(ROUND(m.cov * v.x, 12) AS DECIMAL(30,12)))
                  AS DOUBLE) AS y
      FROM mat{k - 1} m JOIN {prev} v ON m.c = v.r
      GROUP BY m.r
    ), n{k}_{t} AS (
      SELECT sqrt(CAST(SUM(CAST(ROUND(y * y, 12) AS DECIMAL(30,12)))
                       AS DOUBLE)) AS nrm
      FROM y{k}_{t}
    ), v{k}_{t} AS MATERIALIZED (
      SELECT r, ROUND(y / nrm, 9) AS x FROM y{k}_{t}, n{k}_{t}
    )"""
            )
            prev = f"v{k}_{t}"
        if k < n_components:
            chain.append(
                f"""yf{k} AS MATERIALIZED (
      SELECT m.r,
             CAST(SUM(CAST(ROUND(m.cov * v.x, 12) AS DECIMAL(30,12)))
                  AS DOUBLE) AS y
      FROM mat{k - 1} m JOIN {prev} v ON m.c = v.r
      GROUP BY m.r
    ), lam{k} AS (
      SELECT CAST(SUM(CAST(ROUND(v.x * y.y, 12) AS DECIMAL(30,12)))
                  AS DOUBLE) AS lam
      FROM {prev} v JOIN yf{k} y ON v.r = y.r
    ), mat{k} AS MATERIALIZED (
      SELECT m.r, m.c,
             ROUND(m.cov - (l.lam * a.x) * b.x, 9) AS cov
      FROM mat{k - 1} m
      JOIN {prev} a ON a.r = m.r
      JOIN {prev} b ON b.r = m.c
      CROSS JOIN lam{k} l
    )"""
            )
    wjoins = "\n      ".join(
        f"JOIN v{k}_{iters} w{k} ON w{k}.r = means.i"
        for k in range(1, n_components + 1)
    )
    wcols = ", ".join(
        f"w{k}.x AS x{k}" for k in range(1, n_components + 1)
    )
    chain.append(
        f"""ws AS MATERIALIZED (
      SELECT means.i AS r, means.mu, {wcols}
      FROM means
      {wjoins}
    )"""
    )
    return "\n    WITH " + ",\n    ".join(chain)


def _pc_sql_exprs(n_components: int) -> list[str]:
    """The per-component projection aggregates of the final SELECT —
    one string per component, shared by both oracle generators."""
    return [
        f"ROUND(CAST(SUM(CAST(ROUND((vv.v[ws.r] - ws.mu) * ws.x{k}, 12)"
        f" AS DECIMAL(30,12))) AS DOUBLE), 6) + 0.0 AS pc{k}"
        for k in range(1, n_components + 1)
    ]


def pca_topk_oracle_sql(
    table: str,
    id_col: str,
    vec_col: str,
    dim: int,
    n_components: int = 2,
    iters: int = 8,
) -> str:
    """DuckDB replay of ``pca_component_scores``: the shared chain
    (``_pca_chain_sql``) plus one centered projection per component
    off the joined weights CTE."""
    chain = _pca_chain_sql(table, id_col, vec_col, dim, n_components, iters)
    pcs = ",\n           ".join(_pc_sql_exprs(n_components))
    return (
        chain
        + f"""
    SELECT vv.vid AS {id_col},
           {pcs}
    FROM vv
    CROSS JOIN ws
    GROUP BY vv.vid
"""
    )


def pca_residual_oracle_sql(
    table: str,
    id_col: str,
    vec_col: str,
    dim: int,
    n_components: int = 2,
    iters: int = 8,
) -> str:
    """DuckDB replay of ``pca_residual_scores``: the identical shared
    chain as ``pca_topk_oracle_sql`` (same v0, same rounding model)
    with a final select adding the centered total energy per vector
    and the residual/energy-fraction arithmetic (same left-associated
    subtraction chain and parenthesization as the Spark side)."""
    chain = _pca_chain_sql(table, id_col, vec_col, dim, n_components, iters)
    pcs = ",\n             ".join(_pc_sql_exprs(n_components))
    sq_sum = " + ".join(f"pc{k} * pc{k}" for k in range(1, n_components + 1))
    sub_chain = " - ".join(
        ["total2"] + [f"pc{k} * pc{k}" for k in range(1, n_components + 1)]
    )
    return (
        chain
        + f""", scored AS (
      SELECT vv.vid AS {id_col},
             {pcs},
             ROUND(CAST(SUM(CAST(ROUND((vv.v[ws.r] - ws.mu)
                                       * (vv.v[ws.r] - ws.mu), 12)
                                 AS DECIMAL(30,12))) AS DOUBLE), 6) + 0.0
               AS total2
      FROM vv
      CROSS JOIN ws
      GROUP BY vv.vid
    )
    SELECT {id_col},
           ROUND({sub_chain}, 6) + 0.0 AS resid2,
           CASE WHEN total2 > 0
                THEN ROUND(({sq_sum}) / total2, 6) + 0.0 END AS pc_energy_frac
    FROM scored
"""
    )


def embedding_zscore_outliers(
    df: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """Per-vector diagonal-Mahalanobis distance against the corpus's
    own per-dimension statistics: (id, zdist2, n_dims_used) with
    zdist2 = sum over dims of (x_i - mu_i)^2 / var_i, zero-variance
    dimensions excluded (they carry no information and would divide by
    zero). The embedding-space outlier gate for curation triage: under
    a roughly Gaussian corpus zdist2 is chi-square(d)-distributed, so
    a percentile cut on it flags junk/mojibake/out-of-domain vectors
    — an id-keyed signal composable with the curation decision layer.

    Scale shape: ONE stats aggregate (d rows: DECIMAL-exact sums of
    9dp-quantized x and x^2), a sanctioned d-row collect, then a
    map-only scoring pass with mu/var broadcast as array literals —
    the corpus never shuffles. The per-row sum over dims quantizes
    terms to 12dp and accumulates as DECIMAL, the repo's portability
    contract. Like HITS, decimal→double agreement is a bounded
    argument: exact while the stat sums' magnitude < ~9e3 at scale 12
    (every oracle-compared SF is far under; see graph.hits)."""
    stats = (
        df.select(
            F.posexplode(
                F.transform(F.col(vec_col), lambda x: x.cast("double"))
            ).alias("pos", "x")
        )
        .select((F.col("pos") + 1).alias("i"), F.round("x", 9).alias("x"))
        .groupBy("i")
        .agg(
            F.sum(F.col("x").cast(_SUM_DEC)).alias("s"),
            F.sum(F.round(F.col("x") * F.col("x"), 9).cast(_SUM_DEC)).alias(
                "sxx"
            ),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "i",
            F.round(F.col("s").cast("double") / F.col("n"), 9).alias("mu"),
            (
                F.round(
                    (
                        F.col("sxx").cast("double")
                        - F.col("s").cast("double")
                        * F.col("s").cast("double")
                        / F.col("n")
                    )
                    / F.col("n"),
                    6,
                )
                + F.lit(0.0)
            ).alias("var"),
        )
        .collect()
    )
    if not stats:
        return df.select(
            F.col(id_col),
            F.lit(None).cast("double").alias("zdist2"),
            F.lit(None).cast("long").alias("n_dims_used"),
        ).limit(0)
    dim = max(r["i"] for r in stats)
    mus = [0.0] * dim
    vars_ = [0.0] * dim
    for r in stats:
        mus[r["i"] - 1] = r["mu"]
        vars_[r["i"] - 1] = r["var"]
    n_used = sum(1 for v in vars_ if v > 0)

    vec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    centered = F.zip_with(vec, vec_lit(mus), lambda x, mu: x - mu)
    terms = F.zip_with(
        centered,
        vec_lit(vars_),
        lambda c, v: F.when(
            v > 0, F.round(c * c / v, 12).cast(_SUM_DEC)
        ).otherwise(F.lit(0).cast(_SUM_DEC)),
    )
    z = F.aggregate(
        terms,
        F.lit(0).cast(_SUM_DEC),
        lambda acc, p: (acc + p).cast(_SUM_DEC),
    )
    return df.select(
        F.col(id_col),
        (F.round(z.cast("double"), 6) + F.lit(0.0)).alias("zdist2"),
        F.lit(n_used).cast("long").alias("n_dims_used"),
    )


def zscore_outliers_oracle_sql(table: str, id_col: str, vec_col: str) -> str:
    """DuckDB replay of ``embedding_zscore_outliers`` — identical stat
    sums (9dp-quantized terms, DECIMAL accumulation), identical mu/var
    double arithmetic, identical 12dp-quantized per-dim terms."""
    return f"""
    WITH vv AS MATERIALIZED (
      SELECT {id_col} AS vid,
             list_transform({vec_col}, x -> CAST(x AS DOUBLE)) AS v
      FROM {table}
    ), st AS MATERIALIZED (
      SELECT i.i AS i,
             SUM(CAST(ROUND(v[i.i], 9) AS DECIMAL(30,12))) AS s,
             SUM(CAST(ROUND(v[i.i] * v[i.i], 9) AS DECIMAL(30,12))) AS sxx,
             COUNT(*) AS n
      FROM vv CROSS JOIN unnest(generate_series(1, len(v))) AS i(i)
      GROUP BY i.i
    ), mv AS MATERIALIZED (
      SELECT i, ROUND(CAST(s AS DOUBLE) / n, 9) AS mu,
             ROUND((CAST(sxx AS DOUBLE)
                    - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) / n,
                   6) + 0.0 AS var
      FROM st
    ), nu AS (
      SELECT CAST(COUNT(*) FILTER (WHERE var > 0) AS BIGINT) AS n_used
      FROM mv
    )
    SELECT vv.vid AS {id_col},
           ROUND(CAST(SUM(CASE WHEN mv.var > 0
                    THEN CAST(ROUND((vv.v[mv.i] - mv.mu) * (vv.v[mv.i] - mv.mu)
                                    / mv.var, 12) AS DECIMAL(30,12))
                    ELSE CAST(0 AS DECIMAL(30,12)) END)
                 AS DOUBLE), 6) + 0.0 AS zdist2,
           nu.n_used AS n_dims_used
    FROM vv CROSS JOIN mv CROSS JOIN nu
    GROUP BY vv.vid, nu.n_used
"""


# --- round-10 extension: moment state for incremental covariance -------
# The state-store pattern (retrieval postings, LSH band state, gram
# state) applied to second moments: DECIMAL sums are EXACTLY
# associative, so per-slice moment states merge by plain groupBy-sum
# and the merged covariance is bit-identical to the from-scratch one —
# a daily embedding ingest never re-scans history vectors.


def _checked_slice(df: DataFrame, slice_col: str) -> DataFrame:
    """Shared slice-key contract for BOTH moment-state operators
    (ADVICE r16): the state schema carries the slice as a LONG (the
    sliced-ingest pattern keys on an integer slice/day id), so reject
    non-integral slice columns up front with a clear error instead of
    an opaque executor failure deep inside mapInPandas; and drop
    NULL-slice rows in BOTH operators — pandas groupby silently drops
    NULL keys while Spark's groupBy keeps a NULL group, and a
    covariance merge joining the two states by dim keys alone would
    silently skew if one side kept rows the other lost. A NULL slice
    id has no meaning in the slice-state model (which ingest slice is
    it?), so the invariant is: slice keys are non-null integers."""
    from pyspark.sql.types import IntegralType

    dt = df.schema[slice_col].dataType
    if not isinstance(dt, IntegralType):
        raise ValueError(
            f"slice_col {slice_col!r} must be an integral type (state "
            f"schema carries it as long), got {dt.simpleString()}"
        )
    return df.filter(F.col(slice_col).isNotNull())


def embedding_second_moment_state(
    df: DataFrame, id_col: str, vec_col: str, slice_col: str | None = None
) -> DataFrame:
    """Per-slice second-moment state: (dim_i, dim_j, s_ij) upper
    triangle, s_ij the DECIMAL-exact sum of 9dp-quantized products —
    the same aggregate ``embedding_covariance`` computes, persisted as
    a relation (d(d+1)/2 rows per slice regardless of slice size).

    Execution is an Arrow-batched ``mapInPandas`` partial aggregate:
    each task turns its rows into ONE d(d+1)/2-row integer-microunit
    partial (numpy outer products over the upper triangle), and the
    exchange merges those partials with a decimal groupBy-SUM.
    Replaces the previous higher-order-function explode (d(d+1)/2
    structs PER ROW through the JVM hash aggregate) — measured 2.1x
    faster at sf0.1 and strictly less state per task at 100 TB: the
    shuffle still carries at most d(d+1)/2 rows per task either way,
    but the explode's per-row struct array churn is gone.

    Exactness contract (bit-identical to the explode form, pinned by
    tests): Spark's ROUND(double, 9) rounds the SHORTEST-REPR decimal
    of the product (BigDecimal(Double.toString)) and the
    decimal(30,12) cast re-rounds the returned double. For products
    |p| < 1e3 away from a .5e-9 boundary, the vectorized
    scaled-double quantization (``_qd_vec`` argument) is provably the
    same value and the double->12dp re-round is the identity, so the
    fast path sums exact int64 1e-9 microunits. Elements OUTSIDE that
    envelope — |p| >= 1e3, or within the float-error band of a .5
    boundary (|frac - 0.5| <= |scaled|*1e-15 + 1e-9, covering both
    the multiply's and the shortest-repr's ulp) — take a per-element
    slow path that replicates Spark's construction literally
    (shortest-repr quantize 9dp, through double, re-quantize 12dp)
    and accumulate as exact Python ints in 1e-12 units, so magnitude
    can never silently overflow the int64 fast lane. Non-finite
    products (NULL/NaN elements) contribute nothing, and a pair with
    no finite product in a task emits a NULL partial — matching the
    explode form's SUM-over-NULLs row for all-NULL dimensions.

    ``slice_col``: compute EVERY slice's state in ONE corpus pass —
    the partial accumulators key on (slice, d) and the merge groups by
    (slice, dim_i, dim_j), so the output is the per-slice states
    stacked (exactly the union of per-slice calls). The slice column
    must be integral, and rows whose slice is NULL are DROPPED (they
    belong to no slice; both moment-state operators drop them, so
    their states stay joinable). Bit-identical to
    filtering per slice and unioning: accumulation is exact integers
    (int64 fast lane within <=256-row blocks, Python ints beyond), so
    partial grouping/order cannot change any sum (r16 optimization —
    the sliced-ingest covariance query paid one full MapInPandas pass
    PER SLICE for the same total Arrow work)."""
    df = fan_out(df)
    if slice_col is not None:
        df = _checked_slice(df, slice_col)
    # decimal(38,12): 26 integer digits of headroom for the PER-TASK
    # partial. The explode form only capped individual 12dp TERMS at
    # decimal(30,12) and accumulated in Spark's widened SUM type
    # (decimal(38,12)); pinning the partial itself to (30,12) would
    # re-introduce an overflow at ~1e18 per task that the explode form
    # never had (ADVICE r11). The Python side accumulates unbounded
    # ints, so the Arrow boundary is the only place width matters.
    out_schema = "dim_i long, dim_j long, s_ij decimal(38,12)"
    if slice_col is not None:
        # slice keys ride the Arrow boundary as longs (the sliced-ingest
        # pattern keys on an integer slice/day id)
        out_schema = f"`{slice_col}` long, " + out_schema

    def _partials(batches):
        import numpy as np
        import pandas as pd

        def _exact12(t: float) -> int:
            # Spark's CAST(ROUND(t, 9) AS DECIMAL(30,12)) literally:
            # BigDecimal(Double.toString).setScale(9, HALF_UP) -> double
            # -> decimal(30,12); returned in integer 1e-12 units.
            r9 = Decimal(repr(t)).quantize(
                Decimal("1E-9"), rounding=ROUND_HALF_UP
            )
            return int(
                Decimal(repr(float(r9)))
                .quantize(Decimal("1E-12"), rounding=ROUND_HALF_UP)
                .scaleb(12)
            )

        tri = {}  # (slice, d) -> (iu0, iu1)
        acc12 = {}  # (slice, d) -> object ndarray of exact int 1e-12 units
        seen = {}  # (slice, d) -> bool ndarray: any finite product for pair
        for pdf in batches:
            groups = (
                ((sl, sub) for sl, sub in pdf.groupby(slice_col, sort=False))
                if slice_col is not None
                else ((None, pdf),)
            )
            for sl, sub in groups:
                vecs = [
                    np.asarray(v, dtype=np.float64)
                    for v in sub[vec_col]
                    if v is not None and len(v) > 0
                ]
                bylen: dict[int, list] = {}
                for v in vecs:
                    bylen.setdefault(len(v), []).append(v)
                for d, vs in bylen.items():
                    key = (sl, d)
                    if key not in tri:
                        tri[key] = np.triu_indices(d)
                        npairs = len(tri[key][0])
                        acc12[key] = np.zeros(npairs, dtype=object)
                        seen[key] = np.zeros(npairs, dtype=bool)
                    iu0, iu1 = tri[key]
                    for k in range(0, len(vs), 256):
                        vmat = np.stack(vs[k : k + 256])
                        prod = vmat[:, iu0] * vmat[:, iu1]
                        ok = np.isfinite(prod)
                        scaled = np.where(ok, prod, 0.0) * 1e9
                        frac = scaled - np.floor(scaled)
                        slow = ok & (
                            (np.abs(prod) >= 1e3)
                            | (
                                np.abs(frac - 0.5)
                                <= np.abs(scaled) * 1e-15 + 1e-9
                            )
                        )
                        fast = ok & ~slow
                        # fast lane: |q| < 1e12, <=256 rows -> int64-safe
                        # (slow/huge elements zeroed BEFORE the cast so the
                        # int64 conversion never sees an out-of-range value)
                        q = _qd_vec(np.where(fast, scaled, 0.0)).astype(np.int64)
                        acc12[key] += q.sum(axis=0) * 1000
                        for r, c in np.argwhere(slow):
                            acc12[key][c] += _exact12(float(prod[r, c]))
                        seen[key] |= ok.any(axis=0)
        rows = []
        for key in tri:
            sl, d = key
            iu0, iu1 = tri[key]
            pre = () if slice_col is None else (int(sl),)
            for a, b, s, sn in zip(iu0, iu1, acc12[key], seen[key]):
                rows.append(
                    pre
                    + (
                        int(a) + 1,
                        int(b) + 1,
                        Decimal(int(s)).scaleb(-12) if sn else None,
                    )
                )
        if rows:
            cols = ([] if slice_col is None else [slice_col]) + [
                "dim_i",
                "dim_j",
                "s_ij",
            ]
            yield pd.DataFrame(rows, columns=cols)

    keys = ([] if slice_col is None else [slice_col]) + ["dim_i", "dim_j"]
    sel = [] if slice_col is None else [F.col(slice_col)]
    return (
        df.select(*(([] if slice_col is None else [slice_col]) + [vec_col]))
        .mapInPandas(_partials, schema=out_schema)
        .groupBy(*keys)
        .agg(F.sum(F.col("s_ij").cast(_SUM_DEC_WIDE)).alias("s_ij"))
        .select(
            *sel,
            F.col("dim_i").cast("long").alias("dim_i"),
            F.col("dim_j").cast("long").alias("dim_j"),
            "s_ij",
        )
    )


def embedding_first_moment_state(
    df: DataFrame, id_col: str, vec_col: str, slice_col: str | None = None
) -> DataFrame:
    """Per-slice first-moment state: (dim_i, s, n) — d rows per
    slice. ``slice_col``: carry the slice key through the explode and
    group by (slice, dim) — every slice's state in ONE corpus pass,
    row-identical to per-slice calls unioned (decimal SUM per group is
    exact, so the grouping key split cannot change any sum). The slice
    column must be integral, and rows whose slice is NULL are DROPPED,
    exactly as in ``embedding_second_moment_state``."""
    df = fan_out(df)
    if slice_col is not None:
        df = _checked_slice(df, slice_col)
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    sl = [] if slice_col is None else [F.col(slice_col)]
    return (
        df.select(*sl, F.posexplode(v).alias("pos", "x"))
        .select(*sl, (F.col("pos") + 1).alias("i"), F.round("x", 9).alias("x"))
        .groupBy(*([] if slice_col is None else [slice_col]), "i")
        .agg(
            F.sum(F.col("x").cast(_SUM_DEC)).alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(*sl, F.col("i").cast("long").alias("dim_i"), "s", "n")
    )


def embedding_covariance_from_state(
    sij_state: DataFrame, si_state: DataFrame
) -> DataFrame:
    """Covariance from (unioned) persisted moment states — merge is a
    plain groupBy-SUM (decimal addition is associative and
    order-free), then the identical final double arithmetic as
    ``embedding_covariance``, so

        from_state(union of slice states) == from-scratch(full corpus)

    BIT-FOR-BIT (pinned by test). At 100 TB this is the whole point:
    each ingest slice contributes d(d+1)/2 + d rows of state, history
    vectors are never re-scanned, and the merge shuffles only state
    rows.

    Replay safety: when the state carries the streaming writer's
    ``_batch`` column (``feeds.embedding_moment_stream``), an
    at-least-once replay — or a crash between the two non-atomic store
    appends — can leave one store with a duplicated batch id; SUM
    state is not idempotent, so summing those rows silently skews the
    covariance. A batch writes exactly ONE row per dimension key, so
    deduping on (_batch, dim key) strips replays exactly before the
    merge; the column is then dropped from the output.

    ``_batch`` ids are only unique WITHIN one stream's store (each
    stream numbers its micro-batches from 0), so states unioned from
    TWO independent stores would collide on (_batch, dim key) and the
    dedupe would silently drop one store's real rows (ADVICE r11).
    A multi-store merge must therefore carry a store id in a
    ``_store`` column (any type; ``feeds.embedding_moment_stream``
    callers tag it at union time) — when present it namespaces the
    replay key. States WITHOUT ``_batch`` (e.g. batch-computed slice
    states, as in the registered query) have no replay channel and
    skip the dedupe entirely."""

    def _strip_replays(state: DataFrame, dim_keys: list[str]) -> DataFrame:
        if "_batch" not in state.columns:
            return state
        ns = ["_store"] if "_store" in state.columns else []
        return state.dropDuplicates(ns + ["_batch"] + dim_keys)

    sij_state = _strip_replays(sij_state, ["dim_i", "dim_j"])
    si_state = _strip_replays(si_state, ["dim_i"])
    sij = sij_state.groupBy("dim_i", "dim_j").agg(
        F.sum(F.col("s_ij").cast(_SUM_DEC_WIDE)).alias("s_ij")
    )
    si = si_state.groupBy("dim_i").agg(
        F.sum(F.col("s").cast(_SUM_DEC_WIDE)).alias("s"),
        F.sum("n").alias("n"),
    )
    a = si.select(
        F.col("dim_i").alias("i"), F.col("s").alias("s_i"), "n"
    )
    b = si.select(F.col("dim_i").alias("j"), F.col("s").alias("s_j"))
    return (
        sij.select(F.col("dim_i").alias("i"), F.col("dim_j").alias("j"), "s_ij")
        .join(F.broadcast(a), "i")
        .join(F.broadcast(b), "j")
        .select(
            F.col("i").cast("long").alias("dim_i"),
            F.col("j").cast("long").alias("dim_j"),
            (
                F.round(
                    (
                        F.col("s_ij").cast("double")
                        - F.col("s_i").cast("double")
                        * F.col("s_j").cast("double")
                        / F.col("n")
                    )
                    / F.col("n"),
                    6,
                )
                + F.lit(0.0)
            ).alias("cov"),
        )
    )


# --- round-10 extension: labeled-corpus separability diagnostics --------


def embedding_fisher_scores(
    df: DataFrame, id_col: str, vec_col: str, label_col: str
) -> DataFrame:
    """Per-dimension Fisher separability over a LABELED embedding
    corpus: (dim_i, between_var, within_var, fisher_ratio) with
    between = sum_c n_c*(mu_ci - mu_i)^2 / n, within = total - between
    (the variance decomposition, computed from per-(class, dim) sums),
    fisher = between / within (NULL when a dimension is constant).
    The labeled-data triage report: dimensions with high ratios carry
    the class signal (feature selection / collapse detection); a
    near-zero ratio everywhere means the labels are not linearly
    visible in the embedding.

    Scale shape: ONE scan into a per-(class, dim) DECIMAL-sum
    aggregate (|classes| * d rows — fixed-size state like the
    covariance), then arithmetic on that tiny relation; the corpus
    never shuffles. Sums quantize terms at 9dp (order-free); emitted
    doubles round at 6dp with the -0.0 canonicalization. Like HITS
    and the z-score gate, oracle agreement on the decimal→double
    casts is a BOUNDED argument (exact while the class sums' unscaled
    value stays < 2^53, i.e. |sum| < ~9e3 at scale 12 — every
    oracle-compared SF is far under; see graph.hits)."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    per_cd = (
        fan_out(df)
        .select(F.col(label_col).alias("_cls"), F.posexplode(v).alias("pos", "x"))
        .select("_cls", (F.col("pos") + 1).alias("i"), F.round("x", 9).alias("x"))
        .groupBy("_cls", "i")
        .agg(
            F.sum(F.col("x").cast(_SUM_DEC)).alias("s"),
            F.sum(F.round(F.col("x") * F.col("x"), 9).cast(_SUM_DEC)).alias("s2"),
            F.count(F.lit(1)).alias("nc"),
        )
    )
    per_d = per_cd.groupBy("i").agg(
        F.sum(F.col("s").cast(_SUM_DEC)).alias("s_tot"),
        F.sum(F.col("s2").cast(_SUM_DEC)).alias("s2_tot"),
        F.sum("nc").alias("n"),
        # sum_c s_c^2 / n_c: one double term per class (identical
        # literals both engines), quantized at 9dp before the DECIMAL
        # sum so class order can't show
        F.sum(
            F.round(
                F.col("s").cast("double") * F.col("s").cast("double") / F.col("nc"),
                9,
            ).cast(_SUM_DEC)
        ).alias("sb"),
    )
    total_var = (
        F.col("s2_tot").cast("double")
        - F.col("s_tot").cast("double") * F.col("s_tot").cast("double") / F.col("n")
    ) / F.col("n")
    between = (
        F.col("sb").cast("double")
        - F.col("s_tot").cast("double") * F.col("s_tot").cast("double") / F.col("n")
    ) / F.col("n")
    within = total_var - between
    return per_d.select(
        F.col("i").cast("long").alias("dim_i"),
        (F.round(between, 6) + F.lit(0.0)).alias("between_var"),
        (F.round(within, 6) + F.lit(0.0)).alias("within_var"),
        F.when(
            F.round(within, 6) > 0,
            F.round(F.round(between, 6) / F.round(within, 6), 6) + F.lit(0.0),
        ).alias("fisher_ratio"),
    )


def embedding_snapshot_drift(
    df_a: DataFrame, df_b: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """Per-dimension mean drift between two corpus snapshots —
    (dim_i, mean_a, mean_b, shift) — the distribution-shift monitor a
    training pipeline runs between ingest waves (embedding model
    update, source-mix change, encoder regression all show up here
    before they show up in loss curves). shift = mean_b - mean_a on
    the 9dp-rounded means, so both engines subtract identical
    operands.

    Scale shape: one scan per snapshot into a d-row DECIMAL-sum
    aggregate (map-side partials; the corpus never shuffles), then a
    d-row join. Same 9dp term quantization as the Fisher/covariance
    tier; emits dims present in BOTH snapshots (an empty snapshot
    yields an empty report, not nulls)."""

    def per_dim(df: DataFrame, tag: str) -> DataFrame:
        v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
        return (
            fan_out(df)
            .select(F.posexplode(v).alias("pos", "x"))
            .select((F.col("pos") + 1).alias("i"), F.round("x", 9).alias("x"))
            .groupBy("i")
            .agg(
                F.sum(F.col("x").cast(_SUM_DEC)).alias(f"s_{tag}"),
                F.count(F.lit(1)).alias(f"n_{tag}"),
            )
        )

    j = per_dim(df_a, "a").join(per_dim(df_b, "b"), "i")
    mean_a = F.round(F.col("s_a").cast("double") / F.col("n_a"), 9)
    mean_b = F.round(F.col("s_b").cast("double") / F.col("n_b"), 9)
    return j.select(
        F.col("i").cast("long").alias("dim_i"),
        (mean_a + F.lit(0.0)).alias("mean_a"),
        (mean_b + F.lit(0.0)).alias("mean_b"),
        (F.round(mean_b - mean_a, 9) + F.lit(0.0)).alias("shift"),
    )


def snapshot_drift_oracle_sql(src_a: str, src_b: str, vec_col: str) -> str:
    """DuckDB replay of :func:`embedding_snapshot_drift` over two
    source relations (tables or parenthesized subqueries) — identical
    9dp term quantization, identical rounded-mean subtraction."""

    def frag(src: str, tag: str) -> str:
        return f"""
    {tag}v AS (
      SELECT list_transform({vec_col}, x -> CAST(x AS DOUBLE)) AS v
      FROM {src}
    ), per_{tag} AS (
      SELECT i.i AS i,
             SUM(CAST(ROUND(v[i.i], 9) AS DECIMAL(30,12))) AS s,
             COUNT(*) AS n
      FROM {tag}v CROSS JOIN unnest(generate_series(1, len(v))) AS i(i)
      GROUP BY i.i
    )"""

    return f"""
    WITH {frag(src_a, 'a')}, {frag(src_b, 'b')}
    SELECT CAST(a.i AS BIGINT) AS dim_i,
           ROUND(CAST(a.s AS DOUBLE) / a.n, 9) + 0.0 AS mean_a,
           ROUND(CAST(b.s AS DOUBLE) / b.n, 9) + 0.0 AS mean_b,
           ROUND(ROUND(CAST(b.s AS DOUBLE) / b.n, 9)
                 - ROUND(CAST(a.s AS DOUBLE) / a.n, 9), 9) + 0.0 AS shift
    FROM per_a a JOIN per_b b ON a.i = b.i
"""


def fisher_scores_oracle_sql(
    table: str, id_col: str, vec_col: str, label_col: str
) -> str:
    """DuckDB replay of ``embedding_fisher_scores`` — identical sum
    quantization, identical double arithmetic, ratio computed from the
    ROUNDED terms so both engines divide identical operands."""
    return f"""
    WITH vv AS (
      SELECT {label_col} AS cls,
             list_transform({vec_col}, x -> CAST(x AS DOUBLE)) AS v
      FROM {table}
    ), per_cd AS (
      SELECT cls, i.i AS i,
             SUM(CAST(ROUND(v[i.i], 9) AS DECIMAL(30,12))) AS s,
             SUM(CAST(ROUND(v[i.i] * v[i.i], 9) AS DECIMAL(30,12))) AS s2,
             COUNT(*) AS nc
      FROM vv CROSS JOIN unnest(generate_series(1, len(v))) AS i(i)
      GROUP BY cls, i.i
    ), per_d AS (
      SELECT i,
             SUM(s) AS s_tot, SUM(s2) AS s2_tot, SUM(nc) AS n,
             SUM(CAST(ROUND(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / nc, 9)
                      AS DECIMAL(30,12))) AS sb
      FROM per_cd GROUP BY i
    )
    SELECT CAST(i AS BIGINT) AS dim_i,
           ROUND((CAST(sb AS DOUBLE)
                  - CAST(s_tot AS DOUBLE) * CAST(s_tot AS DOUBLE) / n) / n,
                 6) + 0.0 AS between_var,
           ROUND((CAST(s2_tot AS DOUBLE)
                  - CAST(s_tot AS DOUBLE) * CAST(s_tot AS DOUBLE) / n) / n
                 - (CAST(sb AS DOUBLE)
                    - CAST(s_tot AS DOUBLE) * CAST(s_tot AS DOUBLE) / n) / n,
                 6) + 0.0 AS within_var,
           CASE WHEN ROUND((CAST(s2_tot AS DOUBLE)
                  - CAST(s_tot AS DOUBLE) * CAST(s_tot AS DOUBLE) / n) / n
                 - (CAST(sb AS DOUBLE)
                    - CAST(s_tot AS DOUBLE) * CAST(s_tot AS DOUBLE) / n) / n,
                 6) > 0
                THEN ROUND(
                  (ROUND((CAST(sb AS DOUBLE)
                    - CAST(s_tot AS DOUBLE) * CAST(s_tot AS DOUBLE) / n) / n, 6))
                  / (ROUND((CAST(s2_tot AS DOUBLE)
                    - CAST(s_tot AS DOUBLE) * CAST(s_tot AS DOUBLE) / n) / n
                    - (CAST(sb AS DOUBLE)
                       - CAST(s_tot AS DOUBLE) * CAST(s_tot AS DOUBLE) / n) / n,
                    6)), 6) + 0.0
           END AS fisher_ratio
    FROM per_d
"""


def pca_residual_scores(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_components: int = 2,
    iters: int = 8,
    cov_means: tuple | None = None,
) -> DataFrame:
    """PCA reconstruction-residual outlier score per vector:
    (id, resid2, pc_energy_frac) with
    resid2 = ||x - mu||^2 - sum_k pc_k^2 (the centered energy OFF the
    top-K subspace) and pc_energy_frac the kept fraction. The
    complement of the diagonal z-gate: z-distance flags per-dimension
    extremes, the residual flags vectors that are large in directions
    the corpus's principal subspace does NOT span — mislabeled/junk
    vectors hide exactly there. Same two-scan, map-only shape as
    ``pca_component_scores`` (components broadcast; one extra
    aggregate expression shares the centered array); sums quantize at
    12dp into DECIMAL so the scores are addition-order-free, and the
    subtraction chain is left-associated identically in the oracle.

    Range caveat: the fitted components are 6dp-rounded and not
    exactly orthogonal, so for vectors lying almost entirely inside
    the subspace ``resid2`` can come out slightly NEGATIVE (and
    ``pc_energy_frac`` slightly > 1) — on the order of the rounding
    error, cross-engine consistent (the oracle replays the identical
    arithmetic), and harmless for outlier ranking (outliers are the
    LARGE residuals). Consumers needing a true energy should clamp
    (greatest(0, resid2) / least(1, frac)) downstream; the operator
    does not clamp so that operator == oracle stays a pure replay."""
    if n_components < 1:
        raise ValueError(f"pca requires n_components >= 1, got {n_components}")
    if iters < 1:
        raise ValueError(f"pca requires iters >= 1, got {iters}")
    got = cov_means if cov_means is not None else _collect_cov_means(
        df, id_col, vec_col
    )
    if not got:
        return df.select(
            F.col(id_col),
            F.lit(None).cast("double").alias("resid2"),
            F.lit(None).cast("double").alias("pc_energy_frac"),
        ).limit(0)
    m, means, dim = got
    comps = _fit_components(m, dim, n_components, iters)
    vec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    centered = F.zip_with(vec, vec_lit(means), lambda x, mu: x - mu)
    pcs = [_pc_score_expr(centered, v) for v in comps]
    t_terms = F.transform(
        F.transform(centered, lambda c: F.round(c * c, 12)),
        lambda p: p.cast(_SUM_DEC),
    )
    total2 = F.round(_dec_fold(t_terms).cast("double"), 6) + F.lit(0.0)

    resid = total2
    sq_sum = None
    for pc in pcs:
        resid = resid - pc * pc
        sq_sum = pc * pc if sq_sum is None else sq_sum + pc * pc
    return df.select(
        F.col(id_col),
        (F.round(resid, 6) + F.lit(0.0)).alias("resid2"),
        F.when(
            total2 > 0, F.round(sq_sum / total2, 6) + F.lit(0.0)
        ).alias("pc_energy_frac"),
    )


# --- round-11 extension: ZCA whitening from the covariance ------------
# The natural consumer of the (incremental) covariance: W = Sigma^-1/2
# symmetrized (ZCA), fitted DRIVER-SIDE from the collected d x d by a
# coupled Newton-Schulz inverse-sqrt iteration in the same
# integer-microunit / DuckDB-exact rounding model as the PCA chain —
# an iterative-matmul unroll is SQL-replayable where a Cholesky's
# data-dependent pivoting order would not be. The whitener broadcasts
# back as literals for a map-only projection; at 100 TB the corpus is
# scanned twice (covariance aggregate, projection) and never shuffled
# beyond the d(d+1)/2-row relation — identical scale shape to PCA.


def _qd_vec(t):
    """Vectorized ``_qd`` WITHOUT the per-element Decimal: numpy
    round-half-away-from-zero of an already-scaled double array. Exact
    equivalence argument: for |t| < 2^52, floor(t)/ceil(t) are
    representable and t - floor(t) / ceil(t) - t are EXACT IEEE
    subtractions, so the >= 0.5 comparison sees the true fractional
    part — elementwise identical to Decimal(t).quantize(HALF_UP)
    (property-tested incl. .5-boundary values). Needed because the
    Newton-Schulz fit does ~10^7 quantizations per call; Decimal made
    the driver step ~100x slower than the whole projection."""
    import numpy as np

    f = np.floor(t)
    up = f + (t - f >= 0.5)
    c = np.ceil(t)
    dn = c - (c - t >= 0.5)
    return np.where(t >= 0, up, dn)


def _ns_inverse_sqrt(
    m: list[list[float]], dim: int, iters: int, ridge: float
) -> tuple[list[list[float]], float]:
    """Coupled Newton-Schulz iteration for the inverse matrix square
    root of A = cov + ridge*I, trace-normalized so every eigenvalue of
    B = A/s lies in (0, 1] (the convergence region):

        Y_0 = B, Z_0 = I;  M = 3I - Z Y;  Y' = Y M / 2;  Z' = M Z / 2

    Z_k -> B^-1/2, so W = Z_iters / sqrt(s) ~ A^-1/2 (symmetric — the
    ZCA whitener). Every matmul entry accumulates 12dp-quantized
    products (DuckDB rounding model, ``_qd``) in exact integer
    microunits and re-quantizes to 9dp after the halving — the oracle
    unrolls the identical iteration as matmul CTEs, so the driver-side
    fit is bit-replayable cross-engine. Convergence: quadratic once
    ||I - B Z^2|| < 1; iterations to converge grow with
    log(s/lambda_min), so near-singular covariances (n < d) lean on
    ``ridge`` and may need more ``iters`` — quantified by the
    W Sigma W' ~ I property test, NOT assumed."""
    import math

    import numpy as np

    a = np.array(m, dtype=np.float64)
    a = a + ridge * np.eye(dim)
    # exact decimal trace: diagonal entries are 6dp values (+ridge),
    # summed in integer 1e-6 units -> one IEEE division, both engines
    s = int(_qd_vec(np.diag(a) * float(10**6)).astype(np.int64).sum()) / 1e6

    def matmul(p, q):
        # R[i,j] = sum_k qd12(p[i,k] * q[k,j]) in exact int64 microunits
        # (|term| < 2^52, 64-term sums < 2^53: representable exactly)
        t = p[:, :, None] * q[None, :, :]
        # _qd_vec's floor/ceil residues are exact IEEE subtractions only
        # while |t|*1e12 < 2^52. The trace normalization keeps B's
        # entries in [-1, 1], but Newton-Schulz INTERMEDIATES scale
        # like sqrt(s/lambda_min): a large-trace covariance over a tiny
        # ridge can push products past the bound, silently leaving the
        # Decimal/oracle rounding model (a cross-engine red, not a
        # crash) — so fail loudly here instead (ADVICE r11).
        amax = float(np.max(np.abs(t))) if t.size else 0.0
        if amax * 1e12 >= float(2**52):
            raise ValueError(
                "_ns_inverse_sqrt: matmul term magnitude "
                f"{amax:.6g} exceeds the exact-quantization bound "
                "(|t| * 1e12 >= 2^52); the covariance is too "
                "ill-conditioned for the portable fixed-point replay — "
                "raise `ridge` (scale it with the trace) to proceed"
            )
        qt = _qd_vec(t * float(10**12)).astype(np.int64)
        return qt.sum(axis=1).astype(np.float64) / 1e12

    def r9(x):
        return _qd_vec(x * float(10**9)) / 1e9

    b = r9(a / s)
    y = b.copy()
    z = np.eye(dim)
    eye3 = 3.0 * np.eye(dim)
    for _ in range(iters):
        mm = eye3 - matmul(z, y)
        y, z = r9(0.5 * matmul(y, mm)), r9(0.5 * matmul(mm, z))
    w = z / math.sqrt(s)
    return [[float(w[r][c]) for c in range(dim)] for r in range(dim)], s


def zca_whitener(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    iters: int = 12,
    ridge: float = 1e-6,
    cov_means: tuple | None = None,
) -> tuple[list[list[float]], list[float], int] | None:
    """Fit the ZCA whitening matrix from the corpus covariance:
    returns (W, means, dim) with W ~ (cov + ridge*I)^-1/2, or None on
    an empty corpus. The d x d covariance and d means are the ONLY
    driver-side state (the sanctioned bounded collect); the fit runs
    in the portable integer-microunit arithmetic (``_ns_inverse_sqrt``)
    so an external SQL oracle replays it exactly."""
    got = cov_means if cov_means is not None else _collect_cov_means(
        df, id_col, vec_col
    )
    if not got:
        return None
    m, means, dim = got
    w, _ = _ns_inverse_sqrt(m, dim, iters, ridge)
    return w, means, dim


def zca_whitening_scores(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_out: int = 4,
    iters: int = 12,
    ridge: float = 1e-6,
    cov_means: tuple | None = None,
) -> DataFrame:
    """ZCA-whitened coordinates per vector: (id, zca1..zca{n_out})
    with zca_j = <W_j, x - mu>, W the symmetric inverse-sqrt of the
    (ridged) covariance. Unlike PCA scores, ZCA coordinates stay
    maximally close to the ORIGINAL axes while decorrelating — the
    standard pre-conditioning for embedding-space comparisons, and the
    first ``n_out`` coordinates are a whitened triage projection the
    way pc1/pc2 are.

    Scale shape identical to ``pca_component_scores``: covariance
    aggregate (zero-join, d(d+1)/2 rows) -> driver-side fit ->
    broadcast W rows as literals -> ONE map-only projection pass with
    ``n_out`` aggregate expressions sharing the centered array."""
    if n_out < 1:
        raise ValueError(f"zca requires n_out >= 1, got {n_out}")
    if iters < 1:
        raise ValueError(f"zca requires iters >= 1, got {iters}")
    got = zca_whitener(
        df, id_col, vec_col, iters=iters, ridge=ridge, cov_means=cov_means
    )
    if got is None:
        cols = [
            F.lit(None).cast("double").alias(f"zca{j}")
            for j in range(1, n_out + 1)
        ]
        return df.select(F.col(id_col), *cols).limit(0)
    w, means, dim = got
    n_out = min(n_out, dim)
    vec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    centered = F.zip_with(vec, vec_lit(means), lambda x, mu: x - mu)
    outs = [
        _pc_score_expr(centered, w[j - 1]).alias(f"zca{j}")
        for j in range(1, n_out + 1)
    ]
    return df.select(F.col(id_col), *outs)


def zca_oracle_sql(
    table: str,
    id_col: str,
    vec_col: str,
    dim: int,
    n_out: int = 4,
    iters: int = 12,
    ridge: float = 1e-6,
) -> str:
    """DuckDB replay of ``zca_whitening_scores``: the shared covariance
    head (``_cov_chain_head`` — the same text as the PCA chains), the
    ridged/trace-normalized matrix, then the Newton-Schulz iteration
    unrolled as matmul CTEs (12dp-quantized products, DECIMAL
    accumulation, 9dp re-quantization after each halving — the exact
    driver arithmetic), and one centered projection per emitted
    coordinate. z0 is the SPARSE identity: zero terms contribute
    exactly 0 to the decimal sums, so omitting them is sum-preserving
    while keeping the first iteration's join small."""
    head = _cov_chain_head(table, id_col, vec_col)
    chain = [
        head,
        f"""mata AS MATERIALIZED (
      SELECT r, c,
             cov + CASE WHEN r = c THEN CAST({ridge!r} AS DOUBLE)
                   ELSE 0.0 END AS a
      FROM mat0
    ), tr AS (
      SELECT CAST(SUM(CAST(ROUND(a, 6) AS DECIMAL(18,6))) AS DOUBLE) AS s
      FROM mata WHERE r = c
    ), y0 AS MATERIALIZED (
      SELECT r, c, ROUND(a / s, 9) AS x FROM mata CROSS JOIN tr
    ), z0 AS (
      SELECT i.i AS r, i.i AS c, CAST(1.0 AS DOUBLE) AS x
      FROM (SELECT UNNEST(generate_series(1, {dim})) AS i) i
    )""",
    ]
    for t in range(1, iters + 1):
        chain.append(
            f"""m{t} AS MATERIALIZED (
      SELECT p.r, q.c,
             CASE WHEN p.r = q.c THEN 3.0 ELSE 0.0 END
             - CAST(SUM(CAST(ROUND(p.x * q.x, 12) AS DECIMAL(30,12)))
                    AS DOUBLE) AS x
      FROM z{t - 1} p JOIN y{t - 1} q ON p.c = q.r
      GROUP BY p.r, q.c
    ), y{t} AS MATERIALIZED (
      SELECT p.r, q.c,
             ROUND(0.5 * CAST(SUM(CAST(ROUND(p.x * q.x, 12)
                                       AS DECIMAL(30,12))) AS DOUBLE),
                   9) AS x
      FROM y{t - 1} p JOIN m{t} q ON p.c = q.r
      GROUP BY p.r, q.c
    ), z{t} AS MATERIALIZED (
      SELECT p.r, q.c,
             ROUND(0.5 * CAST(SUM(CAST(ROUND(p.x * q.x, 12)
                                       AS DECIMAL(30,12))) AS DOUBLE),
                   9) AS x
      FROM m{t} p JOIN z{t - 1} q ON p.c = q.r
      GROUP BY p.r, q.c
    )""",
        )
    wjoins = "\n      ".join(
        f"JOIN z{iters} w{j} ON w{j}.r = {j} AND w{j}.c = means.i"
        for j in range(1, n_out + 1)
    )
    wcols = ", ".join(
        f"w{j}.x / sqrt(t.s) AS x{j}" for j in range(1, n_out + 1)
    )
    chain.append(
        f"""wz AS MATERIALIZED (
      SELECT means.i AS r, means.mu, {wcols}
      FROM means
      {wjoins}
      CROSS JOIN tr t
    )"""
    )
    zcas = ",\n           ".join(
        f"ROUND(CAST(SUM(CAST(ROUND((vv.v[wz.r] - wz.mu) * wz.x{j}, 12)"
        f" AS DECIMAL(30,12))) AS DOUBLE), 6) + 0.0 AS zca{j}"
        for j in range(1, n_out + 1)
    )
    return (
        "\n    WITH "
        + ",\n    ".join(chain)
        + f"""
    SELECT vv.vid AS {id_col},
           {zcas}
    FROM vv
    CROSS JOIN wz
    GROUP BY vv.vid
"""
    )
