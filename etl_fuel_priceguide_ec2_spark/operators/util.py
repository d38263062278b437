"""Operator-level utilities."""

from __future__ import annotations

import math
import uuid

from pyspark.sql import Column, DataFrame, SparkSession


def _double_sql(x: float) -> str:
    # repr() is the shortest round-trip form; Spark's parser reads it
    # back to the bit-identical double. 'D' marks a DOUBLE literal
    # (a bare '1.5' parses as DECIMAL(2,1) in Spark SQL). SQL has no
    # nan/inf literal, so those parse Spark's special-value strings;
    # the coalesce keeps the element NOT NULL (a bare CAST is nullable,
    # which would widen the array type to containsNull=true).
    x = float(x)
    if math.isfinite(x):
        return repr(x) + "D"
    name = "NaN" if math.isnan(x) else ("Infinity" if x > 0 else "-Infinity")
    return f"coalesce(CAST('{name}' AS DOUBLE), 0.0D)"


def vec_sql(values) -> str:
    """``array<double>`` literal as SQL TEXT — bit- and type-identical
    to ``F.lit(list)`` for every double, NaN/±Inf/-0.0 included; an
    empty input renders ``array()`` (F.lit's ``array<null>``)."""
    return "array(" + ",".join(map(_double_sql, values)) + ")"


def mat_sql(rows) -> str:
    """``array<array<double>>`` literal as SQL TEXT (rows rendered by
    :func:`vec_sql`; same identity with ``F.lit``)."""
    return "array(" + ",".join(map(vec_sql, rows)) + ")"


def plan_barrier(df: DataFrame) -> DataFrame:
    """Stop Catalyst from re-expanding expensive projected expressions
    into every downstream reference (VERDICT r13 item 5 — the audited
    home of the former inline ``F.rand`` idiom).

    Why it exists: CollapseProject plus join-side predicate/hash
    generation happily inline a projected column's defining expression
    wherever the column is referenced. For cheap expressions that is
    the right call; for an argmin-over-centroids assignment tree it
    re-evaluates the whole fold per reference (measured 7x on the
    IVF2 composite-cell tree, ~3x on single-level IVF, join
    2.11 -> 0.30 s at sf0.1; see cosine_topk_ivf2_sq8).

    How: append a nondeterministic marker column — Catalyst must not
    collapse or duplicate a project containing a nondeterministic
    expression, so everything computed in that project is evaluated
    exactly once — then vacuously filter (``rand(seed=42) >= -1`` is
    always true: rand is uniform on [0, 1)) and drop the marker.
    Results are fully deterministic; no shuffle, no materialization.

    Maintenance note: the seed is irrelevant to results (the marker
    never escapes) and the threshold must simply stay vacuous. Do NOT
    "simplify" this to a deterministic marker — determinism is exactly
    what re-enables the collapse. tests/test_plan_shapes.py pins that
    the barrier actually prevents the duplicate evaluation."""
    from pyspark.sql import functions as F

    if "_plan_barrier" in df.columns:
        # withColumn would OVERWRITE the caller's column and drop would
        # then remove it from the output — silent data loss now that
        # this is a shared helper (code-review r14); collide loudly.
        raise ValueError(
            "plan_barrier: input already has a '_plan_barrier' column"
        )
    return (
        df.withColumn("_plan_barrier", F.rand(42))
        .filter(F.col("_plan_barrier") >= -1)
        .drop("_plan_barrier")
    )


def sql_over_frames(
    session: SparkSession, template: str, **frames: DataFrame
) -> DataFrame:
    """Analyze the SQL ``template`` ONCE in ``session``, each
    ``{name}`` placeholder bound to the DataFrame ``frames[name]``
    (``str.format`` rules: literal braces in the text are doubled).

    Like ``spark.sql(template, name=df)``, except the frames are
    registered as GLOBAL temp views: a streaming ``foreachBatch``
    micro-batch lives in a cloned session, and a plain temp view of a
    frame from one session is invisible to another. The views exist
    only for the parse; ``spark.sql`` analyzes eagerly, so the result
    keeps the frames' plans after they are dropped."""
    db = session.conf.get("spark.sql.globalTempDatabase", "global_temp")
    names = {key: f"_sql_over_{uuid.uuid4().hex}" for key in frames}
    try:
        for key, df in frames.items():
            df.createOrReplaceGlobalTempView(names[key])
        return session.sql(
            template.format(**{key: f"{db}.{n}" for key, n in names.items()})
        )
    finally:
        for n in names.values():
            session.catalog.dropGlobalTempView(n)


def plan_barrier_sql(relation: str, names) -> str:
    """:func:`plan_barrier` as SQL TEXT over the query ``relation``
    whose output columns are ``names`` — the same marker, vacuous
    filter and drop, for operators that render a whole plan as one
    statement."""
    cols = ", ".join(names)
    return (
        f"SELECT {cols} FROM (SELECT *, rand(42) AS _plan_barrier "
        f"FROM ({relation})) WHERE _plan_barrier >= -1"
    )


def iteration_pin(checkpoint_dir: str | None = None):
    """The ONE switch between the two lineage-truncation modes every
    iterative operator (pagerank/hits/connected_components) threads
    through its loop (VERDICT r15 item 3):

    - ``checkpoint_dir=None`` (default): ``localCheckpoint(eager=True)``
      — fast (executor-local blocks, no FS round-trip), but those
      blocks are UNRECOVERABLE on executor loss: on a preemptible
      100 TB cluster, losing one executor at iteration 30 kills the
      whole job. The right default for local/interactive runs and
      non-preemptible clusters.
    - ``checkpoint_dir="hdfs://..."``: reliable ``.checkpoint()`` —
      state is written to the (fault-tolerant) checkpoint FS each
      round, so iteration state survives executor loss at the cost of
      one FS write+read per pin. Opt in for long multi-hour runs on
      preemptible fleets. Results are bit-identical either way
      (test-pinned); only durability and cost differ.

    Note ``setCheckpointDir`` is SparkContext-global: the helper sets
    it on first use and later callers may override it — callers sharing
    a session should pass the same directory.

    Retention: Spark deletes reliable checkpoint data only when
    ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` (default
    false) — a RECURRING job using ``checkpoint_dir`` should either
    set that conf or use a per-run directory it removes afterwards,
    or the checkpoint FS accumulates one full relation snapshot per
    pin for the cluster's life (code-review r16; SCALE.md)."""
    if checkpoint_dir is None:
        return lambda df: df.localCheckpoint(eager=True)

    def _pin(df: DataFrame) -> DataFrame:
        sc = df.sparkSession.sparkContext
        # getCheckpointDir() returns the scheme-qualified dir PLUS a
        # random per-set UUID subdir (e.g. 'file:/d/0bfb...'), so a
        # naive equality guard never matches and every pin would
        # re-run setCheckpointDir — an FS mkdirs plus a fresh UUID dir
        # per iteration, scattering ~N checkpoint dirs over a long run
        # (code-review r16). Two guards: the dir WE last set on this
        # context (exact, works for any URI form Hadoop may re-qualify
        # beyond recognition), then a scheme-insensitive parent match
        # against the live value (covers an externally-set same dir).
        if getattr(
            sc, "_iteration_pin_ckdir", None
        ) != checkpoint_dir and not _checkpoint_dir_matches(
            sc.getCheckpointDir(), checkpoint_dir
        ):
            sc.setCheckpointDir(checkpoint_dir)
        sc._iteration_pin_ckdir = checkpoint_dir
        return df.checkpoint(eager=True)

    return _pin


def _strip_file_scheme(p: str) -> str:
    # 'file:/x', 'file://x', and 'file:///x' all name local path '/x'
    if p.startswith("file:"):
        rest = p[5:]
        while rest.startswith("//"):
            rest = rest[1:]
        return rest
    return p


def _checkpoint_dir_matches(current: str | None, target: str) -> bool:
    """True iff ``current`` (SparkContext.getCheckpointDir(): the
    scheme-qualified target plus Spark's per-set UUID subdir) already
    lives under ``target``. Local targets compare with the ``file:``
    scheme variants normalized away; other schemes compare as-is (a
    Hadoop-requalified authority won't match — the per-context
    last-set guard in ``iteration_pin`` covers that case)."""
    if not current:
        return False
    parent = current.rstrip("/").rsplit("/", 1)[0]
    return _strip_file_scheme(parent) == _strip_file_scheme(target.rstrip("/"))


def round_like_duckdb(col: Column, digits: int) -> Column:
    """ROUND(double, d) in DuckDB's model — scale in DOUBLE, round the
    scaled value to an integer (ties away from zero), scale back —
    replicated on the Spark side wherever a rounded DOUBLE quotient
    feeds a cross-engine value-hash.

    Why: Spark's native ROUND rounds the SHORTEST DECIMAL REPR of the
    double (BigDecimal HALF_UP), so a quotient whose repr carries a 5
    one digit past the target scale rounds UP even when the scaled
    double sits just under the .5 boundary — where DuckDB, which
    multiplies by 10^d in double first, rounds DOWN. Empirically
    (code-review r16): 0.0019953703705 at 12 dp -> Spark native
    0.001995370371 vs DuckDB 0.00199537037; pagerank's pr/out-degree
    hits this on ordinary graphs (out-degree 2, odd 12th digit), so
    its bit-identical-iterations contract was false. Under this model
    both engines perform the identical IEEE multiply, tie-away
    integer round, and divide — bit-for-bit agreement restored. Exact
    ties (scaled value representable as K + 0.5) round away from zero
    in both engines (verified)."""
    from pyspark.sql import functions as F

    scale = F.lit(float(10**digits))
    return F.round(col * scale, 0) / scale


def longs_lit(values) -> Column:
    """``array<bigint>`` literal in ONE py4j call — the integer sibling
    of :func:`vec_lit` (minhash permutation indices, simhash bit
    masks). LONG_MIN needs the subtraction form: the SQL lexer reads
    the positive magnitude first, which overflows before unary minus
    applies. Values outside int64 raise ``ValueError``."""
    from pyspark.sql import functions as F

    parts = []
    for v in map(int, values):
        if not -(1 << 63) <= v < (1 << 63):
            raise ValueError(f"longs_lit: {v} is outside the int64 range")
        parts.append(
            "(-9223372036854775807L - 1L)" if v == -(1 << 63) else f"{v}L"
        )
    return F.expr("array(" + ",".join(parts) + ")")


def vec_lit(values) -> Column:
    """``array<double>`` literal built in ONE py4j call.

    ``F.lit(list)`` constructs nested literals element-by-element —
    one gateway round-trip per element (a 64-dim means vector ~ 65
    calls, a 16x16x4 PQ codebook ~ 1 000+). For the driver-fit
    broadcast state this engine carries (centroids, codebooks, means,
    eigvecs) that made *Python-side plan construction* the dominant
    cost of warm ANN queries — measured 3.4 s of the 5.5 s
    ``similarity_topk_ivf_pq`` wall at sf0.1, 2.6 s of it inside
    ``F.lit``. Emitting the whole literal as one SQL string
    (:func:`vec_sql`) is a single round-trip and parses to the
    bit-identical Catalyst ``Literal`` for every input (test-pinned)."""
    from pyspark.sql import functions as F

    return F.expr(vec_sql(values))


def mat_lit(rows) -> Column:
    """``array<array<double>>`` literal in ONE py4j call — the
    codebook/centroid-matrix form of :func:`vec_lit` (same rationale,
    same bit-identical guarantee)."""
    from pyspark.sql import functions as F

    return F.expr(mat_sql(rows))


def _total_file_bytes(df: DataFrame, files: list[str]) -> int | None:
    """Sum file sizes via the Hadoop FS API (works for any scheme the
    session can read). None if any file can't be statted."""
    sc = df.sparkSession.sparkContext
    jvm = sc._jvm
    hconf = sc._jsc.hadoopConfiguration()
    total = 0
    try:
        for f in files:
            p = jvm.org.apache.hadoop.fs.Path(f)
            fs = p.getFileSystem(hconf)
            total += fs.getFileStatus(p).getLen()
    except Exception:
        return None
    return total


def fan_out(df: DataFrame) -> DataFrame:
    """Ensure CPU-heavy per-row stages get cluster-wide parallelism.

    Small fixture tables arrive as a single parquet row group → one
    input split → one task, serializing heavy higher-order-function
    work (shingling, minhash, dot products) onto one core. At real
    scale the scan already yields thousands of splits and this is a
    no-op (we only repartition when the scan genuinely has fewer splits
    than the cluster's parallelism — never an extra shuffle on big
    inputs).

    The parallelism policy — the one place the engine decides it:

    - The operator that does the per-row CPU work calls ``fan_out`` on
      the corpus relation it was handed, at most once per relation.
    - A query batch is never widened: it is a handful of rows, broadcast
      or probed, and a round-robin shuffle of it is one more job of pure
      scheduling cost per request.
    - A registry builder or other caller never widens; it hands the
      operator the plain relation.
    - A relation an enclosing operator already widened and checkpointed
      is not widened again: it is already at ``defaultParallelism``
      partitions, and this call returns it unchanged. A nested call on
      a widened but lazy relation adds a second ``Repartition`` that
      Catalyst's CollapseRepartition folds into one exchange.

    The split estimate is planner-informed, not RDD-probed: a
    ``df.rdd.getNumPartitions()`` probe forces a full plan→RDD
    conversion on the driver (~0.1 s per fresh DataFrame, measured —
    it dominated the build time of cheap ANN queries), while
    ``inputFiles()`` + a Hadoop-FS size stat costs ~10 ms. Each file
    yields at least one split, plus one split per
    ``spark.sql.files.maxPartitionBytes`` (as the session parses it,
    units included) of input; the RDD probe remains only as the
    fallback for non-file relations (in-memory, post-join,
    checkpointed) where no file listing exists.
    """
    if df.isStreaming:
        # streaming relations can't be partition-probed (df.rdd is a
        # batch-only API) and get their parallelism from the source's
        # partitioning per micro-batch — pass through untouched so every
        # map-only operator here stays streaming-compatible
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        files = df.inputFiles()
    except Exception:
        files = []
    if files:
        if len(files) >= target:
            return df  # >= one split per file: already wide enough
        total = _total_file_bytes(df, files)
        if total is not None:
            split = (
                df.sparkSession._jsparkSession.sessionState()
                .conf()
                .filesMaxPartitionBytes()
            )
            if len(files) + total // split >= target:
                return df  # big files split by maxPartitionBytes
            return df.repartition(target)
    # non-file relation (or stat failure): exact probe as fallback
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def global_row_number(
    df: DataFrame,
    order_cols: list[str],
    out_col: str = "rn",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact 1-based global row_number over ``order_cols`` WITHOUT the
    single-partition global-window anti-pattern (the HITS round-8
    lesson: ``Window.orderBy(...)`` with no partitionBy funnels every
    row through one task).

    Two-pass distributed rank (the zipWithIndex shape, DataFrame-only):
    range-repartition on the order columns (partition p holds a
    contiguous key range), sort WITHIN partitions, read each row's
    partition-local position out of ``monotonically_increasing_id``
    (documented layout: partition id in the upper bits, a
    consecutive-from-0 record index in the lower 33), then add
    per-partition offsets — a #partitions-row cumulative sum joined
    back broadcast. One full-data exchange total: the naive
    ``Window.partitionBy(spark_partition_id())`` form costs a SECOND
    full-data hash exchange because the planner can't see that the
    window keys are already co-located. Ranks depend only on the total
    order, not on where the sampled range boundaries land, so the
    result is deterministic even though ``repartitionByRange`` samples
    its bounds; callers must pass order columns that form a STRICT
    total order (include a unique id as the last column). Lower-33-bit
    record index caps partitions at 2^33 rows — size num_partitions so
    a partition holds well under that (you want that anyway).
    """
    from pyspark.sql import Window, functions as F

    cols = [F.col(c) for c in order_cols]
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    # localCheckpoint pins ONE materialization of the nondeterministic
    # relation (sampled range exchange + monotonically_increasing_id):
    # both consumers below — the per-partition counts and the rank join
    # — must see identical partitioning/indices, and without the pin
    # that only held via Catalyst exchange reuse, which a plan change
    # (reuse disabled, cached variant, DPP) could silently break
    # (ADVICE r09). Lazy: the first job to touch it materializes it.
    local = (
        df.repartitionByRange(n, *cols)
        .sortWithinPartitions(*cols)
        .select(
            "*",
            F.spark_partition_id().alias("__pid"),
            (F.monotonically_increasing_id() % F.lit(1 << 33)).alias("__lidx"),
        )
        .localCheckpoint(eager=False)
    )
    # #partitions rows: the cumsum window is over a relation the size
    # of the partition count, not the data. The partition key is the
    # CONSTANT `__pid % 1` (always 0) — same single-partition execution
    # over the tiny relation, but it keeps WindowExec from logging its
    # "No Partition Defined ... serious performance degradation"
    # warning on every run, which reads as if the DATA were being
    # funneled through one task (VERDICT r09 item 7). A literal 0
    # doesn't work: Catalyst folds foldable partition expressions away
    # and the warning comes back; `__pid % 1` is column-dependent, so
    # it survives to WindowExec.
    offsets = (
        local.groupBy("__pid")
        .agg(F.count(F.lit(1)).alias("__cnt"))
        .withColumn(
            "__off",
            F.sum("__cnt").over(
                Window.partitionBy(F.col("__pid") % F.lit(1))
                .orderBy("__pid")
                .rowsBetween(Window.unboundedPreceding, -1)
            ),
        )
        .select("__pid", F.coalesce("__off", F.lit(0)).alias("__off"))
    )
    return (
        local.join(F.broadcast(offsets), "__pid")
        .withColumn(out_col, (F.col("__lidx") + 1 + F.col("__off")).cast("long"))
        .drop("__pid", "__lidx", "__off")
    )
