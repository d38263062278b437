"""X4 — text analysis: token counting, quality scoring, language ID,
document fingerprinting.

All hot-path expressions are built-in SQL functions (regexp_count,
split, aggregate) — JVM-side, whole-stage codegen, embarrassingly
parallel; no Python in the row path. Each has an exact DuckDB oracle
formulation in registry.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_fuel_priceguide_ec2_spark.operators.util import fan_out

# tiny per-language stopword marker sets for the n-gram/stopword
# language-ID heuristic; word-boundary regexes keep it SQL-expressible.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a"],
    "es": ["el", "la", "de", "que", "y"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "et", "les", "des"],
    "zh": ["的", "是", "在", "了", "我"],
}

_WS = r"\s+"
# BPE-ish pre-tokenizer: word pieces OR single non-space punctuation,
# approximating a GPT-2-style pre-tokenization split.
BPE_TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def token_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-doc token/char statistics (whitespace + BPE-ish regex
    tokenizations)."""
    df = fan_out(df)
    trimmed = F.trim(F.col(text_col))
    return df.select(
        F.col(id_col),
        F.length(trimmed).alias("n_chars_actual"),
        F.size(F.split(trimmed, _WS)).alias("n_tokens_ws"),
        F.regexp_count(trimmed, F.lit(BPE_TOKEN_RE)).alias("n_tokens_bpe"),
        F.size(F.array_distinct(F.split(trimmed, _WS))).alias("n_unique_tokens"),
    )


def quality_score(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Composite quality score in [0,1]: length band + stopword ratio +
    alpha ratio — the standard cheap pre-filter for LLM corpora.
    Deterministic integer/decimal arithmetic so oracles match."""
    df = fan_out(df)
    trimmed = F.trim(F.col(text_col))
    n_tokens = F.size(F.split(trimmed, _WS))
    n_stop = F.regexp_count(trimmed, F.lit(r"\b(the|and|of|to|a)\b"))
    n_alpha = F.regexp_count(trimmed, F.lit(r"[A-Za-z]"))
    n_chars = F.length(trimmed)
    len_score = F.when((n_tokens >= 20) & (n_tokens <= 1000), F.lit(1.0)).otherwise(F.lit(0.0))
    stop_ratio = F.round(n_stop / n_tokens, 6)
    alpha_ratio = F.round(n_alpha / n_chars, 6)
    score = F.round((len_score + F.least(stop_ratio * 5, F.lit(1.0)) + alpha_ratio) / 3, 6)
    return df.select(
        F.col(id_col),
        n_tokens.alias("n_tokens"),
        stop_ratio.alias("stop_ratio"),
        alpha_ratio.alias("alpha_ratio"),
        score.alias("quality_score"),
    )


def lang_id(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Stopword-marker language ID: count word-boundary hits of each
    language's marker set; argmax wins, 'en' on ties (deterministic
    via fixed language order)."""
    scores = [
        F.regexp_count(
            F.col(text_col), F.lit(r"\b(" + "|".join(words) + r")\b")
        ).alias(f"score_{lang}")
        for lang, words in LANG_MARKERS.items()
    ]
    scored = fan_out(df).select(F.col(id_col), F.col(text_col), *scores)
    langs = list(LANG_MARKERS)
    best = F.greatest(*[F.col(f"score_{l}") for l in langs])
    pred = F.lit("und")
    for lang in reversed(langs):  # earlier langs win ties → build last-to-first
        pred = F.when(F.col(f"score_{lang}") == best, F.lit(lang)).otherwise(pred)
    pred = F.when(best == 0, F.lit("und")).otherwise(pred)
    return scored.select(F.col(id_col), pred.alias("pred_lang"))


def fingerprint(df: DataFrame, id_col: str, text_col: str, mod: int = 1_000_000_007) -> DataFrame:
    """Polynomial rolling-hash document fingerprint:
    h = fold(chars, h*31 + code mod p). Pure Catalyst higher-order
    aggregate over the char array — portable (same fold in DuckDB's
    list_reduce) and deterministic."""
    chars = F.split(F.col(text_col), "")
    return fan_out(df).select(
        F.col(id_col),
        F.aggregate(
            chars,
            F.lit(0).cast("long"),
            lambda acc, ch: (acc * 31 + F.ascii(ch)) % mod,
        ).alias("fingerprint"),
    )


def _tokens(df: DataFrame, text_col: str, extra_cols: list[str]) -> DataFrame:
    return fan_out(df).select(
        *extra_cols,
        F.explode(F.split(F.trim(F.col(text_col)), _WS)).alias("token"),
    ).filter(F.col("token") != "")


def tfidf_top_terms(df: DataFrame, id_col: str, text_col: str, k: int = 3) -> DataFrame:
    """TF-IDF with smoothed idf = ln((N+1)/(df+1)) + 1; top-k terms per
    doc (ties broken by token asc). Two hash aggregates + one window —
    tf and df are both map-side-combined counts; the doc count N is a
    broadcast scalar, not a shuffle."""
    from pyspark.sql import Window

    toks = _tokens(df, text_col, [id_col])
    tf = toks.groupBy(id_col, "token").agg(F.count(F.lit(1)).alias("tf"))
    n_docs = df.count()
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(dfreq, "token")
        .withColumn(
            "tfidf",
            F.round(F.col("tf") * (F.log((F.lit(n_docs) + 1) / (F.col("df") + 1)) + 1), 6),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.col("tfidf").desc(), F.col("token").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "token", "tf", "df", "tfidf", "rank")
    )


def vocabulary(df: DataFrame, text_col: str, k: int = 20) -> DataFrame:
    """Corpus vocabulary: top-k tokens by total frequency (the
    vocabulary-building pass of a tokenizer-training pipeline). One
    hash aggregate + a single-partition top-k (k is tiny)."""
    from pyspark.sql import Window

    counts = _tokens(df, text_col, []).groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    w = Window.orderBy(F.col("n").desc(), F.col("token").asc())
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("token", "n", "rank")
    )


def bigram_top_per_lang(df: DataFrame, lang_col: str, text_col: str, k: int = 5) -> DataFrame:
    """Top-k word bigrams per language — n-gram language-model counts.
    Bigrams come from the per-row higher-order slide (no shuffle until
    the count aggregate)."""
    from pyspark.sql import Window

    toks = F.split(F.trim(F.col(text_col)), _WS)
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - 2, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, 2)),
    )
    exploded = fan_out(df).select(F.col(lang_col), F.explode(grams).alias("bigram")).filter(
        F.col("bigram").contains(" ")
    )
    counts = exploded.groupBy(lang_col, "bigram").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy(lang_col).orderBy(F.col("n").desc(), F.col("bigram").asc())
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(lang_col, "bigram", "n", "rank")
    )


def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_tokens: int = 64,
    overlap: int = 16,
) -> DataFrame:
    """Split documents into overlapping token-window chunks — the
    pretraining-corpus chunker. Stride = chunk_tokens - overlap; output
    one row per chunk with its text and token count. Pure per-row
    higher-order fns (sequence → slice → join): embarrassingly parallel,
    no shuffle, no Python."""
    stride = chunk_tokens - overlap
    toks = F.split(F.trim(F.col(text_col)), _WS)
    n = F.size(toks)
    starts = F.sequence(F.lit(0), F.greatest(((n - 1) / stride).cast("int") * stride, F.lit(0)), F.lit(stride))
    return (
        fan_out(df)
        .select(
            F.col(id_col),
            n.alias("__n"),
            F.posexplode(
                F.transform(starts, lambda s: F.concat_ws(" ", F.slice(toks, s + 1, chunk_tokens)))
            ).alias("chunk_id", "chunk_text"),
        )
        .filter(F.col("chunk_text") != "")
        .select(
            F.col(id_col),
            F.col("chunk_id"),
            F.col("chunk_text"),
            F.size(F.split(F.col("chunk_text"), _WS)).alias("chunk_tokens"),
        )
    )


def pack_chunks(
    chunks: DataFrame, id_col: str, order_cols: list[str], token_col: str, budget: int = 256
) -> DataFrame:
    """Sequence packing by start-offset binning: one window cumsum,
    bin = floor((cum - tok) / budget) — the distributed packing scheme
    (true first-fit is inherently sequential). Invariant: every chunk
    STARTS inside its bin's budget window, so a bin overflows by at
    most one straddling chunk (total < budget + that chunk's tokens);
    trainers that hard-cap the context drop or truncate the straddler.
    Deterministic via an explicit total order; chunks never split."""
    from pyspark.sql import Window

    w = Window.orderBy(*[F.col(c).asc() for c in order_cols]).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = F.sum(F.col(token_col)).over(w)
    return chunks.select(
        id_col,
        *order_cols[1:],
        F.col(token_col),
        F.floor((cum - F.col(token_col)) / budget).alias("bin_id"),
    )


def pack_chunks_by_group(
    chunks: DataFrame,
    group_col: str,
    id_col: str,
    order_cols: list[str],
    token_col: str,
    budget: int = 256,
) -> DataFrame:
    """The DISTRIBUTED form of ``pack_chunks`` — closes the documented
    §4 caveat (docs/SCALE.md): the flat packer needs one global-order
    window (single reducer); this one packs WITHIN each group
    (lang/source/date — any natural corpus partition) under a
    group-partitioned window, then makes bin ids globally dense by
    adding per-group offsets = the exclusive running sum of per-group
    bin counts. The offset relation is |groups| rows — the only
    non-group-parallel step shrinks from "every chunk row" to "one row
    per group", and it joins back as a broadcast.

    Same packing invariant per group as pack_chunks (every chunk
    STARTS inside its bin's budget; overflow bounded by one straddling
    chunk), same determinism via the explicit in-group total order.
    Bins never span groups — the property that lets each group pack in
    parallel.

    Density caveat (same straddling-chunk caveat as pack_chunks,
    ADVICE r05): GLOBAL density of bin ids holds only when every
    chunk's token count fits the budget. A chunk with token_col >
    budget makes floor((cum - tokens)/budget) skip integers inside its
    group, so ids stay unique and monotone but can be sparse; the
    per-group offset uses MAX(local_bin)+1 so downstream groups shift
    by the same (sparse) count and ids never collide either way."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy(group_col)
        .orderBy(*[F.col(c).asc() for c in order_cols])
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum(F.col(token_col)).over(w)
    local = chunks.select(
        group_col,
        id_col,
        *order_cols[1:],
        F.col(token_col),
        F.floor((cum - F.col(token_col)) / budget).alias("_local_bin"),
    )
    counts = local.groupBy(group_col).agg(
        (F.max("_local_bin") + 1).alias("_n_bins")
    )
    wg = Window.orderBy(F.col(group_col).asc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = counts.select(
        group_col,
        F.coalesce(F.sum("_n_bins").over(wg), F.lit(0)).alias("_off"),
    )
    return (
        local.join(F.broadcast(offsets), group_col)
        .select(
            group_col,
            id_col,
            *order_cols[1:],
            token_col,
            (F.col("_off") + F.col("_local_bin")).alias("bin_id"),
        )
    )


PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\+?\d[\d\- ]{7,}\d",
    "ssn": r"\b\d{3}-\d{2}-\d{4}\b",
}


def scrub_pii(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """PII redaction: regex-replace emails/phones/SSNs with typed
    sentinels; emits per-row redaction counts for audit. All
    regexp_replace/regexp_count — JVM-side, chainable before any other
    text op."""
    scrubbed = F.col(text_col)
    counts = []
    for name, pat in PII_PATTERNS.items():
        counts.append(F.regexp_count(F.col(text_col), F.lit(pat)).alias(f"n_{name}"))
        scrubbed = F.regexp_replace(scrubbed, pat, f"<{name.upper()}>")
    return fan_out(df).select(F.col(id_col), scrubbed.alias("scrubbed_text"), *counts)


def stratified_take(
    df: DataFrame, strata_col: str, order_col: str, n_per_stratum: int
) -> DataFrame:
    """Deterministic stratified subsample: first ``n_per_stratum`` rows
    per stratum by an explicit order — label-balanced dataset curation
    with reproducible membership (vs sampleBy's RNG)."""
    from pyspark.sql import Window

    w = Window.partitionBy(strata_col).orderBy(F.col(order_col).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n_per_stratum)
        .drop("__rn")
    )


def _word_ngrams(text_col: str, n: int):
    """Column expr: array of word n-grams (lowercased, whitespace
    tokens) — per-row higher-order fns, zero shuffle."""
    toks = F.split(F.lower(F.trim(F.col(text_col))), _WS)
    return F.filter(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        ),
        lambda g: g != "",
    )


def contamination_check(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    bench_id: str,
    bench_text: str,
    n: int = 5,
) -> DataFrame:
    """Benchmark-contamination scan: for every (corpus doc, benchmark
    item) pair sharing at least one word ``n``-gram, report the number
    of distinct shared n-grams and the contaminated fraction of the
    benchmark item (n_overlap / benchmark n-gram count).

    The standard eval-hygiene gate before training: docs with high
    contamination against a test set are dropped or flagged.

    100 TB design: the benchmark side is SMALL by definition (eval sets
    are thousands of items) — its exploded n-gram hashes broadcast, so
    the corpus scan stays shuffle-free until the final per-pair count
    aggregate (which carries only matched pairs, a tiny fraction of the
    corpus). 8-byte xxhash64 n-gram keys, never strings.
    """
    d = fan_out(docs).select(
        F.col(id_col),
        F.explode(
            F.array_distinct(
                F.transform(_word_ngrams(text_col, n), lambda g: F.xxhash64(g))
            )
        ).alias("gh"),
    )
    b_grams = benchmark.select(
        F.col(bench_id),
        F.array_distinct(
            F.transform(_word_ngrams(bench_text, n), lambda g: F.xxhash64(g))
        ).alias("ghs"),
    )
    b = b_grams.select(
        F.col(bench_id),
        F.size("ghs").alias("bench_ngrams"),
        F.explode("ghs").alias("gh"),
    )
    return (
        d.join(F.broadcast(b), "gh")
        .groupBy(id_col, bench_id, "bench_ngrams")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
        .select(
            id_col,
            bench_id,
            "n_overlap",
            "bench_ngrams",
            F.round(F.col("n_overlap") / F.col("bench_ngrams"), 6).alias("contamination"),
        )
    )


def repetition_signals(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Gopher-style repetition quality signals, all per-row (zero
    shuffle): duplicate word-bigram/trigram fractions
    (1 - distinct/total) and the top-token fraction (most frequent
    token's share of all tokens).

    The top-token mode is O(unique x total) per row via nested
    higher-order fns — fine for natural documents (hundreds of unique
    tokens); for pathological million-token rows, chunk first
    (chunk_documents) like every other per-row text op here.
    """
    toks = F.filter(F.split(F.lower(F.trim(F.col(text_col))), _WS), lambda t: t != "")
    uniq = F.array_distinct(toks)
    top_count = F.array_max(
        F.transform(uniq, lambda u: F.size(F.filter(toks, lambda t: t == u)))
    )

    def dup_frac(n: int):
        grams = _word_ngrams(text_col, n)
        return F.when(F.size(grams) > 0,
                      F.round(1 - F.size(F.array_distinct(grams)) / F.size(grams), 6)
                      ).otherwise(F.lit(None).cast("double"))

    return fan_out(df).select(
        F.col(id_col),
        dup_frac(2).alias("dup_bigram_frac"),
        dup_frac(3).alias("dup_trigram_frac"),
        F.when(F.size(toks) > 0,
               F.round(top_count / F.size(toks), 6)).otherwise(F.lit(None).cast("double")
               ).alias("top_token_frac"),
    )


def unigram_logprob_score(
    df: DataFrame, id_col: str, text_col: str, vocab_top_k: int | None = None
) -> DataFrame:
    """Corpus-unigram-LM quality score: mean ln P(token) per document
    under the corpus's own (add-one-smoothed) unigram distribution.
    Low scores flag gibberish / OOV-heavy / machine-generated text —
    the cheap statistical cousin of perplexity filtering.

    Plan: one token-count aggregate (map-side combined, carries one row
    per vocab entry), then tokens re-join the counts and fold back per
    doc.

    ``vocab_top_k`` is the 100 TB knob: keep only the top-K vocab
    entries by count (deterministic ties on token asc) and BROADCAST
    them — the scoring join then never shuffles the corpus. Tail tokens
    score at the smoothing floor ln(1/(n_total+n_vocab)), exactly what
    add-one smoothing assigns a count-0 token; totals still reflect the
    full corpus, so head-token probabilities are unchanged. Vocab
    follows Zipf, so K in the low millions (a few hundred MB broadcast)
    covers >99.9% of token mass. Default None = exact (the
    oracle-matched form).
    """
    toks = _tokens(df.select(F.col(id_col), F.lower(F.col(text_col)).alias("__t")), "__t", [id_col])
    vocab = toks.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    totals = vocab.agg(
        F.sum("cnt").alias("n_total"), F.count(F.lit(1)).alias("n_vocab")
    )
    if vocab_top_k is not None:
        # orderBy+limit plans as TakeOrderedAndProject — distributed
        # partial top-K per partition, never a single-partition sort
        head = vocab.orderBy(F.col("cnt").desc(), F.col("token").asc()).limit(
            vocab_top_k
        )
        scored = (
            toks.join(F.broadcast(head), "token", "left")
            .crossJoin(F.broadcast(totals))
            .select(
                F.col(id_col),
                F.log(
                    (F.coalesce(F.col("cnt"), F.lit(0)) + 1)
                    / (F.col("n_total") + F.col("n_vocab"))
                ).alias("lp"),
            )
        )
    else:
        scored = (
            toks.join(vocab, "token")
            .crossJoin(F.broadcast(totals))
            .select(
                F.col(id_col),
                F.log((F.col("cnt") + 1) / (F.col("n_total") + F.col("n_vocab"))).alias("lp"),
            )
        )
    return scored.groupBy(id_col).agg(
        F.round(F.avg("lp"), 6).alias("avg_logprob"),
        F.count(F.lit(1)).alias("n_tokens"),
    )


def bpe_merge_candidates(
    df: DataFrame, text_col: str, k: int = 20
) -> DataFrame:
    """The first step of BPE tokenizer training: count adjacent
    CHARACTER-pair frequencies over the corpus token stream (with
    multiplicity — the merge score is corpus frequency, not document
    frequency) and rank the top-k merge candidates. Output:
    (pair, n_occurrences, rank), ties broken by pair asc.

    Simplification vs full BPE: no end-of-word marker and single
    round (real training re-tokenizes after each merge — an
    inherently sequential loop whose per-round counting pass is
    exactly this relation).

    100 TB shape: split + transform + explode are per-row codegen (no
    Python); the pair count is one map-side-combined hash aggregate
    whose key space is bounded by |alphabet|^2, so the shuffle carries
    a few thousand rows per map partition regardless of corpus size;
    the top-k is a single-partition window over that tiny relation.
    Character ops are UTF-8-aware in both engines (zh documents count
    identically)."""
    from pyspark.sql import Window

    toks = df.select(
        F.explode(F.split(F.trim(F.col(text_col)), _WS)).alias("token")
    ).filter(F.length("token") >= 2)
    # the length guard above is load-bearing: sequence(1, 0) in Spark
    # infers a DESCENDING step and yields [1, 0], not [] (the same trap
    # bloom_membership_report guards against)
    pairs = toks.select(
        F.explode(
            F.expr("transform(sequence(1, length(token) - 1), i -> substring(token, i, 2))")
        ).alias("pair")
    )
    counts = pairs.groupBy("pair").agg(F.count(F.lit(1)).alias("n_occurrences"))
    w = Window.orderBy(F.col("n_occurrences").desc(), F.col("pair").asc())
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("pair", "n_occurrences", "rank")
    )


def _bpe_state_loop(df: DataFrame, text_col: str, iters: int):
    """Shared BPE training loop: returns (final syms relation, list of
    per-iteration merge-row DataFrames). Used by ``bpe_learn_merges``
    (the merge table) and ``bpe_encode_words`` (the final encoding) —
    one implementation, two projections of its state."""
    from pyspark.sql import Window

    if iters < 1:
        raise ValueError("iters must be >= 1")
    toks = df.select(
        F.explode(F.split(F.trim(F.col(text_col)), _WS)).alias("w")
    ).filter(F.col("w").rlike("^[A-Za-z]{2,}$"))
    wrds = toks.groupBy(F.lower(F.col("w")).alias("word")).agg(
        F.count(F.lit(1)).alias("wcount")
    )
    syms = (
        wrds.select(
            "word",
            "wcount",
            F.explode(F.sequence(F.lit(1), F.length("word"))).alias("pos"),
        )
        .select(
            "word",
            "wcount",
            F.col("pos").cast("long").alias("pos"),
            F.expr("substring(word, cast(pos as int), 1)").alias("sym"),
        )
        .localCheckpoint(eager=True)
    )
    w_word = Window.partitionBy("word").orderBy("pos")
    merge_rows = []
    for i in range(1, iters + 1):
        adj = syms.withColumn("nxt", F.lead("sym").over(w_word))
        best = (
            adj.filter(F.col("nxt").isNotNull())
            .groupBy(F.col("sym").alias("a"), F.col("nxt").alias("b"))
            .agg(F.sum("wcount").alias("cnt"))
            .orderBy(F.col("cnt").desc(), F.col("a").asc(), F.col("b").asc())
            .limit(1)
        )
        occ = adj.join(
            F.broadcast(best),
            (adj["sym"] == best["a"]) & (adj["nxt"] == best["b"]),
        ).select("word", "pos")
        runs = occ.withColumn(
            "grp", F.col("pos") - F.row_number().over(w_word)
        )
        kept = (
            runs.withColumn(
                "idx",
                F.row_number().over(
                    Window.partitionBy("word", "grp").orderBy("pos")
                ),
            )
            .filter(F.col("idx") % 2 == 1)
            .select("word", "pos")
        )
        kh = kept.select("word", F.col("pos").alias("pos"), F.lit(1).alias("_kh"))
        kp = kept.select("word", (F.col("pos") + 1).alias("pos"), F.lit(1).alias("_kp"))
        syms = (
            adj.join(kh, ["word", "pos"], "left")
            .join(kp, ["word", "pos"], "left")
            .filter(F.col("_kp").isNull())
            .select(
                "word",
                "wcount",
                "pos",
                F.when(
                    F.col("_kh").isNotNull(), F.concat("sym", "nxt")
                ).otherwise(F.col("sym")).alias("sym"),
            )
            .withColumn("pos", F.row_number().over(w_word).cast("long"))
            .localCheckpoint(eager=True)
        )
        total_after = syms.agg(F.sum("wcount").alias("_tot"))
        merge_rows.append(
            best.crossJoin(F.broadcast(total_after)).select(
                F.lit(i).alias("iter"),
                F.col("a").alias("left_sym"),
                F.col("b").alias("right_sym"),
                F.concat("a", "b").alias("merged"),
                F.col("cnt").alias("pair_count"),
                F.col("_tot").cast("long").alias("corpus_symbols_after"),
            )
        )
    return syms, merge_rows


def bpe_learn_merges(
    df: DataFrame, text_col: str, iters: int = 3
) -> DataFrame:
    """FULL BPE tokenizer training for a fixed number of merges — the
    sequential loop ``bpe_merge_candidates`` is one counting pass of.
    Output: one row per learned merge, (iter, left_sym, right_sym,
    merged, pair_count, corpus_symbols_after), with real BPE
    semantics: after each merge the corpus is RE-TOKENIZED, and
    overlapping occurrences of a self-pair (``aa`` in ``aaaa``) merge
    greedily left-to-right (positions 1 and 3, never 2).

    The scale insight that makes training distributable: BPE state is
    the WORD-FREQUENCY table, not the token stream — |vocab| words
    (Heaps' law: ~1M at 100 TB) each carried once with a count, so a
    petabyte corpus collapses to a few-hundred-MB symbol relation
    after one map-side-combined aggregate. Per iteration: one
    window-lead (partitioned by word — parallel), one bounded pair
    aggregate (|alphabet|^2 keys), one 1-row argmax broadcast back as
    an equi-join (NOT a crossJoin: an empty best pair must leave the
    corpus intact, not annihilate it), and the greedy-overlap rebuild
    as two windows over occurrence runs (pos - row_number run
    grouping; odd index within run wins). State localCheckpoints per
    iteration (the pagerank/CC lesson). All-integer counting; ties
    break (count DESC, pair ASC), so every learned merge is
    bit-identical to the DuckDB unrolled-CTE replay."""
    _, merge_rows = _bpe_state_loop(df, text_col, iters)
    out = merge_rows[0]
    for m in merge_rows[1:]:
        out = out.unionAll(m)
    return out


def bpe_encode_words(
    df: DataFrame, text_col: str, iters: int = 3
) -> DataFrame:
    """APPLY the learned tokenizer — the other half of the BPE story:
    after ``iters`` merges, the per-word final segmentation. Output:
    (word, wcount, n_tokens, encoded) — encoded is the space-joined
    symbol sequence (string-serialized: list columns don't survive the
    driver's dtype-sensitive compare).

    The 100 TB shape is the same Heaps'-law collapse as training:
    encoding is VOCAB-sized, not corpus-sized — encode each distinct
    word once, then a broadcast join stamps token counts onto the
    corpus (tokens-per-doc = sum of its words' n_tokens — the exact
    accounting a pretraining data budget needs)."""
    syms, _ = _bpe_state_loop(df, text_col, iters)
    enc = F.concat_ws(
        " ",
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "sym"))),
            lambda x: x.sym,
        ),
    )
    return syms.groupBy("word", "wcount").agg(
        F.max("pos").cast("long").alias("n_tokens"),
        enc.alias("encoded"),
    )


def _bpe_oracle_with(docs_table: str, text_col: str, iters: int) -> str:
    """The shared WITH-chain of the BPE oracle: tokenize -> word-freq
    -> character state s0 -> one lead/count/argmax/greedy-rebuild block
    per iteration (s1..sN + m1..mN). Tails select from it."""
    blocks = []
    for i in range(1, iters + 1):
        p = i - 1
        blocks.append(f"""a{i} AS (
      SELECT word, wcount, pos, sym,
             LEAD(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
      FROM s{p}
    ), b{i} AS (
      SELECT sym AS a, nxt AS b, CAST(SUM(wcount) AS BIGINT) AS cnt
      FROM a{i} WHERE nxt IS NOT NULL
      GROUP BY sym, nxt
      ORDER BY cnt DESC, a ASC, b ASC LIMIT 1
    ), o{i} AS (
      SELECT a{i}.word, a{i}.pos
      FROM a{i} JOIN b{i} ON a{i}.sym = b{i}.a AND a{i}.nxt = b{i}.b
    ), k{i} AS (
      SELECT word, pos FROM (
        SELECT word, pos,
               ROW_NUMBER() OVER (PARTITION BY word, grp ORDER BY pos) AS idx
        FROM (
          SELECT word, pos,
                 pos - ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos) AS grp
          FROM o{i}
        )
      ) WHERE idx % 2 = 1
    ), s{i} AS (
      SELECT word, wcount,
             ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos) AS pos, sym
      FROM (
        SELECT a{i}.word, a{i}.wcount, a{i}.pos,
               CASE WHEN kh.pos IS NOT NULL THEN a{i}.sym || a{i}.nxt
                    ELSE a{i}.sym END AS sym
        FROM a{i}
        LEFT JOIN k{i} kh ON kh.word = a{i}.word AND kh.pos = a{i}.pos
        LEFT JOIN k{i} kp ON kp.word = a{i}.word AND kp.pos = a{i}.pos - 1
        WHERE kp.pos IS NULL
      )
    ), m{i} AS (
      SELECT CAST({i} AS INT) AS iter, a AS left_sym, b AS right_sym,
             a || b AS merged, cnt AS pair_count,
             (SELECT CAST(SUM(wcount) AS BIGINT) FROM s{i})
               AS corpus_symbols_after
      FROM b{i}
    )""")
    body = ",\n    ".join(blocks)
    return f"""WITH tok AS (
      SELECT UNNEST(string_split_regex(trim({text_col}), '\\s+')) AS w
      FROM {docs_table}
    ), wrds AS (
      SELECT lower(w) AS word, CAST(COUNT(*) AS BIGINT) AS wcount
      FROM tok WHERE regexp_matches(w, '^[A-Za-z]{{2,}}$')
      GROUP BY lower(w)
    ), s0 AS (
      SELECT word, wcount, CAST(i AS BIGINT) AS pos,
             substr(word, CAST(i AS INT), 1) AS sym
      FROM (
        SELECT word, wcount, UNNEST(range(1, length(word) + 1)) AS i
        FROM wrds
      )
    ),
    {body}"""


def bpe_learn_oracle_sql(docs_table: str, text_col: str, iters: int = 3) -> str:
    """DuckDB replay of ``bpe_learn_merges`` as an unrolled CTE chain
    (one lead/count/argmax/greedy-rebuild block per iteration — the
    pagerank/k-means oracle pattern, here over STRING state)."""
    union = " UNION ALL ".join(f"SELECT * FROM m{i}" for i in range(1, iters + 1))
    return f"""{_bpe_oracle_with(docs_table, text_col, iters)}
    SELECT iter, left_sym, right_sym, merged, pair_count,
           corpus_symbols_after
    FROM ({union})
"""


def bpe_encode_oracle_sql(docs_table: str, text_col: str, iters: int = 3) -> str:
    """DuckDB replay of ``bpe_encode_words``: the same unrolled chain,
    final state s{iters} folded per word."""
    return f"""{_bpe_oracle_with(docs_table, text_col, iters)}
    SELECT word, wcount, CAST(MAX(pos) AS BIGINT) AS n_tokens,
           string_agg(sym, ' ' ORDER BY pos) AS encoded
    FROM s{iters} GROUP BY word, wcount
"""


def _feature_hash(col, n_buckets: int):
    # The house engine-portable draw: 60-bit md5 prefix -> bucket.
    # DuckDB replay: CAST('0x' || substring(md5(x), 1, 15) AS BIGINT)
    # % n_buckets.
    return (
        F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")
        % F.lit(n_buckets)
    )


def classifier_features(
    df: DataFrame, id_col: str, text_col: str, n_buckets: int = 1 << 20
) -> DataFrame:
    """The shared featurization relation both linear classifiers
    consume: (id, feature_id) — one row per word unigram+bigram
    occurrence, hashed into ``n_buckets``; featureless docs keep one
    NULL-feature row (explode_outer) so every document stays decided
    without a spine join. Compute ONCE per corpus and pass to
    ``quality_classifier_scores`` / ``domain_classifier_labels`` via
    their ``features`` parameter when running several models — each
    avoided re-featurization is a full corpus scan at 100 TB (the
    ``shingle_sets`` contract for the classifier tier)."""
    uni = _word_ngrams(text_col, 1)
    bi = F.filter(_word_ngrams(text_col, 2), lambda g: g.contains(" "))
    return fan_out(df).select(
        F.col(id_col),
        F.explode_outer(F.concat(uni, bi)).alias("_g"),
    ).select(F.col(id_col), _feature_hash(F.col("_g"), n_buckets).alias("feature_id"))


def quality_classifier_weights(
    lexicon: DataFrame,
    term_col: str = "term",
    weight_col: str = "weight",
    n_buckets: int = 1 << 20,
) -> DataFrame:
    """Compile a (term, weight) lexicon into the hashed feature space:
    (feature_id, weight), colliding terms' weights SUMMED — that is
    feature hashing's defined semantics (Weinberger et al. 2009), not
    an error case. The compiled table is the MODEL state a fastText-
    style linear classifier ships: a few MB broadcast to every
    executor, so inference never shuffles the corpus."""
    return (
        lexicon.select(
            _feature_hash(F.lower(F.col(term_col)), n_buckets).alias("feature_id"),
            F.col(weight_col),
        )
        .groupBy("feature_id")
        .agg(F.sum(weight_col).alias("weight"))
    )


def quality_classifier_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    weights: DataFrame,
    n_buckets: int = 1 << 20,
    threshold: float = 0.0,
    features: DataFrame | None = None,
) -> DataFrame:
    """fastText-style linear quality-classifier INFERENCE as a
    relation: features are word unigrams + bigrams (lowercased,
    whitespace tokens, bag-with-counts), hashed into ``n_buckets``;
    score = mean weight over ALL the document's features (unmatched
    features weigh 0 — exactly a linear model with a sparse weight
    vector); keep = score >= threshold. Output: (id, n_features,
    n_matched, score, keep).

    The production corpus-filtering shape (CCNet/fastText quality
    gates): train offline, ship (feature_id, weight), score 100 TB
    with ONE broadcast hash join + one map-side-combined per-doc
    aggregate — the corpus is never shuffled, no Python anywhere.

    Engine-portable: md5-bucket feature ids; DECIMAL weight sums
    (addition-order-free), ONE double division per doc, rounded to
    9 dp — the relation hash-matches the DuckDB replay. Composable
    with the curation keep-list (AND the gate into ``kept``)."""
    # explode_outer (inside classifier_features) keeps ONE null-gram
    # row for featureless docs (empty/whitespace text), so every
    # document gets a decided output row without a second doc_id-keyed
    # join back to the input — the whole plan is scan -> explode ->
    # broadcast join -> one map-side-combined per-doc aggregate.
    feats = (
        features
        if features is not None
        else classifier_features(df, id_col, text_col, n_buckets)
    )
    zero = F.lit(0).cast("decimal(12,6)")
    agg = (
        feats.join(F.broadcast(weights), "feature_id", "left")
        .groupBy(id_col)
        .agg(
            F.count("feature_id").alias("n_features"),
            F.coalesce(
                F.sum(F.col("weight").isNotNull().cast("long")), F.lit(0)
            ).alias("n_matched"),
            F.sum(F.coalesce(F.col("weight"), zero)).alias("_sw"),
        )
    )
    score = F.when(
        F.col("n_features") > 0,
        F.round(F.col("_sw").cast("double") / F.col("n_features").cast("double"), 9),
    ).otherwise(F.lit(0.0))
    return agg.select(
        F.col(id_col),
        "n_features",
        "n_matched",
        score.alias("score"),
        (score >= F.lit(threshold)).alias("keep"),
    )


def quality_classifier_oracle_sql(
    docs_table: str,
    id_col: str,
    text_col: str,
    lexicon: list[tuple[str, float]],
    n_buckets: int = 1 << 20,
    threshold: float = 0.0,
) -> str:
    """DuckDB replay of ``quality_classifier_weights`` +
    ``quality_classifier_scores``: same md5-bucket feature hashing,
    same unigram+bigram extraction, same decimal weight sums, same
    single rounded double division."""
    vals = ", ".join(
        "('" + t.replace("'", "''") + f"', CAST({w} AS DECIMAL(12,6)))"
        for t, w in lexicon
    )
    fh = (
        lambda col: f"(CAST('0x' || substring(md5({col}), 1, 15) AS BIGINT)"
        f" % {n_buckets})"
    )
    return f"""
    WITH lex AS (
      SELECT {fh("lower(term)")} AS feature_id, SUM(w) AS weight
      FROM (VALUES {vals}) AS l(term, w)
      GROUP BY 1
    ), tok AS (
      SELECT {id_col} AS _id,
             string_split_regex(lower(trim({text_col})), '\\s+') AS toks
      FROM {docs_table}
    ), grams AS (
      SELECT _id, UNNEST(list_concat(
        list_filter(toks, g -> g <> ''),
        list_filter(list_transform(
          range(1, greatest(len(toks) - 1, 1) + 1),
          i -> array_to_string(list_slice(toks, i, i + 1), ' ')),
          g -> contains(g, ' '))
      )) AS g
      FROM tok
    ), agg AS (
      SELECT _id, CAST(COUNT(*) AS BIGINT) AS n_features,
             CAST(SUM(CASE WHEN lex.weight IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_matched,
             SUM(COALESCE(lex.weight, CAST(0 AS DECIMAL(12,6)))) AS sw
      FROM (SELECT _id, {fh("g")} AS feature_id FROM grams) f
      LEFT JOIN lex USING (feature_id)
      GROUP BY _id
    ), scored AS (
      SELECT _id, n_features, n_matched,
             CASE WHEN n_features > 0
                  THEN ROUND(CAST(sw AS DOUBLE) / CAST(n_features AS DOUBLE), 9)
                  ELSE 0.0 END AS score
      FROM agg
    )
    SELECT d.{id_col},
           COALESCE(s.n_features, CAST(0 AS BIGINT)) AS n_features,
           COALESCE(s.n_matched, CAST(0 AS BIGINT)) AS n_matched,
           COALESCE(s.score, 0.0) AS score,
           COALESCE(s.score, 0.0) >= {threshold!r} AS keep
    FROM (SELECT DISTINCT {id_col} FROM {docs_table}) d
    LEFT JOIN scored s ON s._id = d.{id_col}
"""


def domain_classifier_weights(
    lexicon: DataFrame,
    class_col: str = "class",
    term_col: str = "term",
    weight_col: str = "weight",
    n_buckets: int = 1 << 20,
) -> DataFrame:
    """Compile a (class, term, weight) lexicon into the hashed feature
    space: (class, feature_id, weight), colliding terms' weights summed
    PER CLASS — the multiclass sibling of
    ``quality_classifier_weights`` (a linear one-vs-all model per
    domain, fastText's supervised shape)."""
    return (
        lexicon.select(
            F.col(class_col).alias("class"),
            _feature_hash(F.lower(F.col(term_col)), n_buckets).alias("feature_id"),
            F.col(weight_col),
        )
        .groupBy("class", "feature_id")
        .agg(F.sum(weight_col).alias("weight"))
    )


def domain_classifier_labels(
    df: DataFrame,
    id_col: str,
    text_col: str,
    class_weights: DataFrame,
    n_buckets: int = 1 << 20,
    features: DataFrame | None = None,
) -> DataFrame:
    """Multiclass linear inference: every document scored against
    EVERY class's weight vector (mean matched weight over the doc's
    unigram+bigram features, unmatched weigh 0), argmax with (score
    DESC, class ASC) tie-break. Output: (id, n_features, best_class,
    best_score, margin) — margin = best minus runner-up, the standard
    routing-confidence signal (0.0 when there is a single class or a
    tie).

    Plan: the corpus is featurized ONCE; the per-class grid is a
    broadcast of |classes| rows crossed with the per-doc feature
    counts, so corpus cost is independent of class count until the
    (doc x class) score relation — |docs|*|classes| rows of three
    columns, the unavoidable output lower bound. Same decimal-sum /
    one-rounded-division portability contract as the binary scorer."""
    from pyspark.sql import Window
    # Pin a self-built featurization ONCE (r16 optimization): unlike the
    # binary scorer (one consumer), this plan aggregates feats TWICE —
    # per-doc counts and per-class matched weights — so the lazy corpus
    # tokenize+explode ran under both. A/B (tools/ab_round16_domcls.py),
    # identical output: contended box 6.372 -> 3.583 s min-of-4 (half
    # the work wins when cores are busy); idle box 2.342 vs 2.352 s
    # (concurrent duplicate subtrees hide in free cores). Kept for the
    # CPU-seconds reduction — the quantity that transfers to a busy
    # cluster. A caller-supplied ``features`` relation is left
    # untouched (the caller owns its materialization policy).
    feats = (
        features
        if features is not None
        else classifier_features(df, id_col, text_col, n_buckets).localCheckpoint(
            eager=True
        )
    )
    per_doc = feats.groupBy(id_col).agg(
        F.count("feature_id").alias("n_features")
    )
    matched = (
        feats.join(F.broadcast(class_weights), "feature_id")
        .groupBy(id_col, "class")
        .agg(F.sum("weight").alias("_sw"))
    )
    classes = class_weights.select("class").distinct()
    grid = per_doc.crossJoin(F.broadcast(classes))
    zero = F.lit(0).cast("decimal(12,6)")
    scored = grid.join(matched, [id_col, "class"], "left").select(
        F.col(id_col),
        "n_features",
        "class",
        F.when(
            F.col("n_features") > 0,
            F.round(
                F.coalesce(F.col("_sw"), zero).cast("double")
                / F.col("n_features").cast("double"),
                9,
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("score"),
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("score").desc(), F.col("class").asc()
    )
    ranked = scored.withColumn("_rk", F.row_number().over(w)).withColumn(
        "_next", F.lead("score").over(w)
    )
    return ranked.filter(F.col("_rk") == 1).select(
        F.col(id_col),
        "n_features",
        F.col("class").alias("best_class"),
        F.col("score").alias("best_score"),
        F.round(
            F.col("score") - F.coalesce(F.col("_next"), F.col("score")), 9
        ).alias("margin"),
    )


def domain_classifier_oracle_sql(
    docs_table: str,
    id_col: str,
    text_col: str,
    lexicon: list[tuple[str, str, float]],
    n_buckets: int = 1 << 20,
) -> str:
    """DuckDB replay of ``domain_classifier_weights`` +
    ``domain_classifier_labels`` (same hashing, grid, argmax
    tie-break)."""
    vals = ", ".join(
        "('" + c.replace("'", "''") + "', '" + t.replace("'", "''")
        + f"', CAST({w} AS DECIMAL(12,6)))"
        for c, t, w in lexicon
    )
    fh = (
        lambda col: f"(CAST('0x' || substring(md5({col}), 1, 15) AS BIGINT)"
        f" % {n_buckets})"
    )
    return f"""
    WITH lex AS (
      SELECT cls, {fh("lower(term)")} AS feature_id, SUM(w) AS weight
      FROM (VALUES {vals}) AS l(cls, term, w)
      GROUP BY 1, 2
    ), tok AS (
      SELECT {id_col} AS _id,
             string_split_regex(lower(trim({text_col})), '\\s+') AS toks
      FROM {docs_table}
    ), grams AS (
      SELECT _id, UNNEST(list_concat(
        list_filter(toks, g -> g <> ''),
        list_filter(list_transform(
          range(1, greatest(len(toks) - 1, 1) + 1),
          i -> array_to_string(list_slice(toks, i, i + 1), ' ')),
          g -> contains(g, ' '))
      )) AS g
      FROM tok
    ), feats AS (
      SELECT _id, {fh("g")} AS feature_id FROM grams
    ), per_doc AS (
      SELECT t._id, COALESCE(f.n, CAST(0 AS BIGINT)) AS n_features
      FROM (SELECT DISTINCT _id FROM tok) t
      LEFT JOIN (SELECT _id, CAST(COUNT(*) AS BIGINT) AS n
                 FROM feats GROUP BY _id) f USING (_id)
    ), matched AS (
      SELECT _id, lex.cls, SUM(lex.weight) AS sw
      FROM feats JOIN lex USING (feature_id)
      GROUP BY _id, lex.cls
    ), grid AS (
      SELECT per_doc._id, per_doc.n_features, c.cls
      FROM per_doc CROSS JOIN (SELECT DISTINCT cls FROM lex) c
    ), scored AS (
      SELECT g._id, g.n_features, g.cls,
             CASE WHEN g.n_features > 0 THEN
               ROUND(CAST(COALESCE(m.sw, CAST(0 AS DECIMAL(12,6))) AS DOUBLE)
                     / CAST(g.n_features AS DOUBLE), 9)
             ELSE 0.0 END AS score
      FROM grid g LEFT JOIN matched m ON m._id = g._id AND m.cls = g.cls
    ), ranked AS (
      SELECT _id, n_features, cls, score,
             ROW_NUMBER() OVER (PARTITION BY _id
                                ORDER BY score DESC, cls ASC) AS rk,
             LEAD(score) OVER (PARTITION BY _id
                               ORDER BY score DESC, cls ASC) AS nxt
      FROM scored
    )
    SELECT _id AS {id_col}, n_features, cls AS best_class,
           score AS best_score,
           ROUND(score - COALESCE(nxt, score), 9) AS margin
    FROM ranked WHERE rk = 1
"""


def bigram_logprob_score(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Corpus-bigram-LM quality score: mean ln P(w_i | w_{i-1}) per
    document under the corpus's own add-one-smoothed bigram model —
    the conditional-probability step up from ``unigram_logprob_score``
    and the cheap statistical stand-in for perplexity filtering (CCNet
    style): perplexity = exp(-avg_logprob). Repetitive boilerplate
    scores high, token-salad gibberish (plausible unigrams, improbable
    transitions) scores low — exactly the split the unigram model
    cannot see.

    Model: P(v|u) = (C(u,v) + 1) / (C(u,·) + |V|), with C(u,·) the
    count of bigrams starting with u and |V| the full unigram
    vocabulary size. Scoring joins each document's bigrams back to the
    model, so every observed bigram hits (the model is trained on the
    same corpus) and the join is inner.

    Plan: one bigram-count aggregate and one context-count aggregate
    (both map-side combined, vocabulary-sized by Heaps' law), folded
    into a single model relation joined once by the scoring pass; the
    1-row vocab total broadcasts. At 100 TB the same
    head-vocabulary-broadcast knob as ``unigram_logprob_score``
    applies (cap the model to the top-K bigrams and score the tail at
    the smoothing floor); the exact form here is the oracle-matched
    contract.
    """
    toks = F.filter(F.split(F.lower(F.trim(F.col(text_col))), _WS), lambda t: t != "")
    grams = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - 2),
            lambda i: F.concat_ws(
                " ", F.element_at(toks, i + 1), F.element_at(toks, i + 2)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    df = fan_out(df)
    bg = df.select(F.col(id_col), F.explode(grams).alias("g"))
    big = bg.groupBy("g").agg(F.count(F.lit(1)).alias("c_uv"))
    # C(u,.) = sum_v C(u,v): derive the context counts from the
    # vocabulary-sized bigram-count relation instead of a SECOND full
    # corpus explode + corpus-sized shuffle (r16 optimization, guide
    # §2.2 — shuffle model-sized rows, not corpus-sized ones; exactly
    # equal integers by definition). The two `big` subtrees (join left
    # + this rollup) shuffle on the same key from the same subplan, so
    # the exchange is reused at runtime where the old ctx exchange
    # never could be.
    ctx = (
        big.select(F.substring_index("g", " ", 1).alias("u"), "c_uv")
        .groupBy("u")
        .agg(F.sum("c_uv").alias("c_u"))
    )
    vocab = (
        df.select(F.explode(toks).alias("t"))
        .filter(F.col("t") != "")
        .agg(F.count_distinct("t").alias("nv"))
    )
    # Per-bigram logprobs quantize to 12 dp in the MODEL (one place,
    # vocabulary-sized) and the per-doc mean accumulates as DECIMAL /
    # exact count, so the score is addition-order-free — a raw double
    # F.avg could diverge from the oracle under different partial-
    # aggregation orders (ADVICE r09).
    model = (
        big.withColumn("u", F.substring_index("g", " ", 1))
        .join(ctx, "u")
        .crossJoin(F.broadcast(vocab))
        .select(
            "g",
            F.round(
                F.log((F.col("c_uv") + 1) / (F.col("c_u") + F.col("nv"))), 12
            ).alias("lp"),
        )
    )
    return (
        bg.join(model, "g")
        .groupBy(id_col)
        .agg(
            F.sum(F.col("lp").cast("decimal(30,12)")).alias("_s"),
            F.count(F.lit(1)).alias("n_bigrams"),
        )
        .select(
            F.col(id_col),
            F.round(F.col("_s").cast("double") / F.col("n_bigrams"), 6).alias(
                "avg_logprob"
            ),
            "n_bigrams",
        )
    )


def bigram_lm_oracle_sql(docs_table: str, id_col: str, text_col: str) -> str:
    """DuckDB replay of ``bigram_logprob_score``: identical
    tokenization (lower/trim/whitespace-split, empty tokens dropped),
    bigrams as 'u v' strings (tokens are whitespace-free, so
    split_part on the joining space is an exact inverse), the same
    add-one model CTEs, natural log both engines."""
    return rf"""
    WITH d AS (
      SELECT {id_col},
             list_filter(string_split_regex(lower(trim({text_col})), '\s+'),
                         t -> t <> '') AS toks
      FROM {docs_table}
    ), bg AS (
      SELECT {id_col},
             UNNEST(list_transform(range(1, greatest(len(toks) - 1, 0) + 1),
                                   i -> toks[i] || ' ' || toks[i + 1])) AS g
      FROM d
    ), big AS (
      SELECT g, COUNT(*) AS c_uv FROM bg GROUP BY g
    ), ctx AS (
      SELECT split_part(g, ' ', 1) AS u, COUNT(*) AS c_u FROM bg GROUP BY 1
    ), vocab AS (
      SELECT COUNT(DISTINCT t) AS nv
      FROM (SELECT UNNEST(toks) AS t FROM d) WHERE t <> ''
    ), model AS (
      SELECT g,
             CAST(ROUND(ln((c_uv + 1.0) / (c_u + nv)), 12)
                  AS DECIMAL(30,12)) AS lp
      FROM big JOIN ctx ON split_part(g, ' ', 1) = u CROSS JOIN vocab
    )
    SELECT {id_col},
           ROUND(CAST(SUM(lp) AS DOUBLE) / COUNT(*), 6) AS avg_logprob,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams
    FROM bg JOIN model USING (g)
    GROUP BY {id_col}
"""


def hashed_tfidf_components(
    df: DataFrame, id_col: str, text_col: str, dim: int = 64
) -> DataFrame:
    """Model-free document embedding via the hashing trick
    (Weinberger et al. 2009): every token's tf-idf weight lands in
    ``md5(token) % dim``, colliding tokens SUM (feature hashing's
    defined semantics), and the per-doc vector is L2-normalized.
    Output is the SPARSE form — (id, bucket, nw) with nw the
    normalized component — which is both the storage-efficient
    relation at 100 TB (documents hit far fewer than ``dim`` buckets)
    and the inverted-index join side for cosine retrieval
    (``doc_embedding_topk``): dot products of L2-normalized vectors
    need only the SHARED buckets.

    Determinism contract: the bucket sum and the norm sum accumulate
    9dp-quantized terms as DECIMAL (addition-order-free); the idf
    weight itself is a single-expression double on identical inputs.
    Empty/featureless docs emit no rows (their vector is zero — no
    direction to normalize)."""
    toks = F.filter(
        F.split(F.lower(F.trim(F.col(text_col))), _WS), lambda t: t != ""
    )
    tf = (
        fan_out(df)
        .select(F.col(id_col), F.explode(toks).alias("_t"))
        .groupBy(id_col, "_t")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("_t").agg(F.count(F.lit(1)).alias("df"))
    n = df.agg(F.count(F.lit(1)).alias("n_docs"))
    comp = (
        tf.join(dfreq, "_t")
        .crossJoin(F.broadcast(n))
        .select(
            F.col(id_col),
            _feature_hash(F.col("_t"), dim).alias("bucket"),
            (
                F.col("tf")
                * (
                    F.log(
                        (F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))
                    )
                    + 1
                )
            ).alias("_w"),
        )
        .groupBy(id_col, "bucket")
        .agg(
            F.sum(F.round(F.col("_w"), 9).cast("decimal(30,12)"))
            .cast("double")
            .alias("_c")
        )
    )
    nrm = comp.groupBy(id_col).agg(
        F.sqrt(
            F.sum(F.round(F.col("_c") * F.col("_c"), 9).cast("decimal(30,12)"))
            .cast("double")
        ).alias("_nn")
    )
    return comp.join(nrm, id_col).select(
        F.col(id_col),
        F.col("bucket"),
        (F.col("_c") / F.col("_nn")).alias("nw"),
    )


def hashed_tfidf_embeddings(
    df: DataFrame, id_col: str, text_col: str, dim: int = 64
) -> DataFrame:
    """The DENSE form of ``hashed_tfidf_components`` — (id, vec
    array<double>) with zeros in unhit buckets — the bridge from raw
    text into the X3 similarity ladder (cosine top-k, IVF, z-order
    layout) without any external model: one map_from_entries over the
    sparse components, zero extra scans. Docs with no tokens get the
    zero vector."""
    m = (
        hashed_tfidf_components(df, id_col, text_col, dim)
        .groupBy(id_col)
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct(F.col("bucket").cast("int"), F.col("nw")))
            ).alias("_m")
        )
    )
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.coalesce(F.element_at(F.col("_m"), i.cast("int")), F.lit(0.0)),
    )
    return (
        df.select(F.col(id_col))
        .join(m, id_col, "left")
        .select(F.col(id_col), vec.alias("vec"))
    )
