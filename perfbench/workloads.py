"""The closed-loop workloads, fuel_cron and llm_tier (built from the
Curation and VectorIndex parts). Each calls only the package's public
functions; the benchmark's own code generates inputs, times calls and
checks outputs.

A workload object exposes:

* ``prepare(spark)``   generate, write and load the seeded inputs
  (repeated for every set-up the run times);
* ``warm_up()``        the untimed first operation;
* ``build()``          a one-off timed step before the loop (llm_tier's build);
* ``iteration()``      one loop body of the closed loop; records its
  batch-op and request timings into ``self.r``;
* ``check()``          the correctness gates, run after the loop.

Under tracing every layer call runs in a span and its output is forced
at the span's boundary (``localCheckpoint`` or an action), so a span
times the layer's work rather than plan construction.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from etl_fuel_priceguide_ec2_spark import sinks
from etl_fuel_priceguide_ec2_spark.operators import (
    asof,
    clustering,
    curation,
    export,
    projections,
    similarity,
    similarity_index,
    textops,
    windows,
)
from etl_fuel_priceguide_ec2_spark.sources import rest
from perfbench import gen
from perfbench.trace import Tracer


@dataclass
class Record:
    """What one run measured and checked."""

    batch_s: list[float] = field(default_factory=list)
    batch_items: int = 0
    request_s: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    counts: dict[str, list[float]] = field(default_factory=dict)

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.failures) < 20:
            self.failures.append(what)

    def count(self, name: str, value: float) -> None:
        self.counts.setdefault(name, []).append(float(value))


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


class Workload:
    name = ""
    batch_unit = ""  # what items_per_s counts
    min_iterations = 1  # the loop runs at least this many, past --seconds

    def __init__(self, seed: int, work: str, tracer: Tracer):
        self.seed = seed
        self.work = work
        self.tracer = tracer
        self.r = Record()
        self.spark = None

    @property
    def sc(self):
        return self.spark.sparkContext

    def span(self, name: str):
        return self.tracer.span(name, self.sc)

    def force(self, df):
        """Materialize ``df`` at a span boundary when tracing."""
        return df.localCheckpoint(eager=True) if self.tracer.enabled else df

    def digest(self) -> str:
        raise NotImplementedError

    def prepare(self, spark) -> None:
        raise NotImplementedError

    def warm_up(self) -> None:
        raise NotImplementedError

    def build(self) -> None:
        """A one-off timed step after the warm-up (default none)."""

    def iteration(self) -> None:
        raise NotImplementedError

    def check(self) -> None:
        raise NotImplementedError


# ---------------------------------------------------------------------------


class FuelCron(Workload):
    """The reference's cron job: list fetch, per-station detail fan-out,
    null filter, insert-if-absent dimension, append-only facts; then
    Zipf point lookups and one all-station latest/deltas read against
    the fact table the runs keep growing."""

    name = "fuel_cron"
    batch_unit = "fact rows"
    N_STATIONS = 30_000
    LOOKUPS_PER_RUN = 8
    # so that every run, whatever the host's speed, times the same three
    # cron runs and 24 lookups against the same table sizes
    min_iterations = 3
    WARM_UP_LOOKUPS = 20

    def prepare(self, spark) -> None:
        self.spark = spark
        self.spec = gen.FuelSpec(self.seed, self.N_STATIONS)
        self.ledger = gen.FuelLedger(self.spec)
        self.dim_path = os.path.join(self.work, "fuel", "station_dim")
        self.fact_path = os.path.join(self.work, "fuel", "price_facts")
        shutil.rmtree(os.path.join(self.work, "fuel"), ignore_errors=True)
        self.run = 0
        self.lookups: list[tuple[int, int, list]] = []  # (key, as_of_run, rows)

    def digest(self) -> str:
        ids = np.arange(self.spec.n_stations(3), dtype=np.uint64)
        keys = gen.zipf_keys(self.seed, 0, self.spec.n_stations(0), 100)
        return gen.digest(
            self.spec.list_body(0),
            *[self.spec.detail_body(r, int(i)) for r in range(3) for i in ids[:2000]],
            self.spec.landed(2, ids), self.spec.price(2, ids), keys,
        )

    def _cron_run(self):
        """One cron run; returns the checkpointed rows it landed."""
        spark, run = self.spark, self.run
        fetcher = gen.FuelFetcher(self.spec, run)
        with self.span("sources.rest.read_list_endpoint"):
            stations = self.force(
                rest.read_list_endpoint(spark, gen.LIST_URL, fetcher, gen.LIST_SCHEMA)
            )
        with self.span("sources.rest.enrich_from_detail_endpoint"):
            detail = self.force(
                rest.enrich_from_detail_endpoint(
                    stations, "Id", gen.DETAIL_PREFIX, fetcher, gen.DETAIL_SCHEMA
                )
            )
        # one materialization feeds both sinks, as a production cron run
        # must: a second fetch could disagree with the first
        with self.span("operators.projections.reject_nulls"):
            valid = projections.reject_nulls(detail, ["Nome", "Morada", "Preco"]).localCheckpoint(
                eager=True
            )
        if self.tracer.enabled:
            requested, fetched, kept = stations.count(), detail.count(), valid.count()
            self.r.count("sources.rest.yield_frac", fetched / requested)
            self.r.count("operators.projections.kept_frac", kept / fetched)
            dim_before = spark.read.parquet(self.dim_path).count() if run else 0
            files_before = self._fact_files()
        with self.span("sinks.upsert_dim"):
            sinks.upsert_dim(valid.select("Id", "Nome", "Morada", "Marca"), self.dim_path, "Id")
        with self.span("sinks.append_fact"):
            sinks.append_fact(
                valid.select(
                    "Id",
                    F.col("Preco").alias("price"),
                    F.lit(self.spec.run_ts(run)).cast("timestamp").alias("run_ts"),
                ),
                self.fact_path,
            )
        if self.tracer.enabled:
            landed = valid.count()
            new_files = self._fact_files() - files_before
            self.r.count("sinks.upsert_dim.rows_inserted", spark.read.parquet(self.dim_path).count() - dim_before)
            self.r.count("sinks.append_fact.files_written", len(new_files))
            self.r.count(
                "sinks.append_fact.bytes_per_row",
                sum(os.path.getsize(p) for p in new_files) / max(landed, 1),
            )
        return valid

    def _fact_files(self) -> set[str]:
        out = set()
        for d, _, files in os.walk(self.fact_path):
            out.update(os.path.join(d, f) for f in files if f.endswith(".parquet"))
        return out

    def _lookups(self, n: int, timed: bool) -> None:
        facts = sinks.read_fact(self.spark, self.fact_path)
        rng = np.random.default_rng([self.seed, self.run, 13])
        keys = gen.zipf_keys(self.seed, self.run, self.spec.n_stations(self.run), n)
        for key in keys.tolist():
            as_of_run = int(rng.integers(0, self.run + 1))
            ts = self.spec.run_ts(as_of_run)
            with self.span("operators.asof.latest_for_key"):
                rows, dt = _timed(
                    lambda: asof.latest_for_key(facts, "Id", key, "run_ts", ts).collect()
                )
            if timed:
                self.r.request_s.append(dt)
            self.lookups.append((key, as_of_run, rows))
        with self.span("operators.asof.latest_per_key"):
            latest = (
                asof.latest_per_key(facts, ["Id"], "run_ts")
                .agg(F.count(F.lit(1)).alias("n"), F.sum(F.round(F.col("price") * 1000).cast("long")).alias("s"))
                .collect()[0]
            )
        with self.span("operators.windows.change_deltas"):
            changed = (
                windows.change_deltas(facts, ["Id"], "run_ts", "price")
                .agg(F.sum(F.col("changed").cast("long")).alias("c"))
                .collect()[0]["c"]
            )
        self.r.attempted += 1
        exp = (self.ledger.dim_rows, self.ledger.latest_price_millis(), self.ledger.changed)
        got = (latest["n"], int(latest["s"] or 0), int(changed or 0))
        if got != exp:
            self.r.fail(f"full read after run {self.run}: got {got}, expected {exp}")

    def warm_up(self) -> None:
        # two runs: the first bootstraps the dimension, the second takes
        # the insert-if-absent path every measured run takes and is
        # followed by enough lookups that the first timed ones are warm
        for n in (5, self.WARM_UP_LOOKUPS):
            self._cron_run()
            self.ledger.advance()
            self._lookups(n, timed=False)
            self.run += 1

    def iteration(self) -> None:
        valid, dt = _timed(self._cron_run)
        landed = valid.count()
        self.ledger.advance()
        self.r.batch_s.append(dt)
        self.r.batch_items += landed
        self.r.attempted += 1
        if landed != int(self.ledger.landed[self.run].sum()):
            self.r.fail(f"run {self.run} landed {landed} rows, expected {int(self.ledger.landed[self.run].sum())}")
        self._lookups(self.LOOKUPS_PER_RUN, timed=True)
        self.run += 1

    def check(self) -> None:
        for key, as_of_run, rows in self.lookups:
            self.r.attempted += 1
            want = self.ledger.latest(key, as_of_run)
            got = rows[0]["price"] if rows else None
            if len(rows) > 1 or got != want:
                self.r.fail(f"lookup {key} as of run {as_of_run}: got {got}, expected {want}")
        dim = self.spark.read.parquet(self.dim_path).select("Id", "Nome").toPandas()
        facts = sinks.read_fact(self.spark, self.fact_path).count()
        self.r.attempted += 3
        if len(dim) != self.ledger.dim_rows or dim["Id"].duplicated().any():
            self.r.fail(f"dim has {len(dim)} rows, expected {self.ledger.dim_rows} distinct")
        ids = dim["Id"].to_numpy()
        renamed = self.ledger.first_renamed[ids]
        want = np.where(renamed, [f"Posto {i} (novo)" for i in ids], [f"Posto {i}" for i in ids])
        if (dim["Nome"].to_numpy() != want).any():
            self.r.fail("dim does not keep first-seen station names")
        if facts != self.ledger.fact_rows:
            self.r.fail(f"fact table has {facts} rows, expected {self.ledger.fact_rows}")


# ---------------------------------------------------------------------------


class Curation(Workload):
    """The corpus half of llm_tier: one curation pass (signals, decision)
    whose kept documents are sharded, written and manifested."""

    N_BASE = 400
    WARM_N_BASE = 60  # the warm-up pass runs over its own small corpus
    N_SHARDS = 8
    RECALL_FLOOR = 0.9

    def prepare(self, spark) -> None:
        self.spark = spark
        self.corpus = gen.make_corpus(self.seed, self.N_BASE)
        d = os.path.join(self.work, "curation")
        os.makedirs(d, exist_ok=True)
        self.corpus_path = os.path.join(d, "corpus.parquet")
        warm_path = os.path.join(d, "warm.parquet")
        warm = gen.make_corpus(self.seed, self.WARM_N_BASE)
        for c, path in ((self.corpus, self.corpus_path), (warm, warm_path)):
            pd.DataFrame({"doc_id": c.ids, "text": c.texts}).to_parquet(path)
        self.docs = spark.read.parquet(self.corpus_path)
        self.warm_docs = spark.read.parquet(warm_path)
        self.n_docs = len(self.corpus.ids)
        qlex = spark.createDataFrame(
            [(t, str(w)) for t, w in gen.QUALITY_LEXICON], "term string, weight string"
        ).selectExpr("term", "CAST(weight AS DECIMAL(12,6)) AS weight")
        dlex = spark.createDataFrame(
            [(c, t, str(w)) for c, t, w in gen.DOMAIN_LEXICON],
            "class string, term string, weight string",
        ).selectExpr("class", "term", "CAST(weight AS DECIMAL(12,6)) AS weight")
        self.qw = textops.quality_classifier_weights(qlex, n_buckets=gen.N_BUCKETS)
        self.dw = textops.domain_classifier_weights(dlex, n_buckets=gen.N_BUCKETS)
        self.shards_path = os.path.join(d, "shards")
        self.passes: list[dict] = []

    def digest(self) -> str:
        return self.corpus.digest()

    def _pass(self, docs) -> dict:
        with self.span("operators.curation.corpus_curation_signals"):
            sig = curation.corpus_curation_signals(
                docs, "doc_id", "text", self.qw, self.dw,
                n_buckets=gen.N_BUCKETS, quality_threshold=gen.QUALITY_THRESHOLD,
            )
            if self.tracer.enabled:  # the other three come back checkpointed
                for k in ("content_hashes", "n_tokens", "quality", "domain"):
                    sig[k] = sig[k].localCheckpoint(eager=True)
        if self.tracer.enabled:
            self.r.count(
                "operators.curation.pairs_out",
                sig["jaccard_pairs"].count() + sig["containment_pairs"].count(),
            )
            self.r.count("operators.curation.spans_out", sig["spans"].count())
        with self.span("operators.curation.curation_decision_from_signals"):
            decision = curation.curation_decision_from_signals(
                sig["content_hashes"], sig["jaccard_pairs"], sig["containment_pairs"],
                sig["spans"], sig["n_tokens"], sig["quality"], sig["domain"], "doc_id",
                quality_threshold=gen.QUALITY_THRESHOLD, blocked_domain=gen.BLOCKED_DOMAIN,
            ).localCheckpoint(eager=True)  # feeds the export and the audit
        kept = docs.join(decision.filter(F.col("decision") == "keep"), "doc_id", "left_semi")
        with self.span("operators.export.shard_positions"):
            sharded = self.force(export.shard_positions(kept, "doc_id", self.N_SHARDS, seed=str(self.seed)))
        with self.span("operators.export.write_training_shards"):
            export.write_training_shards(sharded, self.shards_path, self.N_SHARDS)
        with self.span("operators.export.shard_manifest"):
            manifest = export.shard_manifest(
                self.spark.read.parquet(self.shards_path), checksum_id_col="doc_id"
            ).collect()
        return {"decision": decision, "manifest": manifest, "kept": kept}

    def warm_up(self) -> None:
        self._pass(self.warm_docs)

    def run_pass(self) -> dict:
        return self._pass(self.docs)

    def record_pass(self, res: dict) -> None:
        """Collect a pass's outputs for the gates (outside the timing)."""
        # the same export replayed without the write: its checksums must
        # repeat the ones read back off the written shards
        replay = export.shard_manifest(
            export.shard_positions(res["kept"], "doc_id", self.N_SHARDS, seed=str(self.seed)),
            checksum_id_col="doc_id",
        ).collect()
        self.passes.append({
            "decision_rows": res["decision"].collect(),
            "manifest": res["manifest"],
            "replay": replay,
        })

    def check(self) -> None:
        import duckdb

        sql = curation.curation_decision_oracle_sql(
            f"SELECT doc_id, text FROM read_parquet('{self.corpus_path}')",
            "doc_id", "text", gen.QUALITY_LEXICON, gen.DOMAIN_LEXICON,
            n_buckets=gen.N_BUCKETS, quality_threshold=gen.QUALITY_THRESHOLD,
            blocked_domain=gen.BLOCKED_DOMAIN,
        )
        con = duckdb.connect()
        try:
            con.execute("SET threads TO 2")
            oracle = sorted(_norm(r) for r in con.execute(sql).fetchall())
        finally:
            con.close()
        for i, p in enumerate(self.passes):
            got = sorted(_norm(tuple(r)) for r in p["decision_rows"])
            self.r.attempted += 3
            if got != oracle:
                self.r.fail(f"pass {i}: decision relation differs from the DuckDB oracle")
            n_keep = sum(1 for r in got if r[1] == "keep")
            if any(m["max_pos"] != m["n_docs"] for m in p["manifest"]) or sum(
                m["n_docs"] for m in p["manifest"]
            ) != n_keep:
                self.r.fail(f"pass {i}: manifest not dense over the {n_keep} kept docs")
            sums = [sorted((m["shard"], m["content_checksum"]) for m in p[k]) for k in ("manifest", "replay")]
            if sums[0] != sums[1]:
                self.r.fail(f"pass {i}: shard checksums do not repeat when the export is replayed")
        recall = gen.planted_dup_recall(self.corpus, {r[0]: r[1] for r in oracle})
        self.r.count("operators.curation.planted_dup_recall", recall)
        self.r.attempted += 1
        if recall < self.RECALL_FLOOR:
            self.r.fail(f"planted_dup_recall {recall:.3f} below {self.RECALL_FLOOR}")


def _norm(row: tuple) -> tuple:
    """(doc_id, decision, reason, dup_frac, quality_score, domain) with
    floats at the 9 dp both engines round to."""
    return tuple(round(v, 9) if isinstance(v, float) else v for v in row)


class VectorIndex(Workload):
    """The embedding half of llm_tier: an IVF-PQ index built over
    Gaussian-cluster vectors, then small query batches served off the
    stored codes."""

    N, DIM, CLUSTERS = 10_000, 32, 64
    QUERIES_PER_REQUEST, QUERY_POOL = 4, 400
    CELLS, M, KS, ITERS, NPROBE, RERANK, K = 8, 4, 16, 1, 2, 200, 10
    RECALL_FLOOR = 0.8
    # the warm-up builds a small index over the first WARM_N vectors and
    # serves from it: on a fresh JVM, latencies keep falling for a while
    WARM_N, WARM_UP_REQUESTS = 1000, 3

    def prepare(self, spark) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        self.spark = spark
        ids, vecs, qids, qvecs = gen.make_vectors(
            self.seed, self.N, self.DIM, self.CLUSTERS, self.QUERY_POOL
        )
        self.vecs, self.qids, self.qvecs = vecs, qids, qvecs
        self.dir = os.path.join(self.work, "ann")
        os.makedirs(self.dir, exist_ok=True)
        tables = {"corpus": (ids, vecs), "warm": (ids[: self.WARM_N], vecs[: self.WARM_N]), "queries": (qids, qvecs)}
        for name, (i, v) in tables.items():
            pq.write_table(
                pa.table({"id": i, "vec": pa.array(list(v), type=pa.list_(pa.float64()))}),
                os.path.join(self.dir, f"{name}.parquet"),
            )
        self.corpus = spark.read.parquet(os.path.join(self.dir, "corpus.parquet"))
        self.queries = spark.read.parquet(os.path.join(self.dir, "queries.parquet"))
        self.next_batch = 0
        self.answers: list[tuple[int, list]] = []

    def digest(self) -> str:
        return gen.digest(self.vecs, self.qvecs)

    def _build(self, corpus, codes_path: str) -> dict:
        """Coarse + residual PQ codebooks, encode, write the codes."""
        with self.span("operators.clustering.fit"):
            cents = clustering.fit_centroids(corpus, "id", "vec", k=self.CELLS, iters=self.ITERS)
            books = clustering.fit_pq_codebooks(
                corpus, "id", "vec", m=self.M, ks=self.KS, iters=self.ITERS, residuals_of=cents
            )
        with self.span("operators.similarity_index.pq_encode"):
            similarity_index.pq_encode(
                corpus, "id", "vec", cents, books, residual=True
            ).write.mode("overwrite").partitionBy("cell").parquet(codes_path)
        return {"corpus": corpus, "cents": cents, "books": books, "codes": self.spark.read.parquet(codes_path)}

    def _request(self, index: dict):
        b = self.next_batch % (self.QUERY_POOL // self.QUERIES_PER_REQUEST)
        self.next_batch += 1
        lo = int(self.qids[0]) + b * self.QUERIES_PER_REQUEST
        qb = self.queries.filter((F.col("id") >= lo) & (F.col("id") < lo + self.QUERIES_PER_REQUEST))
        with self.span("operators.similarity.topk_ivf_pq"):
            rows, dt = _timed(
                lambda: similarity.topk_ivf_pq(
                    index["corpus"], qb, "id", "vec", k=self.K, nprobe=self.NPROBE,
                    m=self.M, ks=self.KS, rerank_m=self.RERANK, centroids=index["cents"],
                    pq_codebooks=index["books"], codes=index["codes"], residual=True,
                ).collect()
            )
        return b, rows, dt

    def warm_up(self) -> None:
        warm = self.spark.read.parquet(os.path.join(self.dir, "warm.parquet"))
        index = self._build(warm, os.path.join(self.dir, "codes_warm"))
        for _ in range(self.WARM_UP_REQUESTS):
            self._request(index)

    def build_index(self) -> None:
        self.index = self._build(self.corpus, os.path.join(self.dir, "codes"))

    def request(self) -> None:
        b, rows, dt = self._request(self.index)
        self.r.request_s.append(dt)
        self.answers.append((b, rows))

    def check(self) -> None:
        # the numpy ground truth is the gate's work, not set-up's
        truth = gen.exact_topk(self.vecs, self.qvecs, self.K)
        recalls = []
        for b, rows in self.answers:
            self.r.attempted += 1
            got: dict[int, list[tuple[int, int]]] = {}
            for r in rows:
                got.setdefault(r["query_id"], []).append((r["rank"], r["neighbor_id"]))
            ok = len(got) == self.QUERIES_PER_REQUEST
            for j in range(b * self.QUERIES_PER_REQUEST, (b + 1) * self.QUERIES_PER_REQUEST):
                hits = sorted(got.get(int(self.qids[j]), []))
                ok &= [rank for rank, _ in hits] == list(range(1, self.K + 1))
                recalls.append(len({n for _, n in hits} & set(truth[j].tolist())) / self.K)
            if not ok:
                self.r.fail(f"request {b}: not {self.K} ranked rows per query")
        recall = float(np.mean(recalls))
        self.r.count("operators.similarity.recall_at_10", recall)
        self.r.attempted += 1
        if recall < self.RECALL_FLOOR:
            self.r.fail(f"recall@10 {recall:.3f} below {self.RECALL_FLOOR}")



class LlmTier(Workload):
    """The LLM data tier: one timed build (a curation pass with its shard
    export, plus the IVF-PQ index build), then retrieval requests served
    off the index for the rest of the run."""

    name = "llm_tier"
    batch_unit = "docs + vectors"

    def __init__(self, seed: int, work: str, tracer: Tracer):
        super().__init__(seed, work, tracer)
        self.parts = (Curation(seed, work, tracer), VectorIndex(seed, work, tracer))
        for p in self.parts:
            p.r = self.r  # one record: the parts' gates count together
        self.cur, self.idx = self.parts

    def prepare(self, spark) -> None:
        self.spark = spark
        for p in self.parts:
            p.prepare(spark)

    def digest(self) -> str:
        return gen.digest(*[p.digest() for p in self.parts])

    def warm_up(self) -> None:
        for p in self.parts:
            p.warm_up()

    def build(self) -> None:
        t0 = time.perf_counter()
        res = self.cur.run_pass()
        self.idx.build_index()
        self.r.batch_s.append(time.perf_counter() - t0)
        self.r.batch_items += self.cur.n_docs + self.idx.N
        self.r.attempted += 1
        self.cur.record_pass(res)

    def iteration(self) -> None:
        self.idx.request()

    def check(self) -> None:
        for p in self.parts:
            p.check()


WORKLOADS = {w.name: w for w in (FuelCron, LlmTier)}
