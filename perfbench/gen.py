"""Seeded input generators: the fuel REST fake, the curation corpus and the
ANN vectors.

Every value is a pure function of the benchmark seed (and, for the fuel
REST fake, of the cron run and the station id), so the same seed always
yields the same inputs and the benchmark can compute every expected
output in closed form with numpy, outside the timed region.
"""

from __future__ import annotations

import hashlib
import json
import math
from dataclasses import dataclass

import numpy as np

_M64 = np.uint64(0xFFFFFFFFFFFFFFFF)


def _splitmix(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer over uint64 arrays (wrapping arithmetic)."""
    with np.errstate(over="ignore"):
        x = (x + np.uint64(0x9E3779B97F4A7C15)) & _M64
        x = ((x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)) & _M64
        x = ((x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)) & _M64
        return x ^ (x >> np.uint64(31))


def uniform(seed: int, run, ids, salt: int) -> np.ndarray:
    """Deterministic U[0, 1) per (seed, run, id, salt); ``run`` and
    ``ids`` broadcast against each other."""
    with np.errstate(over="ignore"):
        x = _splitmix(np.uint64(seed) * np.uint64(0xD1B54A32D192ED03) + np.uint64(salt))
        x = _splitmix(x ^ np.asarray(run, dtype=np.uint64))
        x = _splitmix(x ^ np.asarray(ids, dtype=np.uint64))
    return (x >> np.uint64(11)).astype(np.float64) / float(1 << 53)


def digest(*parts) -> str:
    """Short sha256 over arrays and strings — the input digest."""
    h = hashlib.sha256()
    for p in parts:
        if isinstance(p, np.ndarray):
            h.update(np.ascontiguousarray(p).tobytes())
        else:
            h.update(str(p).encode())
    return h.hexdigest()[:16]


_MASK = (1 << 64) - 1


def _mix_int(x: int) -> int:
    """Scalar twin of ``_splitmix`` for the per-request REST fake (numpy
    dispatch costs more than the hash at one value per call)."""
    x = (x + 0x9E3779B97F4A7C15) & _MASK
    x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & _MASK
    x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & _MASK
    return x ^ (x >> 31)


def uniform_int(seed: int, run: int, key: int, salt: int) -> float:
    """Scalar twin of ``uniform`` (bit-identical, test-pinned)."""
    x = _mix_int((seed * 0xD1B54A32D192ED03 + salt) & _MASK)
    x = _mix_int(x ^ run)
    x = _mix_int(x ^ key)
    return (x >> 11) / float(1 << 53)


# ---------------------------------------------------------------------------
# fuel_cron: the station list endpoint and the per-station detail endpoint
# ---------------------------------------------------------------------------

NULL_FRAC = 0.02  # Nome or Morada missing: the P2 null filter drops the row
BAD_BODY_FRAC = 0.005  # undecodable body: the P6 skip drops the row
RENAME_FRAC = 0.05  # stations renamed once, at a seeded run
PRICE_EPOCH_RUNS = 5  # each station reprices every 5th run: 20 % per run
NEW_FRAC = 0.01  # stations added to the list in each run
BRANDS = ("Galp", "BP", "Repsol", "Prio")

LIST_URL = "https://fuel.example/stations"
DETAIL_PREFIX = "https://fuel.example/station/"
LIST_SCHEMA = "Id long, Nome string"
DETAIL_SCHEMA = "Id long, Nome string, Morada string, Marca string, Preco double"


@dataclass(frozen=True)
class FuelSpec:
    """The REST fake's world. Every attribute of a station in a run is
    O(1) closed form in (seed, run, id), so the fetcher stays cheap
    next to the engine work it feeds."""

    seed: int
    n_initial: int

    @property
    def n_new(self) -> int:
        return max(1, int(self.n_initial * NEW_FRAC))

    def n_stations(self, run: int) -> int:
        """Stations listed by the list endpoint in cron run ``run``."""
        return self.n_initial + run * self.n_new

    @staticmethod
    def run_ts(run: int) -> str:
        """One cron run per hour from a fixed epoch."""
        day, hour = divmod(run, 24)
        return f"2024-01-{day + 1:02d} {hour:02d}:00:00"

    # -- vectorized over ids: the closed-form expectations --------------
    def landed(self, run: int, ids: np.ndarray) -> np.ndarray:
        """Rows that survive the P6 skip and the P2 null filter."""
        return (uniform(self.seed, run, ids, 1) >= NULL_FRAC) & (
            uniform(self.seed, run, ids, 2) >= BAD_BODY_FRAC
        )

    def renamed(self, run: int, ids: np.ndarray) -> np.ndarray:
        rename_run = 1 + (uniform(self.seed, 0, ids, 4) * 24).astype(np.int64)
        return (uniform(self.seed, 0, ids, 3) < RENAME_FRAC) & (run >= rename_run)

    def price(self, run: int, ids: np.ndarray) -> np.ndarray:
        offset = (uniform(self.seed, 0, ids, 5) * PRICE_EPOCH_RUNS).astype(np.uint64)
        epoch = (np.uint64(run) + offset) // np.uint64(PRICE_EPOCH_RUNS)
        return (1200 + np.floor(uniform(self.seed, epoch, ids, 6) * 800)) / 1000

    # -- scalar: what the endpoints serve --------------------------------
    def name(self, run: int, key: int) -> str:
        renamed = uniform_int(self.seed, 0, key, 3) < RENAME_FRAC and run >= 1 + int(
            uniform_int(self.seed, 0, key, 4) * 24
        )
        return f"Posto {key} (novo)" if renamed else f"Posto {key}"

    def list_body(self, run: int) -> str:
        rows = [{"Id": i, "Nome": self.name(run, i)} for i in range(self.n_stations(run))]
        return json.dumps({"resultado": rows})

    def detail_body(self, run: int, key: int) -> str:
        if uniform_int(self.seed, run, key, 2) < BAD_BODY_FRAC:
            return '{"Id": %d, "Nome": ' % key  # truncated JSON
        null = uniform_int(self.seed, run, key, 1) < NULL_FRAC
        offset = int(uniform_int(self.seed, 0, key, 5) * PRICE_EPOCH_RUNS)
        epoch = (run + offset) // PRICE_EPOCH_RUNS
        return json.dumps(
            {
                "Id": key,
                "Nome": None if null and key % 2 == 0 else self.name(run, key),
                "Morada": None if null and key % 2 == 1 else f"Rua {key % 997}, {key}",
                "Marca": BRANDS[key % 4],
                "Preco": (1200 + math.floor(uniform_int(self.seed, epoch, key, 6) * 800)) / 1000,
            }
        )


class FuelFetcher:
    """The injected ``sources.rest.Fetcher`` of one cron run: a pure
    function of (seed, run, URL) with no sleep. Picklable by reference,
    so executor tasks call it from their Python workers."""

    def __init__(self, spec: FuelSpec, run: int):
        self.spec = spec
        self.run = run

    def __call__(self, url: str) -> str:
        if url == LIST_URL:
            return self.spec.list_body(self.run)
        if url.startswith(DETAIL_PREFIX):
            return self.spec.detail_body(self.run, int(url[len(DETAIL_PREFIX):]))
        raise ValueError(f"unknown URL {url!r}")


def zipf_keys(seed: int, run: int, n_keys: int, count: int, a: float = 1.2) -> np.ndarray:
    """Zipf-skewed station ids for the point lookups after ``run``.
    Rank r maps through a seeded permutation, so the hot keys are spread
    over the key space instead of all sitting in the first file."""
    rng = np.random.default_rng([seed, run, 7])
    ranks = np.minimum(rng.zipf(a, size=count) - 1, n_keys - 1)
    return np.random.default_rng([seed, 11]).permutation(n_keys)[ranks]


class FuelLedger:
    """Closed-form expected state of the dimension and fact tables,
    advanced one cron run at a time alongside the engine."""

    def __init__(self, spec: FuelSpec):
        self.spec = spec
        self.runs = 0
        self.landed: list[np.ndarray] = []
        self.prices: list[np.ndarray] = []
        self.first_run = np.zeros(0, dtype=np.int64)
        self.first_renamed = np.zeros(0, dtype=bool)
        self.last_price = np.zeros(0)
        self.fact_rows = 0
        self.changed = 0  # change_deltas rows with changed = true

    def advance(self) -> None:
        run, spec = self.runs, self.spec
        ids = np.arange(spec.n_stations(run), dtype=np.uint64)
        grow = len(ids) - len(self.first_run)
        self.first_run = np.concatenate([self.first_run, np.full(grow, -1)])
        self.first_renamed = np.concatenate([self.first_renamed, np.zeros(grow, bool)])
        self.last_price = np.concatenate([self.last_price, np.full(grow, np.nan)])
        ok, p = spec.landed(run, ids), spec.price(run, ids)
        self.landed.append(ok)
        self.prices.append(p)
        self.fact_rows += int(ok.sum())
        seen = ~np.isnan(self.last_price)
        self.changed += int((ok & seen & (self.last_price != p)).sum())
        self.last_price[ok] = p[ok]
        new = ok & (self.first_run < 0)
        self.first_run[new] = run
        self.first_renamed[new] = spec.renamed(run, ids)[new]
        self.runs += 1

    @property
    def dim_rows(self) -> int:
        return int((self.first_run >= 0).sum())

    def latest(self, key: int, as_of_run: int) -> float | None:
        """Latest landed price of ``key`` at or before ``as_of_run``."""
        for run in range(as_of_run, -1, -1):
            ok = self.landed[run]
            if key < len(ok) and ok[key]:
                return float(self.prices[run][key])
        return None

    def latest_price_millis(self) -> int:
        """Sum over landed stations of the latest price, in millis."""
        seen = self.last_price[~np.isnan(self.last_price)]
        return int(np.round(seen * 1000).astype(np.int64).sum())


# ---------------------------------------------------------------------------
# corpus_curation: a Zipf-vocabulary corpus with planted duplicate legs
# ---------------------------------------------------------------------------

# Classifier lexicons over the generated vocabulary. Common words carry
# positive quality weight; the "spam" words carry negative weight and
# make the planted low-quality docs; the "retail" class words make the
# planted blocked-domain docs.
GOOD_WORDS = ["data", "model", "table", "query", "index", "result", "method", "value"]
SPAM_WORDS = ["click", "free", "winner", "cheap", "offer", "bonus"]
RETAIL_WORDS = ["customer", "order", "basket", "checkout", "coupon", "store"]
QUALITY_LEXICON = [(w, 0.6) for w in GOOD_WORDS] + [(w, -1.0) for w in SPAM_WORDS]
DOMAIN_LEXICON = (
    [("analytics", w, 0.5) for w in ("query", "table", "index", "result")]
    + [("science", w, 0.5) for w in ("data", "model", "method", "value")]
    + [("retail", w, 0.7) for w in RETAIL_WORDS]
)
QUALITY_THRESHOLD = 0.01
BLOCKED_DOMAIN = "retail"
N_BUCKETS = 4096
BOILERPLATE = " ".join(f"hdr{i:02d}" for i in range(20))  # 20 distinct tokens

# Id offsets of the planted duplicate legs. As in the registry's capstone
# corpus, each leg derives from the base docs whose id matches a modulus
# (see make_corpus), so every precedence rule of the decision fires.
LEG_EXACT, LEG_NEAR, LEG_ANTHOLOGY, LEG_HEADER = 1_000_000, 2_000_000, 3_000_000, 4_000_000


@dataclass
class Corpus:
    ids: np.ndarray  # int64 doc ids
    texts: list[str]
    legs: dict[str, list[tuple[int, ...]]]  # leg -> (leg_id, source ids...)

    def digest(self) -> str:
        return digest(self.ids, "\n".join(self.texts))


def make_corpus(seed: int, n_base: int, vocab: int = 4000) -> Corpus:
    rng = np.random.default_rng([seed, 21])
    words = GOOD_WORDS + [f"w{i:04d}" for i in range(vocab)]
    # Zipf ranks over a seeded permutation of the tail, the good words on top
    order = GOOD_WORDS + [words[len(GOOD_WORDS) + i] for i in rng.permutation(vocab)]
    p = 1.0 / np.arange(1, len(order) + 1) ** 1.1
    p /= p.sum()
    lengths = rng.integers(40, 140, size=n_base)
    kind = rng.random(n_base)
    base_ids = np.arange(1, n_base + 1, dtype=np.int64)
    texts: list[str] = []
    for n, k in zip(lengths.tolist(), kind.tolist()):
        toks = [order[j] for j in rng.choice(len(order), size=n, p=p)]
        if k < 0.03:  # low quality: spam words throughout
            toks = [SPAM_WORDS[j % len(SPAM_WORDS)] if j % 3 == 0 else t for j, t in enumerate(toks)]
        elif k < 0.06:  # blocked domain: retail vocabulary
            toks = [RETAIL_WORDS[j % len(RETAIL_WORDS)] if j % 4 == 0 else t for j, t in enumerate(toks)]
        texts.append(" ".join(toks))
    ids = list(base_ids.tolist())
    out_texts = list(texts)
    legs: dict[str, list[tuple[int, ...]]] = {"exact": [], "near": [], "anthology": [], "header": []}
    for i, (did, text) in enumerate(zip(base_ids.tolist(), texts)):
        toks = text.split(" ")
        if did % 25 == 0:
            legs["exact"].append((did + LEG_EXACT, did))
            ids.append(did + LEG_EXACT)
            out_texts.append(text)
        if did % 20 == 10:
            legs["near"].append((did + LEG_NEAR, did))
            ids.append(did + LEG_NEAR)
            out_texts.append(" ".join(toks[2:]))
        if did % 40 == 0 and i + 1 < n_base:
            legs["anthology"].append((did + LEG_ANTHOLOGY, did, did + 1))
            ids.append(did + LEG_ANTHOLOGY)
            out_texts.append(text + " " + texts[i + 1])
        if did % 10 == 7:
            legs["header"].append((did + LEG_HEADER, did))
            ids.append(did + LEG_HEADER)
            out_texts.append(BOILERPLATE + " " + " ".join(reversed(toks)))
    return Corpus(np.array(ids, dtype=np.int64), out_texts, legs)


def planted_dup_recall(corpus: Corpus, decisions: dict[int, str]) -> float:
    """Share of planted duplicate legs whose redundancy the decision
    removed: the leg doc is dropped or excised, or (anthologies) both of
    its components are dropped as contained."""
    removed = {d for d, dec in decisions.items() if dec in ("drop", "excise")}
    caught = total = 0
    for leg, rows in corpus.legs.items():
        for leg_id, *src in rows:
            total += 1
            if leg_id in removed or (leg == "anthology" and all(s in removed for s in src)):
                caught += 1
    return caught / total


# ---------------------------------------------------------------------------
# ann_serving: Gaussian-cluster vectors and held-out queries
# ---------------------------------------------------------------------------

QUERY_ID_BASE = 1_000_000_000  # query ids never collide with corpus ids


def make_vectors(seed: int, n: int, dim: int, n_clusters: int, n_queries: int):
    """(corpus ids, corpus vectors, query ids, query vectors): points
    around seeded cluster centres; queries are fresh draws from the same
    mixture, held out of the corpus."""
    rng = np.random.default_rng([seed, 31])
    centres = rng.uniform(-1.0, 1.0, size=(n_clusters, dim))

    def draw(count):
        c = rng.integers(0, n_clusters, size=count)
        return np.round(centres[c] + rng.normal(0.0, 0.25, size=(count, dim)), 6)

    vecs, qvecs = draw(n), draw(n_queries)
    ids = np.arange(n, dtype=np.int64)
    qids = QUERY_ID_BASE + np.arange(n_queries, dtype=np.int64)
    return ids, vecs, qids, qvecs


def exact_topk(vecs: np.ndarray, qvecs: np.ndarray, k: int) -> np.ndarray:
    """Brute-force squared-L2 top-k neighbour indices per query (ties to
    the lower id) — the recall ground truth."""
    d = (qvecs**2).sum(1)[:, None] - 2 * qvecs @ vecs.T + (vecs**2).sum(1)[None, :]
    return np.argsort(d, axis=1, kind="stable")[:, :k]
