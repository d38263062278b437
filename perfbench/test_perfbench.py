"""Tests of the benchmark's own machinery (no Spark needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import numpy as np
import pytest

from perfbench import gen, stats, trace

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# -- generators ---------------------------------------------------------------


def test_scalar_hash_matches_vectorized():
    ids = np.arange(5000, dtype=np.uint64)
    for seed, run, salt in [(0, 0, 0), (7, 3, 5), (2**40 + 3, 99, 6)]:
        vec = gen.uniform(seed, run, ids, salt)
        scal = np.array([gen.uniform_int(seed, run, int(i), salt) for i in ids])
        assert (vec == scal).all()


def test_fuel_endpoints_agree_with_closed_forms():
    spec = gen.FuelSpec(seed=5, n_initial=800)
    for run in (0, 1, 6, 30):
        ids = np.arange(spec.n_stations(run), dtype=np.uint64)
        landed, price = spec.landed(run, ids), spec.price(run, ids)
        renamed = spec.renamed(run, ids)
        listed = json.loads(spec.list_body(run))["resultado"]
        assert [r["Id"] for r in listed] == list(range(len(ids)))
        for i in range(len(ids)):
            try:
                body = json.loads(spec.detail_body(run, i))
            except json.JSONDecodeError:
                assert not landed[i]
                continue
            assert (body["Nome"] is not None and body["Morada"] is not None) == landed[i]
            assert body["Preco"] == price[i]
            assert listed[i]["Nome"].endswith("(novo)") == renamed[i]


def test_fuel_ledger_matches_replay_of_the_endpoints():
    spec = gen.FuelSpec(seed=9, n_initial=500)
    ledger = gen.FuelLedger(spec)
    facts: dict[int, list[tuple[int, float]]] = {}
    dim: dict[int, str] = {}
    for run in range(8):
        ledger.advance()
        for i in range(spec.n_stations(run)):
            try:
                body = json.loads(spec.detail_body(run, i))
            except json.JSONDecodeError:
                continue
            if body["Nome"] is None or body["Morada"] is None:
                continue
            facts.setdefault(i, []).append((run, body["Preco"]))
            dim.setdefault(i, body["Nome"])
    assert ledger.fact_rows == sum(len(v) for v in facts.values())
    assert ledger.dim_rows == len(dim)
    changed = sum(a[1] != b[1] for rows in facts.values() for a, b in zip(rows, rows[1:]))
    assert ledger.changed == changed
    assert ledger.latest_price_millis() == sum(round(rows[-1][1] * 1000) for rows in facts.values())
    for i, name in dim.items():
        assert name.endswith("(novo)") == ledger.first_renamed[i]
    for key in (0, 3, 17, 499, 520):
        for as_of in (0, 4, 7):
            want = [p for r, p in facts.get(key, []) if r <= as_of]
            assert ledger.latest(key, as_of) == (want[-1] if want else None)
    # the shape the satellite asks for: ~2 % nulls, ~0.5 % bad bodies,
    # ~1 % new stations and ~20 % repriced per run
    assert 0.96 < ledger.fact_rows / sum(spec.n_stations(r) for r in range(8)) < 0.99
    assert spec.n_new == 5


def test_same_seed_same_inputs_other_seed_other_inputs():
    def fuel(seed):
        spec = gen.FuelSpec(seed, 300)
        return gen.digest(spec.list_body(2), *[spec.detail_body(2, i) for i in range(300)])

    def vectors(seed):
        return gen.digest(*gen.make_vectors(seed, 500, 8, 4, 12))

    for make in (fuel, vectors, lambda s: gen.make_corpus(s, 120).digest()):
        assert make(1) == make(1)
        assert make(1) != make(2)
    assert (gen.zipf_keys(3, 1, 1000, 50) == gen.zipf_keys(3, 1, 1000, 50)).all()


def test_corpus_plants_every_leg_and_recall_counts_them():
    c = gen.make_corpus(4, 200)
    assert len(set(c.ids.tolist())) == len(c.ids)
    assert {k: len(v) for k, v in c.legs.items()} == {"exact": 8, "near": 10, "anthology": 4, "header": 20}
    text = dict(zip(c.ids.tolist(), c.texts))
    for leg_id, src in c.legs["exact"]:
        assert text[leg_id] == text[src]
    for leg_id, src in c.legs["header"]:
        assert text[leg_id].startswith(gen.BOILERPLATE + " ")
    decisions = {i: "keep" for i in c.ids.tolist()}
    assert gen.planted_dup_recall(c, decisions) == 0.0
    for rows in c.legs.values():
        for leg_id, *_ in rows:
            decisions[leg_id] = "drop"
    assert gen.planted_dup_recall(c, decisions) == 1.0
    # an anthology also counts as resolved when both components drop
    leg_id, a, b = c.legs["anthology"][0]
    decisions[leg_id], decisions[a], decisions[b] = "keep", "drop", "drop"
    assert gen.planted_dup_recall(c, decisions) == 1.0


def test_exact_topk_is_brute_force():
    ids, vecs, qids, qvecs = gen.make_vectors(2, 300, 6, 3, 5)
    top = gen.exact_topk(vecs, qvecs, 4)
    for q, row in zip(qvecs, top):
        d = ((vecs - q) ** 2).sum(1)
        assert sorted(d[row]) == pytest.approx(sorted(d)[:4])
    assert (qids >= gen.QUERY_ID_BASE).all()


# -- percentiles ----------------------------------------------------------------


def test_tail_percentile_needs_ten_samples_above():
    with pytest.raises(stats.TooFewSamples):
        stats.tail_percentile(list(range(99)), 90)  # rank 90, 9 above
    assert stats.tail_percentile(list(range(1, 101)), 90) == 90  # 10 above
    assert stats.tail_percentile(list(range(1, 41)), 75) == 30
    with pytest.raises(stats.TooFewSamples):
        stats.tail_percentile(list(range(1, 20)), 50)


def test_highest_supported_percentile():
    assert stats.highest_supported_percentile(19) is None
    assert stats.highest_supported_percentile(20) == 50
    assert stats.highest_supported_percentile(40) == 75
    assert stats.highest_supported_percentile(100) == 90
    for n in (20, 33, 57, 100, 250):
        q = stats.highest_supported_percentile(n)
        stats.tail_percentile(list(range(n)), q)
        if q < 99:
            with pytest.raises(stats.TooFewSamples):
                stats.tail_percentile(list(range(n)), q + 1)


# -- self and driver time -----------------------------------------------------


def test_union_subtract_intersect():
    assert stats.union([(3, 4), (0, 1), (0.5, 2), (5, 5)]) == [(0, 2), (3, 4)]
    assert stats.subtract((0, 10), [(2, 3), (2.5, 4), (9, 12)]) == [(0, 2), (4, 9)]
    assert stats.subtract((0, 1), [(-1, 2)]) == []
    assert stats.length(stats.intersect([(0, 4)], [(1, 2), (3, 6)])) == 2


def test_self_and_driver_time():
    # span 0..10, a child span 2..4; own stages run 1..3 (half under the
    # child) and 6..8: self = 8, busy within self = 1 + 2, driver = 5
    assert stats.self_and_driver_time((0, 10), [(2, 4)], [(1, 3), (6, 8)]) == (8, 5)
    # stages overlapping each other and the span edges count once
    assert stats.self_and_driver_time((0, 10), [], [(-1, 2), (1, 3), (9, 11)]) == (10, 6)
    assert stats.self_and_driver_time((0, 1), [], []) == (1, 1)


def test_layer_metrics_attributes_stages_through_job_groups():
    t0 = 1_700_000_000.0

    def ts(s):
        from datetime import datetime, timezone

        return datetime.fromtimestamp(t0 + s, timezone.utc).strftime("%Y-%m-%dT%H:%M:%S.%f")[:-3] + "GMT"

    spans = [
        trace.Span("sinks.append_fact", "sinks.append_fact#0", None, t0 + 0, t0 + 4),
        trace.Span("sinks.append_fact", "sinks.append_fact#1", None, t0 + 10, t0 + 12),
    ]
    jobs = [
        {"jobId": 0, "jobGroup": "sinks.append_fact#0", "stageIds": [0, 1]},
        {"jobId": 1, "jobGroup": "sinks.append_fact#1", "stageIds": [1, 2]},  # stage 1 reused
        {"jobId": 2, "jobGroup": None, "stageIds": [3]},
    ]

    def stage(sid, a, b, status="COMPLETE"):
        return {
            "stageId": sid, "status": status, "submissionTime": ts(a), "completionTime": ts(b),
            "numTasks": 4, "executorCpuTime": 2e9, "shuffleReadBytes": 10, "shuffleWriteBytes": 5,
            "inputBytes": 100, "inputRecords": 7, "memoryBytesSpilled": 1, "diskBytesSpilled": 2,
            "numFailedTasks": 0,
        }

    stages = [stage(0, 1, 2), stage(1, 2, 3), stage(2, 10.5, 11.5), stage(3, 20, 21)]
    out, totals = trace.layer_metrics(spans, jobs, stages)
    a = "sinks.append_fact"
    assert out[f"{a}.wall_s"] == pytest.approx(3.0)  # (4 + 2) / 2 calls
    assert out[f"{a}.driver_s"] == pytest.approx((2 + 1) / 2)
    assert out[f"{a}.jobs"] == 1
    assert out[f"{a}.tasks"] == 6  # stage 1 counts once, in job 0
    assert out[f"{a}.cpu_s"] == pytest.approx(3.0)
    assert out[f"{a}.shuffle_bytes"] == pytest.approx(22.5)
    assert out["sinks.upsert_dim.wall_s"] == 0
    assert out["run.spill_bytes"] == 12
    assert totals[a]["input_records"] == 21


def test_stage_collector_refuses_a_disabled_ui():
    class NoUi:
        uiWebUrl = None
        applicationId = "local-1"

    with pytest.raises(RuntimeError, match="UI is disabled"):
        trace.StageCollector(NoUi())


def test_rss_sampler_counts_python_children_and_skips_others():
    py = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(30)"])
    other = subprocess.Popen(["sleep", "30"])
    try:
        time.sleep(0.5)
        with open(f"/proc/{py.pid}/stat") as f:
            py_rss = int(f.read().rsplit(")", 1)[1].split()[21]) * os.sysconf("SC_PAGE_SIZE")
        assert trace.RssSampler().sample() == py_rss
    finally:
        for p in (py, other):
            p.kill()
            p.wait()


# -- the benchmark's declared metrics ----------------------------------------


def test_benchmark_json_declares_what_the_run_prints():
    from perfbench import run, workloads

    assert set(run.WORKLOADS) == set(workloads.WORKLOADS)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {w["name"] for w in bench["workloads"]} == set(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.per_layer_units()
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert len(bench["per_layer"]) <= 128
