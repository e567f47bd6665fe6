"""M4 (bloom shards) + M5 (kill/resume, zero-replay) tests."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from news_crawler_spark.crawl import CrawlEngine, SyntheticFetcher
from news_crawler_spark.crawl.bloom import BloomShards, probe_negative_mask
from news_crawler_spark.fixtures import CrawlOracle, SiteConfig, host_rows, seed_rows
from news_crawler_spark.schemas import HOSTS

CFG = SiteConfig(seed=99, n_hosts=5, base_pages=24, hot_factor=4, n_seeds=3)


# ---------------------------------------------------------------- bloom unit
def test_bloom_no_false_negatives_and_low_fpp():
    rng = np.random.default_rng(0)
    members = rng.integers(-(2**62), 2**62, 50_000, dtype=np.int64)
    others = rng.integers(-(2**62), 2**62, 50_000, dtype=np.int64)
    others = np.setdiff1d(others, members)
    b = BloomShards(n_shards=8, capacity=10_000)
    b.add(members)
    snap = b.snapshot()
    assert not probe_negative_mask(snap, members).any(), "false negative!"
    fpp = 1.0 - probe_negative_mask(snap, others).mean()
    assert fpp < 0.02, f"fpp too high: {fpp}"


def test_bloom_digest_is_rebuild_invariant():
    keys = np.arange(1000, dtype=np.int64) * 7919
    a = BloomShards(n_shards=4, capacity=100)
    for chunk in np.array_split(keys, 7):  # incremental adds
        a.add(chunk)
    b = BloomShards(n_shards=4, capacity=100_000)  # different capacity
    b.add(keys)  # one-shot rebuild
    assert a.digest() == b.digest()


# ------------------------------------------------------------- kill/resume
def _mk_engine(spark, state, **kw):
    hosts = spark.createDataFrame(host_rows(CFG), HOSTS)
    kw.setdefault("bloom_min_resolved", 0)  # force the probe path
    return CrawlEngine(spark, state, hosts, SyntheticFetcher(CFG),
                       seed=CFG.seed, max_attempts=CFG.max_attempts, **kw)


def test_kill_resume_replays_no_url(spark, tmp_path):
    """Kill after round 1 with a torn (uncommitted) append; resume must
    roll back the torn write, continue, and match both the oracle and
    an uninterrupted run exactly — zero URL fetched twice."""
    state = str(tmp_path / "state")
    eng = _mk_engine(spark, state)
    eng.init(spark.createDataFrame(seed_rows(CFG), "url string, priority double"))
    eng.run(2)

    # simulate a mid-round kill: resolved + frontier appended, documents
    # and lineage NOT — exactly the torn window the commit order allows
    torn = eng.resolved.read().limit(4)
    eng.resolved.append(torn)
    eng.frontier.append(eng.frontier.read().limit(2))

    eng2 = _mk_engine(spark, state)
    assert eng2.resume() == 2
    eng2.run(2)

    oracle = CrawlOracle(CFG).run(4)
    log = sorted((r["round"], r.host, r.seq, r.url)
                 for r in eng2.crawl_log_df().collect())
    assert log == sorted(oracle.crawl_log)
    assert {(r.url, r.seen_round) for r in eng2.url_seen_df().collect()} \
        == set(oracle.url_seen.items())
    # zero replay: every (url, attempt) slot resolved at most once
    dup = (eng2.resolved.read().groupBy("url_sha", "attempt").count()
           .filter("count > 1").count())
    assert dup == 0


def test_resume_validates_bloom_digest(spark, tmp_path):
    state = str(tmp_path / "state")
    eng = _mk_engine(spark, state)
    eng.init(spark.createDataFrame(seed_rows(CFG), "url string, priority double"))
    eng.run(2)
    committed = eng.bloom.digest()

    eng2 = _mk_engine(spark, state)
    eng2.resume()
    assert eng2.bloom.digest() == committed

    # a newer lineage row whose seen half or bloom half disagrees with
    # the state rebuilt from the resolved table must stop resume
    last = eng.lineage.read().orderBy(F.col("round").desc()).first().asDict()
    seen, bloom = last["bloom_digest"].split(":")
    good = eng.lineage.current_snapshot()
    for tampered, which in ((f"{'0' * 16}:{bloom}", "URL-seen"),
                            (f"{seen}:{'0' * 16}", "bloom shard")):
        eng.lineage.rollback(good)
        eng.lineage.append_rows([tuple({
            **last, "round": last["round"] + 1,
            "bloom_digest": tampered}.values())])
        with pytest.raises(RuntimeError, match=f"{which} digest mismatch"):
            _mk_engine(spark, state).resume()


def test_compaction_mid_crawl_preserves_semantics(spark, tmp_path):
    """compact_frontier between rounds must not change the crawl: the
    slot anti-join keeps rediscovered-resolved URLs unscheduled."""
    eng = _mk_engine(spark, str(tmp_path / "state"))
    eng.init(spark.createDataFrame(seed_rows(CFG), "url string, priority double"))
    eng.run(2)
    before = eng.frontier.read().count()
    eng.compact_frontier()
    assert eng.frontier.read().count() <= before
    eng.run(2)

    oracle = CrawlOracle(CFG).run(4)
    log = sorted((r["round"], r.host, r.seq, r.url)
                 for r in eng.crawl_log_df().collect())
    assert log == sorted(oracle.crawl_log)


def test_auto_compaction_long_crawl_preserves_semantics(spark, tmp_path):
    """The round loop triggers compact_frontier automatically on the
    resolved-in-frontier/pending ratio; a long crawl (36 rounds, well
    past frontier exhaustion) with auto-compaction must be
    crawl-order- and seen-set-identical to one with compaction
    disabled, while actually compacting and keeping the frontier table
    near pending size."""
    a = _mk_engine(spark, str(tmp_path / "a"),
                   compact_ratio=2.0, compact_min_resolved=20)
    seeds = spark.createDataFrame(seed_rows(CFG), "url string, priority double")
    a.init(seeds)
    a.run(36)
    assert a.compactions >= 1, "ratio trigger never fired in 36 rounds"
    # the pure-Python CrawlOracle IS the no-compaction reference: exact
    # crawl-order + seen-set equality proves compaction changed nothing
    oracle36 = CrawlOracle(CFG).run(36)
    la = sorted((r["round"], r.host, r.seq, r.url) for r in a.crawl_log_df().collect())
    assert la == sorted(oracle36.crawl_log)
    assert ({(r.url, r.seen_round) for r in a.url_seen_df().collect()}
            == set(oracle36.url_seen.items()))
    # without compaction the frontier holds one row per resolved slot
    # plus pending; compacted it must be strictly below the slot count
    fa = a.frontier.read().count()
    n_resolved = a.resolved.read().count()
    assert fa < n_resolved, (
        f"compaction never shrank the frontier ({fa} vs {n_resolved} slots)")

    # resume after auto-compaction: counters rebuild exactly and the
    # next rounds stay oracle-identical
    a2 = _mk_engine(spark, str(tmp_path / "a"),
                    compact_ratio=2.0, compact_min_resolved=20)
    a2.resume()
    assert a2._frontier_rows == fa
    a2.run(2)
    oracle = CrawlOracle(CFG).run(38)
    log = sorted((r["round"], r.host, r.seq, r.url)
                 for r in a2.crawl_log_df().collect())
    assert log == sorted(oracle.crawl_log)


def test_kill_after_compaction_resumes_cleanly(spark, tmp_path):
    """Compaction swaps the frontier to a new snapshot OUTSIDE the
    lineage protocol (it is pure maintenance, not round state). A kill
    between the compaction overwrite and the next round's lineage
    commit must resume against the PRE-compaction snapshot — rollback
    re-pins the manifest pointer and old snapshot dirs are never
    deleted — and the continued crawl must stay oracle-identical."""
    state = str(tmp_path / "state")
    eng = _mk_engine(spark, state)
    eng.init(spark.createDataFrame(seed_rows(CFG), "url string, priority double"))
    eng.run(3)
    pre = eng.frontier.read().count()
    eng.compact_frontier()  # then "killed": no further lineage commit
    assert eng.frontier.read().count() < pre

    eng2 = _mk_engine(spark, state)
    eng2.resume()
    # rolled back to the round-2 lineage snapshot (pre-compaction)
    assert eng2.frontier.read().count() == pre
    assert eng2._frontier_rows == pre
    eng2.run(2)
    oracle = CrawlOracle(CFG).run(5)
    log = sorted((r["round"], r.host, r.seq, r.url)
                 for r in eng2.crawl_log_df().collect())
    assert log == sorted(oracle.crawl_log)


def test_bloom_off_equals_bloom_on(spark, tmp_path, monkeypatch):
    """The bloom is a router, not a semantic: the forced probe path and
    a default engine, which never probes a crawl this small, crawl the
    same."""
    from news_crawler_spark.crawl import engine as engine_mod

    probes = []
    probe = engine_mod.split_by_bloom
    monkeypatch.setattr(engine_mod, "split_by_bloom",
                        lambda *a: probes.append(1) or probe(*a))
    seeds = spark.createDataFrame(seed_rows(CFG), "url string, priority double")
    a = _mk_engine(spark, str(tmp_path / "a"))
    a.init(seeds)
    a.run(3)
    assert probes, "bloom_min_resolved=0 never took the probe path"
    probes.clear()
    b = CrawlEngine(spark, str(tmp_path / "b"),
                    spark.createDataFrame(host_rows(CFG), HOSTS),
                    SyntheticFetcher(CFG), seed=CFG.seed,
                    max_attempts=CFG.max_attempts)
    b.init(seeds)
    b.run(3)
    assert not probes, "the default engine probed a tiny crawl"
    la = sorted((r["round"], r.host, r.seq, r.url) for r in a.crawl_log_df().collect())
    lb = sorted((r["round"], r.host, r.seq, r.url) for r in b.crawl_log_df().collect())
    assert la == lb


def test_kill_resume_torn_write_matrix(spark, tmp_path):
    """Chaos matrix for the commit protocol: the three state appends
    of a round are concurrent, so a kill can leave ANY subset of
    {resolved, documents, frontier} written without the lineage
    marker. Every such torn state must roll back on resume and finish
    bit-identical to the oracle, with zero (url, attempt) replays."""
    import shutil

    base = str(tmp_path / "base")
    eng = _mk_engine(spark, base)
    eng.init(spark.createDataFrame(seed_rows(CFG), "url string, priority double"))
    eng.run(2)
    oracle = CrawlOracle(CFG).run(4)

    scenarios = [("resolved",), ("documents",), ("frontier",),
                 ("resolved", "documents", "frontier")]
    for i, torn_tables in enumerate(scenarios):
        state = str(tmp_path / f"s{i}")
        shutil.copytree(base, state)
        torn = _mk_engine(spark, state)
        for name in torn_tables:  # torn appends, no lineage commit
            t = getattr(torn, name)
            t.append(t.read().limit(3))

        eng2 = _mk_engine(spark, state)
        assert eng2.resume() == 2, f"scenario {torn_tables}"
        eng2.run(2)
        log = sorted((r["round"], r.host, r.seq, r.url)
                     for r in eng2.crawl_log_df().collect())
        assert log == sorted(oracle.crawl_log), f"scenario {torn_tables}"
        dup = (eng2.resolved.read().groupBy("url_sha", "attempt").count()
               .filter("count > 1").count())
        assert dup == 0, f"scenario {torn_tables}"
