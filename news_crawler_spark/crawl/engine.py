"""CrawlEngine: the per-round DAG + resumable state (SURVEY.md §3.4, §7).

A round (:meth:`CrawlEngine.run_round`) is four phases::

    _select   frontier rows due this round whose (url_sha, attempt)
              slot is unresolved (frontier.unresolved; bloom-prefiltered
              once the resolved set is large) → robots + budget gate
              (broadcast hosts) → salt-local + per-host priority top-k.
              Lazy: nothing executes yet.
    _stage    (host, salt) repartition → fetch/parse UDF (the only
              Python) → ONE disposition-partitioned staging write.
              Selection executes inside this job; the round's counters
              ride it as an Observation.
    _publish  state appends from the staging dir: resolved + documents
              adopt staged partitions zero-copy; new links (first-wins
              anti-join vs frontier) + retry rows append to the
              frontier while the bloom delta shards build.
    _commit   bloom absorb, exact counter deltas, then the lineage row
              (the commit marker, tables/snapshot.commit_lineage). A
              zero-work round publishes nothing and commits the same way.

State tables (all append-only snapshot tables):

* ``frontier``  — every URL ever discovered, plus retry rows (T4);
* ``resolved``  — one row per scheduled fetch with its disposition
  (``ok`` → the URL-seen set D2, ``dead`` → 404/exhausted, ``retry``);
  url_seen / dead / crawl_log are *views* of this one table, so a
  round commits three appends total, not five;
* ``documents`` — parsed span sequences of fetched-ok pages;
* ``lineage``   — the commit marker (counters + snapshot ids + digest).

Exactly-once per URL: the lineage row for round r is appended *after*
every state append; resume pins each table to the snapshot ids of the
last complete lineage row (tables/snapshot.resume_lineage), so a job
killed mid-round replays only the unfinished round and no URL twice
(SURVEY.md §7.4 — a deliberate
upgrade over the reference's mark-before-send at-most-once,
``scheduler.py:60-89``).

The reference's daily-cron loop (``scheduler.py:92-111``) maps to the
driver calling :meth:`run_round` per round; batch rounds, not
Structured Streaming, because frontier feedback (this round's links
are next round's input) is a cyclic dataflow streaming cannot express.
"""

from __future__ import annotations

import datetime as _dt
import hashlib
import os
import shutil
import uuid
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from news_crawler_spark import schemas
from news_crawler_spark.crawl import frontier as frontier_ops
from news_crawler_spark.crawl.bloom import (
    BloomShards,
    build_shard_blobs,
    split_by_bloom,
)
from news_crawler_spark.crawl.fetch import (
    Fetcher,
    enrich_candidates,
    extract_links,
    fetch_round,
)
from news_crawler_spark.tables.snapshot import (
    SnapshotTable,
    commit_lineage,
    resume_lineage,
)

# the counters of a round that scheduled nothing (init commits as one)
_NO_WORK = {"n": 0, "n_ok": 0, "n_dead": 0, "ok_xor": 0}


def url_priority_col(seed: int, url_col: str = "url") -> F.Column:
    """Native twin of fixtures.sitegen.url_priority: first 15 hex chars
    (60 bits, long-safe) of sha256(f"{seed}|{url}|prio"), mod 1e5, / 1e5."""
    digest = F.sha2(F.concat_ws("|", F.lit(str(seed)), F.col(url_col), F.lit("prio")), 256)
    u60 = F.conv(F.substring(digest, 1, 15), 16, 10).cast("long")
    return (F.pmod(u60, F.lit(100000)).cast("double") / F.lit(100000.0))


def _discovered(urls: DataFrame, priority: F.Column, round_no: int) -> DataFrame:
    """Frontier rows for newly discovered URLs: first attempt, due at once."""
    return enrich_candidates(urls).select(
        "url", "url_hash", "url_sha", "host", "path",
        priority.alias("priority"),
        F.lit(round_no).alias("discovered_round"),
        F.lit(0).alias("attempt"),
        F.lit(0).alias("not_before"),
    )


class CrawlEngine:
    def __init__(self, spark: SparkSession, state_dir: str, hosts: DataFrame,
                 fetcher: Fetcher, seed: int = 42, max_attempts: int = 3,
                 bloom_min_resolved: int = 2_000_000,
                 retry_jitter_span: int = 0, compact_ratio: float = 4.0,
                 compact_min_resolved: int = 100_000,
                 archive_dir: str | None = None,
                 archive_compress: bool = False):
        self.spark = spark
        self.hosts = hosts
        self.fetcher = fetcher
        self.seed = seed
        self.max_attempts = max_attempts
        self.retry_jitter_span = retry_jitter_span
        self.bloom = BloomShards()
        self._bloom_bc = None
        # below this resolved-set size the exact anti-join beats the
        # probe's Arrow round trip (measured in-sandbox); the shards are
        # still maintained so the switch-over is seamless at scale
        self.bloom_min_resolved = bloom_min_resolved
        self._resolved_n = 0
        # auto-compaction (frontier is append-only; resolved slots
        # accumulate and every selection anti-join rescans them):
        # compact when the resolved rows sitting in the frontier exceed
        # compact_ratio x pending AND the compact_min_resolved floor —
        # the floor keeps short crawls from churning snapshots for
        # scans that were already cheap. compact_ratio=0 disables.
        self.compact_ratio = compact_ratio
        self.compact_min_resolved = compact_min_resolved
        # optional WET-style archive: each round's ok-fetches also land
        # as WARC conversion segments under archive_dir/round-NNNNNNNN.
        # Archives live OUTSIDE lineage on purpose — they are derived
        # data (replaying a round rewrites byte-identical records), so
        # kill/resume never needs to roll them back.
        # archive_compress=True writes .warc.gz segments (one gzip
        # member per record, pinned mtime — still deterministic).
        self.archive_dir = archive_dir
        self.archive_compress = archive_compress
        self.compactions = 0
        self._frontier_rows = 0          # rows in the frontier table
        self._resolved_in_frontier = 0   # ... of which already resolved
        st = lambda name, schema: SnapshotTable(spark, state_dir, name, schema)
        self.frontier = st("frontier", schemas.FRONTIER)
        self.resolved = st("resolved", schemas.RESOLVED)
        self.documents = st("documents", schemas.DOCUMENTS)
        self.lineage = st("lineage", schemas.LINEAGE)
        # lineage column -> the state table whose snapshot it pins
        self._pins = {"frontier_snapshot": self.frontier,
                      "resolved_snapshot": self.resolved,
                      "documents_snapshot": self.documents}
        self.next_round = 0
        self._seen_xor = 0
        self._seen_n = 0

    # -- views over resolved ----------------------------------------------
    def url_seen_df(self) -> DataFrame:
        """The URL-seen set (D2): fetched-ok URLs."""
        return (
            self.resolved.read().filter(F.col("disposition") == "ok")
            .select("url_hash", "url_sha", "url", F.col("round").alias("seen_round"))
        )

    def dead_df(self) -> DataFrame:
        """404s and retry-exhausted URLs (never refetched)."""
        return (
            self.resolved.read().filter(F.col("disposition") == "dead")
            .select("url_hash", "url_sha", "url", F.col("round").alias("seen_round"))
        )

    def crawl_log_df(self) -> DataFrame:
        """(round, host, seq, url) — the crawl-order invariant."""
        return self.resolved.read().select("round", "host", "seq", "url")

    def trap_report(self, ratio_threshold: float = 8.0,
                    min_urls: int = 20) -> DataFrame:
        """Trap signals over every URL the crawl has resolved
        (crawl/traps.py): path/template explosion per host. Detection
        only — the operator's contract — so the caller decides whether
        flagged hosts enter the exclusion rules (K4) or just lose
        budget; read-only over the resolved table."""
        from news_crawler_spark.crawl.traps import trap_signals

        urls = enrich_candidates(self.resolved.read().select("url"))
        return trap_signals(urls.select("host", "path"),
                            ratio_threshold=ratio_threshold,
                            min_urls=min_urls)

    def plan_budgets(self, total_budget: int, floor: int = 1) -> DataFrame:
        """Advisory per-host slot plan for the next round
        (crawl/budget.py allocate_host_budget): pending frontier
        priority mass → largest-remainder split that sums to
        total_budget exactly. The ×1000 ceil quantizes the double
        priority sum so last-ulp aggregation-order noise can't flip a
        remainder rank. Advisory: selection still enforces the hosts
        table's hard caps; this plans how a global round budget SHOULD
        spread before those caps bite."""
        from news_crawler_spark.crawl.budget import allocate_host_budget

        mass = (self._pending(self.next_round)
                .select("host",
                        # quantize PER ROW, then sum longs: integer
                        # partial sums commute, so the plan is identical
                        # at any partitioning — a double F.sum here was
                        # aggregation-order dependent and ceil amplified
                        # last-ulp noise exactly at integer boundaries
                        F.round(F.col("priority") * 1000).cast("long")
                        .alias("_q"))
                .groupBy("host").agg(F.sum("_q").alias("mass")))
        return allocate_host_budget(mass, total_budget, floor=floor)

    def _archive_round(self, round_no: int, ok_rows: DataFrame) -> list[dict]:
        """WET-style WARC conversion archive of a round's ok-fetches
        (sources/warc.py): payload = the flattened span text (P3), one
        segment per partition under archive_dir/round-NNNNNNNN. The
        record date derives from the round number, not the clock, so a
        replayed round re-serializes byte-identical records."""
        from news_crawler_spark.operators.spanops import flatten_text
        from news_crawler_spark.sources.warc import write_warc

        date = (
            _dt.datetime(2026, 1, 1, tzinfo=_dt.timezone.utc)
            + _dt.timedelta(seconds=round_no)
        ).strftime("%Y-%m-%dT%H:%M:%SZ")
        out = os.path.join(self.archive_dir, f"round-{round_no:08d}")
        # wipe any aborted attempt's segments first: a replay can stage
        # into a different partition count, and byte-identical rewrite
        # only holds per segment — stale part files from a wider
        # attempt would otherwise duplicate records on read
        shutil.rmtree(out, ignore_errors=True)
        flat = flatten_text(ok_rows.select("doc_id", "spans"))
        recs = flat.select(
            F.col("doc_id").alias("url"),
            F.lit(date).alias("warc_date"),
            F.lit("text/plain").alias("content_type"),
            F.encode(F.coalesce(F.col("text"), F.lit("")), "UTF-8")
             .alias("payload"))
        return write_warc(recs, out, warc_type="conversion",
                          compress=self.archive_compress)

    # -- lifecycle --------------------------------------------------------
    def init(self, seeds: DataFrame) -> None:
        """Install the seed list (url, priority) as frontier round -1."""
        self.frontier.append(
            _discovered(seeds, F.col("priority").cast("double"), 0))
        self._frontier_rows = self.frontier.read().count()
        self._commit(-1, _NO_WORK, 0, None)

    def resume(self) -> int:
        """Pin all state tables to the last complete lineage row.

        Returns the next round to run. Any appends from a round whose
        lineage row never committed are rolled back (never replayed
        partially) — the kill/resume invariant of SURVEY.md §7.2 M5.
        Raises if the rebuilt URL-seen set or bloom shards disagree
        with the lineage row's digest.
        """
        last = resume_lineage(self.lineage, self._pins, "round")
        if last is None:
            raise RuntimeError("resume() before init(): no lineage rows")
        self._rebuild_seen_digest()
        # exact compaction counters (two count jobs, resume-only —
        # never per-round): every frontier row's slot is either
        # resolved or not
        self._frontier_rows = self.frontier.read().count()
        self._resolved_in_frontier = self._frontier_rows - (
            frontier_ops.unresolved(self.frontier.read(), self.resolved.read())
            .count())
        self._rebuild_bloom()
        # "seen:bloom" halves; an empty half (state written before the
        # digest existed, or by an engine without the bloom) is not
        # checked
        committed = last.bloom_digest.partition(":")[::2]
        rebuilt = self._state_digest().partition(":")[::2]
        for name, c, b in zip(("URL-seen", "bloom shard"), committed, rebuilt):
            if c and b and c != b:
                raise RuntimeError(
                    f"{name} digest mismatch after rebuild — resolved "
                    "table and lineage row disagree (torn state?)")
        self.next_round = last["round"] + 1
        return self.next_round

    # -- pending: the scale-critical anti-join, bloom-prefiltered ---------
    def _pending(self, round_no: int) -> DataFrame:
        due = self.frontier.read().filter(F.col("not_before") <= F.lit(round_no))
        resolved = self.resolved.read()
        # the probe pays off only while it can actually prune: its
        # benefit is the join-input rows it removes (the definite
        # negatives ≈ the unresolved fraction of the frontier), its
        # cost is probing every pending row. Once most frontier rows
        # are resolved (compaction fires at compact_ratio, default
        # 80%) the positives go through the exact anti-join anyway, so
        # below ~30% prunable rows the probe is pure overhead — skip
        # it and anti-join directly. Counters are exact per-round
        # deltas; no extra jobs.
        frac_resolved = self._resolved_in_frontier / max(1, self._frontier_rows)
        if self._resolved_n < self.bloom_min_resolved or frac_resolved > 0.7:
            return frontier_ops.unresolved(due, resolved)
        if self._bloom_bc is None:
            self._broadcast_bloom()
        probed = split_by_bloom(due, self._bloom_bc)
        negatives = probed.filter(F.col("bloom_neg")).drop("bloom_neg")
        positives = frontier_ops.unresolved(
            probed.filter(~F.col("bloom_neg")).drop("bloom_neg"), resolved)
        return negatives.unionByName(positives)

    def _broadcast_bloom(self) -> None:
        """Ship the live shard set to the probe, replacing the last one."""
        if self._bloom_bc is not None:
            self._bloom_bc.destroy()
        self._bloom_bc = self.spark.sparkContext.broadcast(self.bloom.snapshot())

    def _rebuild_bloom(self, capacity: int | None = None) -> None:
        """Full rebuild from the resolved table (resume / regrow path).

        Runs as a Spark job: applyInPandas per shard_id builds each
        shard's bit array executor-side (crawl.bloom.build_shard_blobs);
        only the fixed-size blobs come back to the driver — at 10^10
        resolved slots the keys (~80 GB) never leave the executors.
        """
        self.bloom = BloomShards(capacity=capacity or self.bloom.capacity)
        self.bloom.absorb_blobs(
            build_shard_blobs(self.resolved.read().select("url_hash", "attempt"),
                              self.bloom.n_shards, self.bloom.m_bits))
        self._broadcast_bloom()

    def _retry_gap_col(self) -> F.Column:
        """Exponential backoff in round units (reference utils/retry.py:
        29-36: ``delay * backoff**attempt``, base 1, x2): a slot that
        failed attempt ``a`` (0-based) in round r retries no earlier
        than ``r + 2**a`` — gaps 1, 2, 4, ... Optional deterministic
        seeded jitter (reference's ``±jitter``) adds 0..span rounds,
        replayable by the Python oracle via the same sha256 derivation."""
        gap = F.expr("shiftleft(1, attempt)")
        if self.retry_jitter_span > 0:
            digest = F.sha2(F.concat_ws(
                "|", F.lit(str(self.seed)), F.col("url"),
                F.concat(F.lit("retry"), F.col("attempt").cast("string"))), 256)
            u60 = F.conv(F.substring(digest, 1, 15), 16, 10).cast("long")
            gap = gap + F.pmod(u60, F.lit(self.retry_jitter_span + 1))
        return gap

    # -- the round: four phases --------------------------------------------
    def run_round(self, round_no: int | None = None) -> dict:
        r = self.next_round if round_no is None else round_no
        staging, counts = self._stage(r, self._select(r))
        n_new, blobs = self._publish(r, staging, counts["n"])
        return self._commit(r, counts, n_new, blobs)

    def _select(self, r: int) -> DataFrame:
        """Phase 1: the round's fetch set with per-host ``seq``. Lazy —
        it executes inside :meth:`_stage`'s write, no job of its own."""
        self._maybe_compact()
        return frontier_ops.select_candidates(self._pending(r), self.hosts)

    def _stage(self, r: int, selected: DataFrame) -> tuple[str, dict]:
        """Phase 2: ONE pass over the fetch UDF, its output landing
        directly in a disposition-partitioned staging parquet dir.
        Returns (staging dir, round counters).

        Everything downstream reads staged columns (spans pruned away
        unless needed), and the ok-partition is adopted zero-copy as
        the documents append — no memory-cache serialization of fat
        span rows, no second spans write. Round counters ride the same
        write as an Observation (CollectMetrics) — no second agg job.
        """
        # attempt cap applies to EVERY non-ok/non-404 disposition: an
        # unknown status (e.g. 204 from a real fetcher) must exhaust
        # too, never retry unboundedly
        exhausted = F.col("attempt") + 1 >= self.max_attempts
        is_dead = (F.col("status") == 404) | (
            (F.col("status") != 200) & exhausted
        )
        disposition = (
            F.when(F.col("status") == 200, "ok")
            .when(is_dead, "dead")
            .otherwise("retry")
        )
        staging = os.path.join(self.documents.data_dir,
                               f"staging-{r:08d}-{uuid.uuid4().hex[:8]}")
        obs = Observation()
        # the staging files carry `round` and `disposition` as REGULAR
        # columns and partition on a COPY (`dispo`): the disposition
        # subdirs are then schema-complete flat parquet that the
        # resolved table ADOPTS as its round append (append_dir, a
        # driver-side manifest publish) — the former re-read + rewrite
        # of all scheduled rows into a second resolved data file was a
        # full extra Spark job per round
        (fetch_round(selected, self.fetcher)
         .withColumn("doc_id", F.col("url"))
         .withColumn("disposition", disposition)
         .withColumn("round", F.lit(r))
         .withColumn("dispo", F.col("disposition"))
         .observe(
             obs,
             F.count(F.lit(1)).alias("n"),
             F.count(F.when(F.col("disposition") == "ok", 1)).alias("n_ok"),
             F.count(F.when(F.col("disposition") == "dead", 1)).alias("n_dead"),
             F.coalesce(
                 F.expr("bit_xor(case when disposition = 'ok' then url_hash end)"),
                 F.lit(0),
             ).alias("ok_xor"),
         )
         .write.partitionBy("dispo").parquet(staging))
        return staging, obs.get

    def _publish(self, r: int, staging: str,
                 scheduled: int) -> tuple[int, list | None]:
        """Phase 3: the round's state appends, all read from the
        immutable staging dir. Returns (new frontier URLs, this round's
        bloom delta-shard blobs or None)."""
        if scheduled == 0:
            # zero-work round (frontier exhausted / all hosts gated /
            # backoff gap): nothing staged, nothing to append
            shutil.rmtree(staging, ignore_errors=True)
            return 0, None

        # explicit schema: never infer from staged files (a partition
        # dir may be absent — e.g. no retries this round)
        staged = (self.spark.read.schema(schemas.STAGED)
                  .option("basePath", staging).parquet(staging))

        # first-wins (D2): candidates never re-enter the frontier —
        # every previously discovered URL already has a frontier row.
        # The anti-join keys on the exact URL (same dedup semantics as
        # the former sha key, minus the hash); sha256/xxhash64/host
        # regexes run on the SURVIVORS only — in steady state nearly
        # every link is already known, so this skips hashing millions
        # of candidate strings per round (enrich_candidates contract).
        ok_rows = staged.filter(F.col("disposition") == "ok")
        candidates = _discovered(
            extract_links(ok_rows)
            .join(self.frontier.read().select("url"), "url", "left_anti"),
            url_priority_col(self.seed), r)
        retry_rows = staged.filter(F.col("disposition") == "retry").select(
            "url", "url_hash", "url_sha", "host", "path", "priority",
            "discovered_round",
            (F.col("attempt") + 1).alias("attempt"),
            (F.lit(r) + self._retry_gap_col()).cast("int").alias("not_before"),
        )

        # appends are independent (each atomic; the lineage row is the
        # round's commit marker) → overlap the frontier write and the
        # bloom delta-shard build. The documents AND resolved appends
        # both adopt staged partitions zero-copy (the files carry
        # round/disposition as regular columns; reads project each
        # table's schema) — a driver-side manifest publish each. The
        # new-URL count rides the frontier append as an Observation —
        # no separate snapshot-delta count job.
        obs_frontier = Observation()
        # REBALANCE (AQE advisory-size repartition) before the write:
        # in the mid-crawl steady state nearly every candidate is
        # already known, so without it the append writes one
        # NEAR-EMPTY file per upstream task per round — and every
        # subsequent frontier.read() pays listing + footer reads for
        # all of them (measured as a late-round throughput decay that
        # hits the high-parallelism level hardest: more tasks → more
        # empty files). In discovery-heavy rounds the same hint splits
        # the write to advisory-sized files instead — the guide's §6
        # output-sizing recommendation, scale-adaptive by construction.
        frontier_append = (
            candidates.unionByName(retry_rows)
            .hint("rebalance")
            .observe(obs_frontier,
                     F.count(F.when(F.col("attempt") == 0, 1)).alias("n_new"))
        )
        ok_dir = os.path.join(staging, "dispo=ok")
        with ThreadPoolExecutor(max_workers=2) as pool:
            frontier_fut = pool.submit(self.frontier.append, frontier_append)
            blob_fut = pool.submit(build_shard_blobs,
                                   staged.select("url_hash", "attempt"),
                                   self.bloom.n_shards, self.bloom.m_bits)
            if os.path.isdir(ok_dir):
                self.documents.append_dir(ok_dir)
            self.resolved.append_dir(
                [p for d in ("ok", "dead", "retry")
                 if os.path.isdir(p := os.path.join(staging, f"dispo={d}"))])
            frontier_fut.result()
            blobs = blob_fut.result()

        if self.archive_dir is not None and os.path.isdir(ok_dir):
            self._archive_round(r, ok_rows)
        return int(obs_frontier.get["n_new"]), blobs

    def _commit(self, r: int, counts: dict, n_new: int,
                blobs: list | None) -> dict:
        """Phase 4: fold the round into the live bloom and the exact
        counters, then append the lineage row — the round's commit
        marker. ``init`` commits round -1 through it with no work.
        Returns the round's stats."""
        if blobs is not None:
            # absorb after the resolved append: a regrow rebuild reads
            # the resolved table, which must already include this round
            self.bloom.absorb_blobs(blobs)
            if self.bloom.needs_regrow():
                self._rebuild_bloom(capacity=self.bloom.capacity * 4)
            else:
                self._broadcast_bloom()
        scheduled, n_ok = counts["n"], counts["n_ok"]
        n_err = scheduled - n_ok
        self._seen_xor ^= int(counts["ok_xor"])
        self._seen_n += n_ok
        self._resolved_n += scheduled
        # compaction bookkeeping: each scheduled fetch resolves exactly
        # one frontier (url_sha, attempt) slot; the frontier gained the
        # new candidates plus one bumped-attempt row per retry
        n_retry = n_err - int(counts["n_dead"])
        self._resolved_in_frontier += scheduled
        self._frontier_rows += n_new + n_retry
        # the lineage row: the round's commit marker (driver-side, no job)
        commit_lineage(
            self.lineage, self._pins, round=r, scheduled=scheduled,
            fetched_ok=n_ok, errors=n_err, new_urls=n_new,
            bloom_digest=self._state_digest(),
            committed_at=_dt.datetime.now(_dt.timezone.utc).isoformat())
        self.next_round = r + 1
        return {"round": r, "scheduled": scheduled, "ok": n_ok,
                "errors": n_err, "new_urls": n_new}

    def compact_frontier(self) -> int:
        """Rewrite the frontier to pending-only rows (resolved slots
        dropped); returns the pending-row count. The frontier is
        append-only for cheap atomic rounds; on long crawls resolved
        rows accumulate and every selection anti-join rescans them —
        compaction keeps the scan proportional to actual pending work.
        Atomic: readers see either the old or the compacted snapshot,
        and a crash before the next lineage commit resumes against the
        still-present pre-compaction snapshot (rollback re-pins the
        manifest pointer; old snapshot dirs are never deleted).

        Called automatically by run_round via _maybe_compact when the
        resolved rows sitting in the frontier pass compact_ratio x
        pending (and the compact_min_resolved floor); callable
        explicitly for scheduled maintenance.

        Rediscovery nuance: after compaction the candidate first-wins
        anti-join no longer sees resolved URLs, so a re-discovered one
        may re-enter the frontier — harmless, because selection's
        (url_sha, attempt) anti-join vs resolved still blocks it from
        ever being scheduled (verified in tests); it is swept by the
        next compaction.
        """
        obs = Observation()
        pend = (
            frontier_ops.unresolved(self.frontier.read(), self.resolved.read())
            .observe(obs, F.count(F.lit(1)).alias("n"))
        )
        self.frontier.overwrite(pend)
        n = int(obs.get["n"])
        self._frontier_rows = n
        self._resolved_in_frontier = 0
        self.compactions += 1
        return n

    def _maybe_compact(self) -> None:
        """Ratio-triggered compaction (:meth:`_select` entry hook). The
        counters are exact deltas maintained per round (no extra jobs):
        rediscovered-resolved rows re-entering post-compaction are the
        only drift — counted pending though unschedulable — which only
        delays the next compaction, never corrupts the crawl."""
        if not self.compact_ratio:
            return
        pending = max(1, self._frontier_rows - self._resolved_in_frontier)
        if (self._resolved_in_frontier >= self.compact_min_resolved
                and self._resolved_in_frontier >= self.compact_ratio * pending):
            self.compact_frontier()

    def _seen_digest(self) -> str:
        """Order-insensitive digest of url_seen for lineage audit,
        maintained incrementally (xor of url_hash + count) so no
        full-table rescan per round; resume() rebuilds it once."""
        return hashlib.sha256(
            f"{self._seen_xor}|{self._seen_n}".encode()).hexdigest()[:16]

    def _state_digest(self) -> str:
        """Lineage audit digest: seen digest + bloom shard digest."""
        return f"{self._seen_digest()}:{self.bloom.digest()}"

    def _rebuild_seen_digest(self) -> None:
        row = self.resolved.read().agg(
            F.coalesce(
                F.expr("bit_xor(case when disposition = 'ok' then url_hash end)"),
                F.lit(0)).alias("s"),
            F.count(F.when(F.col("disposition") == "ok", 1)).alias("n_ok"),
            F.count("*").alias("n"),
        ).collect()[0]
        self._seen_xor, self._seen_n = int(row["s"]), int(row["n_ok"])
        self._resolved_n = int(row["n"])

    def run(self, n_rounds: int) -> list[dict]:
        return [self.run_round() for _ in range(n_rounds)]
