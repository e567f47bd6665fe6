"""The benchmark's workloads: each is a closed loop of operations.

One driver thread sends one operation at a time (a crawl round, a
query, an ingest batch) and sends the next when it returns. A workload
has three phases: ``setup`` (state seeding, repeated to take a median,
then warm-up), ``measure`` (the timed operations) and ``check`` (output
checks, outside the timed window).
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import random
import shutil
import statistics
import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from perfbench import datagen, hostfit

SETUP_REPS = 3


@dataclass
class Op:
    kind: str            # "round", "query", "ingest"
    name: str            # round number, query name or batch kind
    wall_s: float
    items: int           # URLs scheduled, queries run or documents
    cpu_s: float = 0.0   # CPU time of driver, JVM and Python workers
    error: str | None = None


@dataclass
class Check:
    name: str
    ok: bool
    detail: str = ""
    covers: list[int] = field(default_factory=list)   # op indexes


class Workload:
    name = ""
    parse_html = False   # does the fetch UDF run html_to_spans

    def __init__(self, spark, work_dir: str, seed: int):
        self.spark = spark
        self.work_dir = work_dir
        self.seed = seed
        self.ops: list[Op] = []
        self.setup_parts: dict[str, dict[str, float]] = {}
        self.tracer = None   # set by the traced run after setup

    def span(self, name: str):
        return (self.tracer.span(name) if self.tracer is not None
                else contextlib.nullcontext())

    def _setup_step(self, part: str, fn, reps: int = 1) -> None:
        """Run a set-up step ``reps`` times and record the median wall
        and CPU time (driver, JVM and Python workers) under ``part``.
        State seeding repeats on fresh directories; the last one is the
        one the run uses."""
        walls, cpus = [], []
        for i in range(reps):
            c0, t0 = hostfit.tree_cpu_s(), time.perf_counter()
            fn(i)
            walls.append(time.perf_counter() - t0)
            cpus.append(hostfit.tree_cpu_s() - c0)
        self.setup_parts[part] = {"wall_s": statistics.median(walls),
                                  "cpu_s": statistics.median(cpus)}

    def setup(self) -> None:
        raise NotImplementedError

    def measure(self, seconds: float) -> None:
        raise NotImplementedError

    def check(self) -> list[Check]:
        raise NotImplementedError

    def _op(self, kind: str, name: str, fn) -> Op:
        c0, t0 = hostfit.tree_cpu_s(), time.perf_counter()
        try:
            op = Op(kind, name, 0.0, fn())
        except Exception as exc:  # noqa: BLE001 - counted in failed ops
            op = Op(kind, name, 0.0, 0,
                    error=f"{type(exc).__name__}: {str(exc)[:300]}")
        op.wall_s = time.perf_counter() - t0
        op.cpu_s = hostfit.tree_cpu_s() - c0
        self.ops.append(op)
        return op

    def end_to_end(self) -> dict[str, tuple[float, str]]:
        """Workload-specific end-to-end metrics: name -> (value, unit)."""
        raise NotImplementedError


# ---------------------------------------------------------------------------
# crawl workloads
# ---------------------------------------------------------------------------

class _Crawl(Workload):
    warm_rounds = 1
    nominal_round_s = 5.0   # sizes the timed window in whole rounds

    def _cfg(self):
        raise NotImplementedError

    def _seeds(self, cfg):
        raise NotImplementedError

    def _engine_kwargs(self) -> dict:
        return {}

    def setup(self) -> None:
        from news_crawler_spark.crawl import CrawlEngine, SyntheticFetcher
        from news_crawler_spark.fixtures import host_rows
        from news_crawler_spark.schemas import HOSTS

        self.cfg = self._cfg()
        hosts = self.spark.createDataFrame(host_rows(self.cfg), HOSTS)
        self.budget = {h["host"]: h["budget"] for h in host_rows(self.cfg)}
        fetcher = SyntheticFetcher(self.cfg, parse_html=self.parse_html)

        def seed_state(i: int) -> None:
            state = os.path.join(self.work_dir, f"crawl-{i}")
            self.engine = CrawlEngine(self.spark, state, hosts, fetcher,
                                      seed=self.cfg.seed,
                                      **self._engine_kwargs())
            self.engine.init(self._seeds(self.cfg))
            self.state_dir = state

        self._setup_step("state", seed_state, SETUP_REPS)
        # warm-up: the first rounds of the measured crawl (JIT, codegen,
        # Python workers); their output is checked with the timed rounds
        self.warm = []
        self._setup_step("warm", lambda _: self.warm.extend(
            self.engine.run_round() for _ in range(self.warm_rounds)))

    def _round(self) -> int:
        stats_ = self.engine.run_round()
        self.rounds.append(stats_)
        return stats_["scheduled"]

    def timed_rounds(self, seconds: float) -> int:
        """The window is a whole number of rounds, not a clock time, so
        every run on every host times the same rounds."""
        return max(2, round(seconds / self.nominal_round_s))

    def measure(self, seconds: float) -> None:
        self.rounds: list[dict] = []
        for _ in range(self.timed_rounds(seconds)):
            op = self._op("round", str(self.engine.next_round), self._round)
            if op.error:
                break

    def end_to_end(self) -> dict[str, tuple[float, str]]:
        ok = [o for o in self.ops if o.error is None]
        urls = sum(o.items for o in ok)
        return {
            "round_s_p50": (statistics.median([o.wall_s for o in ok]), "s"),
            "crawl_urls_per_s": (urls / sum(o.wall_s for o in ok), "1/s"),
            "cpu_ms_per_url": (1000 * sum(o.cpu_s for o in ok) / urls, "ms"),
        }

    def all_rounds(self) -> list[dict]:
        return [*self.warm, *self.rounds]

    def _common_checks(self) -> list[Check]:
        """Per host and round at most ``budget`` URLs with seq 1..k;
        no scheduling slot resolved twice; resolved rows = scheduled;
        documents rows = ok fetches."""
        rounds = self.all_rounds()
        scheduled = sum(r["scheduled"] for r in rounds)
        n_ok = sum(r["ok"] for r in rounds)
        eng = self.engine
        res = eng.resolved.read()
        per_host = (res.groupBy("round", "host")
                    .agg(F.count("*").alias("n"), F.min("seq").alias("lo"),
                         F.max("seq").alias("hi"),
                         F.countDistinct("seq").alias("k"))
                    .collect())
        bad = [r for r in per_host
               if not (r.lo == 1 and r.hi == r.n == r.k
                       and r.n <= self.budget.get(r.host, 0))]
        dup_slots = (res.groupBy("url_sha", "attempt").count()
                     .filter(F.col("count") > 1).count())
        n_res, n_docs = res.count(), eng.documents.read().count()
        covers = list(range(len(self.ops)))
        return [
            Check("budget_and_seq", not bad,
                  f"{len(bad)} bad (round, host) groups", covers),
            Check("slot_resolved_once", dup_slots == 0,
                  f"{dup_slots} slots resolved twice", covers),
            Check("resolved_rows", n_res == scheduled,
                  f"{n_res} resolved vs {scheduled} scheduled", covers),
            Check("documents_rows", n_docs == n_ok,
                  f"{n_docs} documents vs {n_ok} ok", covers),
        ]


def universe_seeds(spark, n_hosts: int, pages_per_host: int):
    """Every page of the synthetic web as a frontier seed, with a
    hash-spread priority (the mid-crawl steady state)."""
    return spark.range(n_hosts * pages_per_host).select(
        F.format_string("http://h%04d.test/p%d",
                        (F.col("id") % n_hosts).cast("int"),
                        (F.col("id") / n_hosts).cast("int")).alias("url"),
        (F.pmod(F.col("id") * F.lit(2654435761), F.lit(100000))
         .cast("double") / F.lit(100000.0)).alias("priority"))


class CrawlSteady(_Crawl):
    """Mid-crawl steady state: the frontier holds the whole page
    universe, rounds run at full politeness budget and pages are real
    HTML parsed by the production ``html_to_spans``."""

    name = "crawl_steady"
    parse_html = True
    n_hosts, pages_per_host = 200, 400
    budgets = (20, 30, 25, 35)
    doc_sample = 64

    def _cfg(self):
        from news_crawler_spark.fixtures import SiteConfig

        return SiteConfig(seed=self.seed, n_hosts=self.n_hosts,
                          base_pages=self.pages_per_host, hot_factor=1,
                          budgets=self.budgets, richness=2)

    def _seeds(self, cfg):
        return universe_seeds(self.spark, self.n_hosts, self.pages_per_host)

    def check(self) -> list[Check]:
        from news_crawler_spark.fixtures.sitegen import synth_page

        checks = self._common_checks()
        docs = self.engine.documents.read()
        urls = sorted(r.doc_id for r in docs.select("doc_id").collect())
        sample = random.Random(self.seed).sample(
            urls, min(self.doc_sample, len(urls)))
        got = {r.doc_id: [(s.kind, s.text, s.media_ref, s.offset)
                          for s in r.spans]
               for r in docs.filter(F.col("doc_id").isin(sample)).collect()}
        bad = [u for u in sample
               if got.get(u) != [tuple(s) for s in synth_page(self.cfg, u)["spans"]]]
        checks.append(Check("span_sequences", not bad,
                            f"{len(bad)}/{len(sample)} sampled documents differ",
                            list(range(len(self.ops)))))
        return checks


class CrawlDiscovery(_Crawl):
    """A crawl from the oracle's seed list (page 0 of every host) with
    cheap synthetic pages, the bloom probe forced on, and a frontier
    that grows several-fold per round."""

    name = "crawl_discovery"
    n_hosts, pages_per_host = 300, 2000
    budgets = (100, 150, 125, 175)
    out_links = 16

    def _cfg(self):
        from news_crawler_spark.fixtures import SiteConfig

        return SiteConfig(seed=self.seed, n_hosts=self.n_hosts,
                          base_pages=self.pages_per_host, hot_factor=4,
                          n_seeds=self.n_hosts, out_links=self.out_links,
                          budgets=self.budgets)

    def _seeds(self, cfg):
        from news_crawler_spark.fixtures import seed_rows

        return self.spark.createDataFrame(seed_rows(cfg),
                                          "url string, priority double")

    def _engine_kwargs(self) -> dict:
        return {"bloom_min_resolved": 0}

    def check(self) -> list[Check]:
        from news_crawler_spark.fixtures import CrawlOracle

        checks = self._common_checks()
        n = len(self.all_rounds())
        oracle = CrawlOracle(self.cfg).run(n)
        eng = self.engine
        log = sorted(tuple(r) for r in eng.crawl_log_df().collect())
        seen = {r.url: r.seen_round for r in eng.url_seen_df().collect()}
        dead = {r.url: r.seen_round for r in eng.dead_df().collect()}
        covers = list(range(len(self.ops)))
        checks += [
            Check("oracle_crawl_log", log == sorted(oracle.crawl_log),
                  f"{len(log)} rows vs oracle {len(oracle.crawl_log)}", covers),
            Check("oracle_url_seen", seen == oracle.url_seen,
                  f"{len(seen)} vs oracle {len(oracle.url_seen)}", covers),
            Check("oracle_dead", dead == oracle.dead,
                  f"{len(dead)} vs oracle {len(oracle.dead)}", covers),
        ]
        return checks


# ---------------------------------------------------------------------------
# analytics: the query subset and DedupState ingest
# ---------------------------------------------------------------------------

def force(df) -> None:
    """Execute every column through the noop sink (nothing pruned)."""
    df.write.format("noop").mode("overwrite").save()


def _canon(col, dtype):
    """Canonical string of a column: floats at 6 significant digits,
    recursively through arrays and structs."""
    from pyspark.sql import types as T

    if isinstance(dtype, (T.DoubleType, T.FloatType)):
        return F.format_string("%.6g", col.cast("double"))
    if isinstance(dtype, T.ArrayType):
        return F.transform(col, lambda x: _canon(x, dtype.elementType))
    if isinstance(dtype, T.StructType):
        return F.struct(*[_canon(col.getField(f.name), f.dataType).alias(f.name)
                          for f in dtype.fields])
    if isinstance(dtype, T.MapType):
        return F.to_json(col)
    return col


def digest(df) -> str:
    """Order-insensitive, float-rounded digest of a DataFrame: row
    count plus xor and sum of per-row hashes of the canonical row."""
    row = F.to_json(F.struct(*[_canon(F.col(f"`{f.name}`"), f.dataType)
                               .alias(f.name) for f in df.schema.fields]))
    h = F.xxhash64(row)
    agg = df.select(h.alias("h")).agg(
        F.count("*").alias("n"),
        F.coalesce(F.expr("bit_xor(h)"), F.lit(0)).alias("x"),
        F.coalesce(F.sum(F.col("h").bitwiseAND(F.lit(0xFFFFFFFF))),
                   F.lit(0)).alias("s")).collect()[0]
    return hashlib.sha256(f"{agg.n}|{agg.x}|{agg.s}".encode()).hexdigest()[:16]


DIGESTS_FILE = os.path.join(os.path.dirname(__file__), "query_digests.json")


class Analytics(Workload):
    """The plan-budget query subset over sf0.1 tables plus DedupState
    ingest batches (fresh / recrawl / mixed) against accumulating
    state, interleaved in a seed-shuffled order."""

    name = "analytics"
    sf = 0.1
    queries = ("pagerank_authority", "trustrank_scores", "dup_clusters",
               "dsir_importance", "bpe_merges")
    batch_docs = 2000
    pool_batches = 40
    mutate_marker = " trailing recrawl delta token"

    def setup(self) -> None:
        import numpy as np

        import __spark_entry__ as entry_mod
        from news_crawler_spark.ingest import DedupState

        self.registry = entry_mod.queries()
        self.data_dir = os.path.join(self.work_dir, f"sf{self.sf}")

        def gen(i: int) -> None:
            shutil.rmtree(self.data_dir, ignore_errors=True)
            datagen.write(self.sf, self.data_dir)

        self._setup_step("state", gen, SETUP_REPS)
        self.rng = random.Random(self.seed)
        pool = datagen.documents(np.random.default_rng(self.seed),
                                 self.pool_batches * self.batch_docs)
        self.pool_df = self.spark.createDataFrame(
            pool.select(["doc_id", "text"]).to_pandas())
        self.dedup = DedupState(self.spark, os.path.join(self.work_dir, "dedup"))
        self.n_fresh = 0
        self.counts: dict[str, tuple] = {}      # batch id -> verdict counts
        self.unmutated: dict[str, list[int]] = {}
        # warm-up doubles as the digest check: each query once, cold,
        # then one fresh / recrawl / mixed sequence
        self.digests = {}

        def warm(_):
            self.digests = {q: digest(self.registry[q](self.spark, self.data_dir))
                            for q in self.queries}
            self._ingest_sequence(timed=False)

        self._setup_step("warm", warm)

    def _ingest(self, batch, batch_id: str) -> int:
        self.dedup.ingest(batch, batch_id)
        row = (self.dedup.lineage.read()
               .filter(F.col("batch_id") == batch_id).collect()[0])
        self.counts[batch_id] = (int(row.n_docs), int(row.n_exact),
                                 int(row.n_near), int(row.n_new))
        return int(row.n_docs)

    def _ingest_sequence(self, timed: bool) -> None:
        """A fresh batch of unseen documents, the same documents again
        under new ids (recrawl), then a mix in which a seed-chosen half
        carries an appended token."""
        k, b = self.n_fresh, self.batch_docs
        self.n_fresh += 1
        if self.n_fresh > self.pool_batches:
            raise RuntimeError("document pool exhausted")
        off = 10_000_000 * (k + 1)
        fresh = self.pool_df.filter(
            (F.col("doc_id") >= k * b) & (F.col("doc_id") < (k + 1) * b))
        recrawl = fresh.select((F.col("doc_id") + off).alias("doc_id"), "text")
        mutated = sorted(self.rng.sample(range(k * b, (k + 1) * b), b // 2))
        mixed = fresh.select(
            (F.col("doc_id") + off + 5_000_000).alias("doc_id"),
            F.when(F.col("doc_id").isin(mutated),
                   F.concat("text", F.lit(self.mutate_marker)))
            .otherwise(F.col("text")).alias("text"))
        kept = set(range(k * b, (k + 1) * b)) - set(mutated)
        self.unmutated[f"mixed-{k}"] = [i + off + 5_000_000 for i in sorted(kept)]
        self.last_mixed = (mixed, f"mixed-{k}")
        for kind, batch in (("fresh", fresh), ("recrawl", recrawl),
                            ("mixed", mixed)):
            bid = f"{kind}-{k}"
            if timed:
                self._op("ingest", kind,
                         lambda b_=batch, i=bid: self._ingest(b_, i))
            else:
                self._ingest(batch, bid)

    def _query(self, name: str) -> int:
        with self.span(f"query.{name}"):
            with self.span("build"):
                df = self.registry[name](self.spark, self.data_dir)
            with self.span("force"):
                force(df)
        return 1

    def measure(self, seconds: float) -> None:
        t0 = time.perf_counter()
        while True:
            order = [*self.queries, "ingest"]
            self.rng.shuffle(order)
            for step in order:
                if step == "ingest":
                    self._ingest_sequence(timed=True)
                else:
                    self._op("query", step, lambda q=step: self._query(q))
            if time.perf_counter() - t0 >= seconds:
                break

    def end_to_end(self) -> dict[str, tuple[float, str]]:
        ok = [o for o in self.ops if o.error is None]
        q = [o for o in ok if o.kind == "query"]
        per_query = [statistics.median([o.wall_s for o in q if o.name == n])
                     for n in self.queries if any(o.name == n for o in q)]
        out = {
            "suite_s": (sum(per_query), "s"),
            "query_s_p50": (statistics.median([o.wall_s for o in q]), "s"),
        }
        for kind in ("fresh", "recrawl", "mixed"):
            ing = [o for o in ok if o.kind == "ingest" and o.name == kind]
            out[f"ingest_{kind}_docs_per_s"] = (
                sum(o.items for o in ing) / sum(o.wall_s for o in ing), "1/s")
        return out

    def check(self) -> list[Check]:
        with open(DIGESTS_FILE, encoding="utf-8") as f:
            want = json.load(f)
        by_name: dict[str, list[int]] = {}
        for i, o in enumerate(self.ops):
            by_name.setdefault(o.name, []).append(i)
        checks = [Check(f"digest:{q}", self.digests[q] == want.get(q),
                        f"{self.digests[q]} vs {want.get(q)}",
                        by_name.get(q, []))
                  for q in self.queries]
        b = self.batch_docs
        rec = {k: v for k, v in self.counts.items() if k.startswith("recrawl")}
        checks.append(Check("recrawl_all_exact",
                            all(c == (b, b, 0, 0) for c in rec.values()),
                            str(rec), by_name.get("recrawl", [])))
        verdicts = self.dedup.verdicts.read()
        bad = 0
        for bid, ids in self.unmutated.items():
            bad += (verdicts.filter((F.col("batch_id") == bid)
                                    & F.col("doc_id").isin(ids)
                                    & (F.col("verdict") != "exact_dup"))
                    .count())
        checks.append(Check("mixed_unmutated_exact", bad == 0,
                            f"{bad} unmutated documents not exact",
                            by_name.get("mixed", [])))
        # re-ingesting a committed batch id returns its committed
        # verdicts: the counts must repeat exactly
        mixed, bid = self.last_mixed
        again = self.dedup.ingest(mixed, bid).groupBy("verdict").count().collect()
        got = {r.verdict: r["count"] for r in again}
        _, ex, near, new = self.counts[bid]
        checks.append(Check(
            "verdict_counts_repeat",
            got == {k: v for k, v in (("exact_dup", ex), ("near_dup", near),
                                      ("new", new)) if v},
            f"{got} vs {self.counts[bid]}", by_name.get("mixed", [])))
        return checks


WORKLOADS = {w.name: w for w in (CrawlSteady, CrawlDiscovery, Analytics)}
