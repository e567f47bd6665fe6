"""Per-layer metrics of the traced run.

:func:`install` wraps the program's public functions where their
callers look them up; :func:`layer_metrics` joins the recorded spans
with the reduced Spark event log. Every per-layer metric is reported
on every workload; a layer the workload does not exercise reads 0.
"""

from __future__ import annotations

import os
import statistics
import time

from perfbench import eventlog
from perfbench.trace import Span, Tracer, self_time, union_length

INGEST_KINDS = ("fresh", "recrawl", "mixed")

ROUND = "CrawlEngine.run_round"
BUILD = "build_shard_blobs"
ABSORB = "BloomShards.absorb_blobs"
PROBE = "split_by_bloom"
INGEST = "DedupState.ingest"
APPENDS = ("SnapshotTable.append", "SnapshotTable.append_dir",
           "SnapshotTable.append_rows", "SnapshotTable.overwrite")


def install(tracer: Tracer) -> None:
    """Wrap each name where its caller looks it up: methods on their
    classes, module functions in the module that imported them."""
    from news_crawler_spark.crawl import bloom, engine
    from news_crawler_spark.ingest import DedupState
    from news_crawler_spark.tables.snapshot import SnapshotTable

    table = lambda args: {"table": args[0].name}  # noqa: E731
    tracer.wrap(engine.CrawlEngine, "run_round", ROUND)
    for method in ("append", "append_dir", "append_rows", "overwrite"):
        tracer.wrap(SnapshotTable, method, f"SnapshotTable.{method}", table)
    tracer.wrap(engine, "build_shard_blobs", BUILD)
    tracer.wrap(engine, "split_by_bloom", PROBE)
    tracer.wrap(bloom.BloomShards, "absorb_blobs", ABSORB)
    tracer.wrap(DedupState, "ingest", INGEST,
                lambda args: {"batch": args[2] if len(args) > 2 else ""})


def _groups(tracer: Tracer, span: Span) -> set[str]:
    return {s.id for s in tracer.subtree(span)}


def _idle(task_s: float, wall_s: float, cores: int) -> float:
    return 1.0 - task_s / max(1e-9, wall_s * cores)


def _driver_s(log, groups: set[str], span: Span) -> float:
    return span.duration - union_length(
        eventlog.job_intervals(log, groups), span.start, span.end)


def _med(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def htmlspans_pages_per_s(seed: int, seconds: float = 1.0) -> float:
    """Single-process parse loop over the crawl's synthetic HTML,
    outside Spark."""
    from news_crawler_spark.fixtures.sitegen import SiteConfig, synth_html
    from news_crawler_spark.functions.htmlspans import html_to_spans

    cfg = SiteConfig(seed=seed, n_hosts=200, base_pages=400, richness=2)
    pages = [synth_html(cfg, cfg.page_url(i % 200, i // 200))[1]
             for i in range(2000)]
    n, t0 = 0, time.perf_counter()
    while time.perf_counter() - t0 < seconds:
        for html in pages:
            html_to_spans(html)
        n += len(pages)
    return n / (time.perf_counter() - t0)


def _dir_stats(root: str) -> tuple[int, int]:
    files = size = 0
    for dirpath, _, names in os.walk(root):
        for n in names:
            files += n.endswith(".parquet")
            size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


def crawl_layers(tracer, log, wl, cores: int) -> dict[str, float]:
    rounds = tracer.named(ROUND)
    per = {k: [] for k in ("select_task_s", "select_shuffle_bytes",
                           "select_shuffle_records", "udf_task_s",
                           "udf_pages_per_core_s", "jobs", "driver_s",
                           "idle", "self_s", "cover_err")}
    probed = 0
    for sp, r in zip(rounds, wl.rounds):
        groups = _groups(tracer, sp)
        stages = log.stages_of(groups)
        udf = [s for s in stages if "MapInPandas" in s.scopes]
        execs = {s.execution_id for s in udf}
        select = [s for s in stages if s.execution_id in execs
                  and "MapInPandas" not in s.scopes]
        sel, fetch = eventlog.totals(select), eventlog.totals(udf)
        per["select_task_s"].append(sel["task_s"])
        per["select_shuffle_bytes"].append(sel["shuffle_write_bytes"])
        per["select_shuffle_records"].append(sel["shuffle_write_records"])
        per["udf_task_s"].append(fetch["task_s"])
        per["udf_pages_per_core_s"].append(
            r["scheduled"] / max(1e-9, fetch["task_s"]))
        per["jobs"].append(len(log.jobs_of(groups)))
        per["driver_s"].append(_driver_s(log, groups, sp))
        per["idle"].append(_idle(eventlog.totals(stages)["task_s"],
                                 sp.duration, cores))
        kids = tracer.children(sp)
        own = self_time(sp, kids)
        per["self_s"].append(own)
        covered = union_length([(c.start, c.end) for c in kids],
                               sp.start, sp.end)
        per["cover_err"].append(abs(own + covered - sp.duration))
        probed += any(s.name == PROBE for s in tracer.subtree(sp))
    in_rounds = [s for sp in rounds for s in tracer.subtree(sp)]
    n = max(1, len(rounds))

    def span_s(name, table=None):
        return sum(s.duration for s in in_rounds if s.name == name
                   and (table is None or s.attrs.get("table") == table)) / n

    files, _ = _dir_stats(os.path.join(wl.state_dir, "frontier"))
    _, state_bytes = _dir_stats(wl.state_dir)
    return {
        "crawl.frontier.select_task_s": _med(per["select_task_s"]),
        "crawl.frontier.select_shuffle_bytes": _med(per["select_shuffle_bytes"]),
        "crawl.frontier.select_shuffle_records": _med(per["select_shuffle_records"]),
        "crawl.fetch.udf_task_s": _med(per["udf_task_s"]),
        "crawl.fetch.udf_pages_per_core_s": _med(per["udf_pages_per_core_s"]),
        "crawl.engine.jobs_per_round": _med(per["jobs"]),
        "crawl.engine.driver_s_per_round": _med(per["driver_s"]),
        "crawl.engine.core_idle_frac": _med(per["idle"]),
        "crawl.engine.round_self_s": _med(per["self_s"]),
        "crawl.engine.round_cover_err_s": max(per["cover_err"] or [0.0]),
        "crawl.bloom.build_s": span_s(BUILD),
        "crawl.bloom.absorb_s": span_s(ABSORB),
        "crawl.bloom.rounds_probed": probed,
        "tables.snapshot.frontier_append_s": span_s("SnapshotTable.append",
                                                    "frontier"),
        "tables.snapshot.append_dir_s": span_s("SnapshotTable.append_dir"),
        "tables.snapshot.append_rows_s": span_s("SnapshotTable.append_rows"),
        "tables.snapshot.frontier_files": files,
        "tables.snapshot.state_bytes": state_bytes,
    }


def analytics_layers(tracer, log, wl, cores: int) -> dict[str, float]:
    out: dict[str, float] = {}
    queries = [s for s in tracer.spans if s.name.startswith("query.")]
    groups = {s.id for q in queries for s in tracer.subtree(q)}
    t = eventlog.group_totals(log, groups)
    wall = sum(q.duration for q in queries)
    out.update({
        "operators.jobs": t["jobs"], "operators.stages": t["stages"],
        "operators.shuffle_bytes": t["shuffle_write_bytes"],
        "operators.spill_bytes": t["spill_bytes"],
        "operators.task_cpu_s": t["cpu_s"],
        "operators.driver_s": sum(_driver_s(log, _groups(tracer, q), q)
                                  for q in queries),
        "operators.core_idle_frac": _idle(t["task_s"], wall, cores)
        if queries else 0.0,
    })
    for name in wl.queries:
        spans = [q for q in queries if q.name == f"query.{name}"]
        per = [eventlog.group_totals(log, _groups(tracer, q)) for q in spans]
        out[f"query.{name}.wall_s"] = _med(q.duration for q in spans)
        out[f"query.{name}.jobs"] = _med(p["jobs"] for p in per)
        out[f"query.{name}.shuffle_bytes"] = _med(
            p["shuffle_write_bytes"] for p in per)
    for kind in INGEST_KINDS:
        spans = [s for s in tracer.named(INGEST)
                 if s.attrs.get("batch", "").startswith(kind)]
        per = [eventlog.group_totals(log, _groups(tracer, s)) for s in spans]
        out[f"ingest.{kind}.jobs"] = _med(p["jobs"] for p in per)
        out[f"ingest.{kind}.task_cpu_s"] = _med(p["cpu_s"] for p in per)
        out[f"ingest.{kind}.shuffle_bytes"] = _med(
            p["shuffle_write_bytes"] for p in per)
        out[f"ingest.{kind}.core_idle_frac"] = _med(
            _idle(p["task_s"], s.duration, cores) for p, s in zip(per, spans))
        out[f"ingest.{kind}.append_s"] = _med(
            sum(c.duration for c in tracer.subtree(s) if c.name in APPENDS)
            for s in spans)
    return out


def unit_of(name: str) -> tuple[str, str]:
    """(unit, better) of a per-layer metric, from its name."""
    leaf = name.rsplit(".", 1)[1]
    if leaf.endswith("per_s") or leaf.endswith("per_core_s"):
        return "1/s", "higher"
    if leaf.endswith("_s") or "_s_p" in leaf:
        return "s", "lower"
    if "_ms_" in leaf:
        return "ms", "lower"
    if leaf.endswith("_mb"):
        return "MB", "lower"
    if leaf.endswith("_bytes"):
        return "bytes", "lower"
    if leaf.endswith("_frac"):
        return "fraction", "lower"
    return "count", "lower"
