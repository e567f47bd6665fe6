#!/usr/bin/env python3
"""Run one benchmark workload, or all of them.

    python3 perfbench/run.py --workload crawl_steady --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1

One workload: prints a detail record (host fingerprint, setup parts,
every operation, every check) and, as the last line, the result
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` turns on Spark's event
log and the span tracer and reports the per-layer metrics instead.

``--workload all`` runs every workload untraced and traced, prints
each end-to-end metric with its unit, the tracing overhead, and writes
the combined report to ``--out`` (default
``.perfbench_work/report.json``). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cpus", type=int, default=None,
                   help="local[N] cores; default: the CPU affinity set")
    p.add_argument("--out", default=None,
                   help="where --workload all writes its report")
    return p.parse_args(argv)


def _session(work: str, cpus: int, trace: bool):
    from news_crawler_spark.session import get_spark
    from perfbench import hostfit

    conf = {
        "spark.driver.memory": f"{hostfit.driver_mem_mb(hostfit.mem_total_bytes())}m",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark("perfbench", cpus=cpus, shuffle_partitions=cpus,
                      extra_conf=conf)
    spark.range(1).count()
    return spark


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def run_one(name: str, seed: int, seconds: float, trace: bool, cpus: int) -> dict:
    from perfbench import hostfit, layers, stats, workloads
    from perfbench.trace import Tracer

    work = os.path.join(WORK_ROOT, f"{name}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, sub))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    cpu0 = hostfit.cpu_times()
    try:
        with hostfit.RssSampler() as rss:
            c0, t0 = hostfit.tree_cpu_s(), time.perf_counter()
            spark = _session(work, cpus, trace)
            session = {"wall_s": time.perf_counter() - t0,
                       "cpu_s": hostfit.tree_cpu_s() - c0}
            wl = workloads.WORKLOADS[name](spark, work, seed)
            try:
                wl.setup()
                tracer = None
                if trace:
                    tracer = Tracer(spark)
                    layers.install(tracer)
                    wl.tracer = tracer
                t1 = time.perf_counter()
                try:
                    wl.measure(seconds)
                finally:
                    if tracer is not None:
                        tracer.unwrap_all()
                t2 = time.perf_counter()
                checks = wl.check()
                phases = {"measure_s": t2 - t1,
                          "check_s": time.perf_counter() - t2}
                parse_rate = (layers.htmlspans_pages_per_s(seed)
                              if trace and wl.parse_html else 0.0)
            finally:
                _stop(spark)
        steal = hostfit.steal_pct(cpu0, hostfit.cpu_times())
        failed_ops = {i for i, o in enumerate(wl.ops) if o.error}
        for c in checks:
            if not c.ok:
                failed_ops |= set(c.covers) or set(range(len(wl.ops)))
        measured = wl.end_to_end() if len(failed_ops) < len(wl.ops) else {}
        setup = {"session": session, **wl.setup_parts}
        e2e = {"setup_s": (sum(p["cpu_s"] for p in setup.values()), "s"),
               "setup_wall_s": (sum(p["wall_s"] for p in setup.values()), "s"),
               **measured}
        walls = [o.wall_s for o in wl.ops if o.error is None]
        tail = stats.tail_percentile(len(walls))
        detail = {
            "workload": name, "seed": seed, "seconds": seconds,
            "trace": int(trace),
            "host": {**hostfit.fingerprint(ROOT, cpus), "steal_pct": steal},
            "setup": setup,
            "phases": phases,
            "ops": [o.__dict__ for o in wl.ops],
            "checks": [c.__dict__ for c in checks],
            "end_to_end": e2e,
            "op_tail": None if tail is None else {
                "n": len(walls), "percentile": tail,
                "s": stats.percentile(walls, tail)},
            "peak_rss_mb": rss.peak_bytes / (1 << 20),
        }
        if trace:
            from perfbench import eventlog

            logs = os.listdir(os.path.join(work, "eventlog"))
            log = eventlog.reduce_log(os.path.join(work, "eventlog", logs[0]))
            if isinstance(wl, workloads.Analytics):
                per = layers.analytics_layers(tracer, log, wl, cpus)
            else:
                per = layers.crawl_layers(tracer, log, wl, cpus)
                per["functions.htmlspans.pages_per_s"] = parse_rate
            per["spark.failed_tasks"] = sum(
                s.failed_tasks for s in log.stages.values())
            per["run.failed_ops_frac"] = len(failed_ops) / max(1, len(wl.ops))
            per["run.peak_rss_mb"] = detail["peak_rss_mb"]
            for k, (v, _) in measured.items():
                per[f"trace.{k}"] = v
            detail["per_layer"] = per
            detail["spans"] = len(tracer.spans)
        return {"detail": detail, "failed": len(failed_ops),
                "attempted": len(wl.ops)}
    finally:
        shutil.rmtree(work, ignore_errors=True)


def gated_metrics(workload: str) -> set[str] | None:
    """The end-to-end metrics BENCHMARK.json gates for a workload it
    lists; None for a workload it does not list (all are reported)."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return None
    with open(path, encoding="utf-8") as f:
        bench = json.load(f)
    if workload not in {w["name"] for w in bench["workloads"]}:
        return None
    return {m["name"] for m in bench["end_to_end"]}


def result_line(res: dict, trace: bool) -> dict:
    from perfbench import layers

    d = res["detail"]
    if trace:
        metrics = {k: {"value": v, "unit": layers.unit_of(k)[0]}
                   for k, v in d["per_layer"].items()}
    else:
        gated = gated_metrics(d["workload"])
        metrics = {k: {"value": v, "unit": u}
                   for k, (v, u) in d["end_to_end"].items()
                   if gated is None or k in gated}
    return {"correct": res["failed"] == 0 and res["attempted"] > 0,
            "attempted": res["attempted"], "failed": res["failed"],
            "metrics": metrics}


def run_all(args) -> int:
    """Every workload untraced then traced, as child processes."""
    from perfbench import workloads

    report = {"seed": args.seed, "seconds": args.seconds, "workloads": {}}
    ok = True
    for name in workloads.WORKLOADS:
        runs = {}
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload",
                   name, "--seed", str(args.seed), "--seconds",
                   str(args.seconds), "--trace", str(trace)]
            if args.cpus is not None:
                cmd += ["--cpus", str(args.cpus)]
            out = subprocess.run(cmd, capture_output=True, text=True,
                                 check=False)
            lines = out.stdout.strip().splitlines()
            if out.returncode != 0 or len(lines) < 2:
                print(f"{name} trace={trace}: exit {out.returncode}\n"
                      f"{out.stderr[-2000:]}", file=sys.stderr)
                return out.returncode or 1
            runs[trace] = {"detail": json.loads(lines[-2]),
                           "result": json.loads(lines[-1])}
            ok &= runs[trace]["result"]["correct"]
        e2e = runs[0]["detail"]["end_to_end"]
        traced = runs[1]["detail"]["end_to_end"]
        overhead = {k: traced[k][0] / e2e[k][0] - 1.0 for k in e2e
                    if not k.startswith("setup")}
        print(f"== {name} (correct={runs[0]['result']['correct']}, "
              f"ops={runs[0]['result']['attempted']})")
        for k, (v, unit) in e2e.items():
            print(f"  {k:26s} {v:12.4f} {unit}")
        print("  tracing overhead: " + ", ".join(
            f"{k} {v:+.1%}" for k, v in overhead.items()))
        report["workloads"][name] = {
            "untraced": runs[0]["detail"], "traced": runs[1]["detail"],
            "tracing_overhead": overhead}
    out_path = args.out or os.path.join(WORK_ROOT, "report.json")
    os.makedirs(os.path.dirname(os.path.abspath(out_path)), exist_ok=True)
    with open(out_path, "w", encoding="utf-8") as f:
        json.dump(report, f, indent=1)
    print(f"report: {out_path}")
    return 0 if ok else 1


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import pyspark  # noqa: F401
        import news_crawler_spark  # noqa: F401
        import __spark_entry__  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the program is not importable here: {exc}",
              file=sys.stderr)
        return 2
    from perfbench import hostfit, workloads

    if args.workload != "all" and args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)} or 'all'", file=sys.stderr)
        return 2
    try:
        cpus = hostfit.fit_cpus(args.cpus, hostfit.affinity())
    except hostfit.HostMisfit as exc:
        print(json.dumps({"invalid": str(exc)}))
        return 3
    if args.workload == "all":
        return run_all(args)
    res = run_one(args.workload, args.seed, args.seconds, bool(args.trace), cpus)
    print(json.dumps(res["detail"], default=str))
    print(json.dumps(result_line(res, bool(args.trace))))
    return 0


if __name__ == "__main__":
    sys.exit(main())
